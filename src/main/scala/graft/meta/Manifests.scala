package graft.meta

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.DatumReader
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import graft.core._

/** Manifest + manifest-list Avro serialization following the Iceberg spec's
  * v2 field names and field-ids (reference `manifest.go:474-539,798,834+`,
  * Avro schemas `internal/avro_schemas.go:1-571`).
  *
  * Column-level stats maps (sizes/counts/bounds) are serialized as the
  * spec's array-of-{key,value}-records encoding (Avro maps require string
  * keys; Iceberg keys by field ID).
  */
final case class DataFile(
    content: Int, // 0=data, 1=position deletes, 2=equality deletes
    filePath: String,
    fileFormat: String,
    partition: Seq[Any], // aligned with the spec's fields; JVM literal reps
    recordCount: Long,
    fileSizeInBytes: Long,
    columnSizes: Map[Int, Long] = Map.empty,
    valueCounts: Map[Int, Long] = Map.empty,
    nullValueCounts: Map[Int, Long] = Map.empty,
    nanValueCounts: Map[Int, Long] = Map.empty,
    lowerBounds: Map[Int, Array[Byte]] = Map.empty,
    upperBounds: Map[Int, Array[Byte]] = Map.empty,
    splitOffsets: Seq[Long] = Nil,
    sortOrderId: Option[Int] = None,
    equalityIds: Seq[Int] = Nil, // field IDs an equality-delete file matches on (content=2)
    // v3 deletion-vector pointer (reference `internal/avro_schemas.go:501-512`,
    // field ids 143/144/145): the Puffin file holds one bitmap per data file
    referencedDataFile: Option[String] = None,
    contentOffset: Option[Long] = None,
    contentSizeInBytes: Option[Long] = None,
    // extension field (optional in Avro, ignored by spec readers): whether
    // every top-level parquet column carries a field ID, stamped at
    // write/addFiles time from the footer already open for stats — so scan
    // planning routes ID-based vs name-mapped reads from manifest metadata
    // alone instead of re-opening one footer per planned file on the driver.
    // None = written before this field existed → caller sniffs.
    hasFieldIds: Option[Boolean] = None,
    // v3 row lineage (field id 142): the _row_id of the file's first row
    firstRowId: Option[Long] = None) {
  def isDeletionVector: Boolean = referencedDataFile.isDefined
}

object ManifestEntryStatus {
  val Existing = 0
  val Added = 1
  val Deleted = 2
}

final case class ManifestEntry(
    status: Int,
    snapshotId: Long,
    sequenceNumber: Option[Long], // None = inherit (added in this commit)
    fileSequenceNumber: Option[Long],
    dataFile: DataFile)

final case class FieldSummary(
    containsNull: Boolean,
    containsNan: Option[Boolean],
    lowerBound: Option[Array[Byte]],
    upperBound: Option[Array[Byte]])

final case class ManifestFile(
    path: String,
    length: Long,
    specId: Int,
    content: Int, // 0=data, 1=deletes
    sequenceNumber: Long,
    minSequenceNumber: Long,
    addedSnapshotId: Long,
    addedFilesCount: Int,
    existingFilesCount: Int,
    deletedFilesCount: Int,
    addedRowsCount: Long,
    existingRowsCount: Long,
    deletedRowsCount: Long,
    partitions: Seq[FieldSummary],
    // v3 row lineage (field id 520): first row ID assigned to this manifest
    firstRowId: Option[Long] = None)

object ManifestIO {
  private def conf = FileIO.conf

  // ------------------------------------------------------------- schemas
  private def avroPrimitive(t: IceType): String = t match {
    case IceBoolean => "\"boolean\""
    case IceInt => "\"int\""
    case IceDate => """{"type":"int","logicalType":"date"}"""
    case IceLong | IceTime => "\"long\""
    case IceTimestamp | IceTimestampTz =>
      """{"type":"long","logicalType":"timestamp-micros","adjust-to-utc":true}"""
    case IceTimestampNs | IceTimestampTzNs =>
      """{"type":"long","logicalType":"timestamp-nanos","adjust-to-utc":true}"""
    case IceFloat => "\"float\""
    case IceDouble => "\"double\""
    case IceString | IceUUID => "\"string\""
    case IceBinary | IceFixed(_) => "\"bytes\""
    case IceDecimal(p, s) =>
      s"""{"type":"bytes","logicalType":"decimal","precision":$p,"scale":$s}"""
    case other => throw new IllegalArgumentException(s"no avro mapping for $other")
  }

  /** r102: the per-spec partition tuple record. */
  private def partitionSchemaJson(partType: IceStructType): String = {
    val fields = partType.fields.map { f =>
      s"""{"name":"${f.name}","type":["null",${avroPrimitive(f.tpe)}],"default":null,"field-id":${f.id}}"""
    }.mkString(",")
    s"""{"type":"record","name":"r102","fields":[$fields]}"""
  }

  private def kvArray(name: String, kId: Int, vId: Int, vType: String): String =
    s"""["null",{"type":"array","items":{"type":"record","name":"$name","fields":[
       {"name":"key","type":"int","field-id":$kId},
       {"name":"value","type":"$vType","field-id":$vId}]},"logicalType":"map"}]"""

  /** manifest_entry schema for a given partition struct, per format version
    * (reference `internal/avro_schemas.go:231-354` `data_file_v{1,2,3}` and
    * `:354-367,517-525` `manifest_entry_v{1,2,3}`): v1 has a required
    * `snapshot_id`, no sequence numbers, no `content`, and the deprecated
    * required `block_size_in_bytes`; v2 adds inheritance-aware sequence
    * numbers and delete-file fields; v3 adds `first_row_id` plus the
    * deletion-vector pointer (143/144/145).
    */
  def entrySchema(partType: IceStructType, formatVersion: Int = 2): Schema = {
    val v = formatVersion
    require(v >= 1 && v <= 3, s"unsupported format version $v")
    val entryHeader =
      if (v == 1) """
      {"name":"status","type":"int","field-id":0},
      {"name":"snapshot_id","type":"long","field-id":1},"""
      else """
      {"name":"status","type":"int","field-id":0},
      {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      {"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      {"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},"""
    val contentField =
      if (v == 1) "" else """{"name":"content","type":"int","field-id":134},"""
    val blockSizeField = // required in v1 (deprecated), absent in v2+
      if (v == 1) """{"name":"block_size_in_bytes","type":"long","field-id":105},"""
      else ""
    val v2PlusFields =
      if (v == 1) ""
      else """,
        {"name":"equality_ids","type":["null",{"type":"array","items":"int","element-id":136}],"default":null,"field-id":135}"""
    val v3Fields =
      if (v < 3) ""
      else """,
        {"name":"first_row_id","type":["null","long"],"default":null,"field-id":142},
        {"name":"referenced_data_file","type":["null","string"],"default":null,"field-id":143},
        {"name":"content_offset","type":["null","long"],"default":null,"field-id":144},
        {"name":"content_size_in_bytes","type":["null","long"],"default":null,"field-id":145}"""
    // v2 carries the DV pointer fields too (written null): our v2 reader
    // predates v3 tables and the fields are optional-with-default for any
    // spec reader, so one serialized shape covers both generations.
    val v2DvFields =
      if (v != 2) ""
      else """,
        {"name":"referenced_data_file","type":["null","string"],"default":null,"field-id":143},
        {"name":"content_offset","type":["null","long"],"default":null,"field-id":144},
        {"name":"content_size_in_bytes","type":["null","long"],"default":null,"field-id":145}"""
    val json = s"""
    {"type":"record","name":"manifest_entry","fields":[$entryHeader
      {"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
        $contentField
        {"name":"file_path","type":"string","field-id":100},
        {"name":"file_format","type":"string","field-id":101},
        {"name":"partition","type":${partitionSchemaJson(partType)},"field-id":102},
        {"name":"record_count","type":"long","field-id":103},
        {"name":"file_size_in_bytes","type":"long","field-id":104},
        $blockSizeField
        {"name":"column_sizes","type":${kvArray("k117_v118", 117, 118, "long")},"default":null,"field-id":108},
        {"name":"value_counts","type":${kvArray("k119_v120", 119, 120, "long")},"default":null,"field-id":109},
        {"name":"null_value_counts","type":${kvArray("k121_v122", 121, 122, "long")},"default":null,"field-id":110},
        {"name":"nan_value_counts","type":${kvArray("k138_v139", 138, 139, "long")},"default":null,"field-id":137},
        {"name":"lower_bounds","type":${kvArray("k126_v127", 126, 127, "bytes")},"default":null,"field-id":125},
        {"name":"upper_bounds","type":${kvArray("k129_v130", 129, 130, "bytes")},"default":null,"field-id":128},
        {"name":"key_metadata","type":["null","bytes"],"default":null,"field-id":131},
        {"name":"split_offsets","type":["null",{"type":"array","items":"long","element-id":133}],"default":null,"field-id":132},
        {"name":"sort_order_id","type":["null","int"],"default":null,"field-id":140}$v2PlusFields$v2DvFields$v3Fields,
        {"name":"graft_has_field_ids","type":["null","boolean"],"default":null,"field-id":1000}
      ]}}
    ]}"""
    new Schema.Parser().parse(json)
  }

  /** manifest_file schema for manifest lists, per format version (reference
    * `internal/avro_schemas.go:115-230,368-433` `manifest_list_file_v{1,2,3}`):
    * v1 has no content/sequence-number fields and nullable counts; v3 adds
    * `first_row_id` (field id 520).
    */
  def manifestListSchema(formatVersion: Int): Schema = {
    val v = formatVersion
    require(v >= 1 && v <= 3, s"unsupported format version $v")
    val v2Header =
      if (v == 1) ""
      else """
      {"name":"content","type":"int","field-id":517},
      {"name":"sequence_number","type":"long","field-id":515},
      {"name":"min_sequence_number","type":"long","field-id":516},"""
    val counts =
      if (v == 1) """
      {"name":"added_files_count","type":["null","int"],"default":null,"field-id":504},
      {"name":"existing_files_count","type":["null","int"],"default":null,"field-id":505},
      {"name":"deleted_files_count","type":["null","int"],"default":null,"field-id":506},"""
      else """
      {"name":"added_files_count","type":"int","field-id":504},
      {"name":"existing_files_count","type":"int","field-id":505},
      {"name":"deleted_files_count","type":"int","field-id":506},"""
    val rows =
      if (v == 1) """
      {"name":"added_rows_count","type":["null","long"],"default":null,"field-id":512},
      {"name":"existing_rows_count","type":["null","long"],"default":null,"field-id":513},
      {"name":"deleted_rows_count","type":["null","long"],"default":null,"field-id":514},"""
      else """
      {"name":"added_rows_count","type":"long","field-id":512},
      {"name":"existing_rows_count","type":"long","field-id":513},
      {"name":"deleted_rows_count","type":"long","field-id":514},"""
    val v3Fields =
      if (v < 3) ""
      else """,
      {"name":"first_row_id","type":["null","long"],"default":null,"field-id":520}"""
    val json = s"""
    {"type":"record","name":"manifest_file","fields":[
      {"name":"manifest_path","type":"string","field-id":500},
      {"name":"manifest_length","type":"long","field-id":501},
      {"name":"partition_spec_id","type":"int","field-id":502},$v2Header
      {"name":"added_snapshot_id","type":"long","field-id":503},$counts$rows
      {"name":"partitions","type":["null",{"type":"array","items":
        {"type":"record","name":"r508","fields":[
          {"name":"contains_null","type":"boolean","field-id":509},
          {"name":"contains_nan","type":["null","boolean"],"default":null,"field-id":518},
          {"name":"lower_bound","type":["null","bytes"],"default":null,"field-id":510},
          {"name":"upper_bound","type":["null","bytes"],"default":null,"field-id":511}
        ]},"element-id":508}],"default":null,"field-id":507}$v3Fields
    ]}"""
    new Schema.Parser().parse(json)
  }

  // ------------------------------------------------------------- helpers
  private def partValueToAvro(t: IceType, v: Any): Any = (t, v) match {
    case (_, null) => null
    case (IceDecimal(_, _), _) => ByteBuffer.wrap(Bounds.encode(t, v))
    case (IceBinary | IceFixed(_), b: Array[Byte]) => ByteBuffer.wrap(b)
    case _ => v
  }

  private def partValueFromAvro(t: IceType, v: Any): Any = (t, v) match {
    case (_, null) => null
    case (IceDecimal(_, _), bb: ByteBuffer) => Bounds.decode(t, bytes(bb))
    case (IceBinary | IceFixed(_), bb: ByteBuffer) => bytes(bb)
    case (IceString | IceUUID, u) => u.toString
    case _ => v
  }

  /** Field lookup across format generations: None when the writer's schema
    * predates the field (GenericData.Record.get throws on unknown names).
    */
  private def getOpt(rec: GenericRecord, name: String): Option[AnyRef] =
    if (rec.getSchema.getField(name) == null) None
    else Option(rec.get(name))

  private def bytes(bb: ByteBuffer): Array[Byte] = {
    val d = bb.duplicate()
    val out = new Array[Byte](d.remaining())
    d.get(out)
    out
  }

  private def kvToAvro(schema: Schema, m: Map[Int, _]): Any =
    if (m.isEmpty) null
    else {
      val arrSchema = schema.getTypes.asScala.find(_.getType == Schema.Type.ARRAY).get
      val itemSchema = arrSchema.getElementType
      val list = new java.util.ArrayList[GenericRecord](m.size)
      m.toSeq.sortBy(_._1).foreach { case (k, v) =>
        val r = new GenericData.Record(itemSchema)
        r.put("key", k)
        r.put("value", v match {
          case b: Array[Byte] => ByteBuffer.wrap(b)
          case other => other
        })
        list.add(r)
      }
      new GenericData.Array(arrSchema, list)
    }

  private def kvFromAvro[T](v: Any)(conv: Any => T): Map[Int, T] = v match {
    case null => Map.empty
    case arr: java.util.Collection[_] =>
      arr.asScala.map { case r: GenericRecord =>
        r.get("key").asInstanceOf[Int] -> conv(r.get("value"))
      }.toMap
    case other => throw new IllegalArgumentException(s"unexpected kv encoding: $other")
  }

  // -------------------------------------------------------------- write
  /** Write a manifest; returns the ManifestFile entry (with field summaries
    * aggregated from the entries' partition tuples) for the manifest list.
    */
  def writeManifest(
      path: String,
      entries: Seq[ManifestEntry],
      spec: PartitionSpec,
      schema: IceSchema,
      formatVersion: Int = 2,
      content: Int = 0): ManifestFile = {
    val partType = spec.partitionType(schema)
    require(formatVersion >= 2 || content == 0,
      "v1 manifests cannot carry delete files")
    val avroSchema = entrySchema(partType, formatVersion)
    val writer = new DataFileWriter(new GenericDatumWriter[GenericRecord](avroSchema))
    writer.setMeta("schema", TableMetadataJson.schemaToJson(schema).toString)
    writer.setMeta("schema-id", schema.schemaId.toString)
    writer.setMeta("partition-spec", TableMetadataJson.specToJson(spec).get("fields").toString)
    writer.setMeta("partition-spec-id", spec.specId.toString)
    writer.setMeta("format-version", formatVersion.toString)
    writer.setMeta("content", if (content == 0) "data" else "deletes")
    val out = FileIO.create(path)
    writer.create(avroSchema, out)
    val dfSchema = avroSchema.getField("data_file").schema()
    val partSchema = dfSchema.getField("partition").schema()
    // emit exactly the fields the version's schema declares
    def putIf(rec: GenericData.Record, name: String, v: => Any): Unit =
      if (rec.getSchema.getField(name) != null) rec.put(name, v)
    entries.foreach { e =>
      val rec = new GenericData.Record(avroSchema)
      rec.put("status", e.status)
      rec.put("snapshot_id", e.snapshotId)
      putIf(rec, "sequence_number", e.sequenceNumber.map(Long.box).orNull)
      putIf(rec, "file_sequence_number", e.fileSequenceNumber.map(Long.box).orNull)
      val df = new GenericData.Record(dfSchema)
      val f = e.dataFile
      putIf(df, "content", f.content)
      // deprecated v1 field: "always write default in v1, do not write in v2"
      // (reference `internal/avro_schemas.go:245-250`)
      putIf(df, "block_size_in_bytes", 64L * 1024 * 1024)
      df.put("file_path", f.filePath)
      df.put("file_format", f.fileFormat)
      val part = new GenericData.Record(partSchema)
      partType.fields.zip(f.partition).foreach { case (pf, v) =>
        part.put(pf.name, partValueToAvro(pf.tpe, v))
      }
      df.put("partition", part)
      df.put("record_count", f.recordCount)
      df.put("file_size_in_bytes", f.fileSizeInBytes)
      df.put("column_sizes", kvToAvro(dfSchema.getField("column_sizes").schema(), f.columnSizes))
      df.put("value_counts", kvToAvro(dfSchema.getField("value_counts").schema(), f.valueCounts))
      df.put("null_value_counts",
        kvToAvro(dfSchema.getField("null_value_counts").schema(), f.nullValueCounts))
      df.put("nan_value_counts",
        kvToAvro(dfSchema.getField("nan_value_counts").schema(), f.nanValueCounts))
      df.put("lower_bounds", kvToAvro(dfSchema.getField("lower_bounds").schema(), f.lowerBounds))
      df.put("upper_bounds", kvToAvro(dfSchema.getField("upper_bounds").schema(), f.upperBounds))
      df.put("split_offsets",
        if (f.splitOffsets.isEmpty) null else f.splitOffsets.map(Long.box).asJava)
      putIf(df, "equality_ids",
        if (f.equalityIds.isEmpty) null else f.equalityIds.map(Int.box).asJava)
      df.put("sort_order_id", f.sortOrderId.map(Int.box).orNull)
      putIf(df, "first_row_id", f.firstRowId.map(Long.box).orNull)
      putIf(df, "referenced_data_file", f.referencedDataFile.orNull)
      putIf(df, "content_offset", f.contentOffset.map(Long.box).orNull)
      putIf(df, "content_size_in_bytes", f.contentSizeInBytes.map(Long.box).orNull)
      df.put("graft_has_field_ids", f.hasFieldIds.map(Boolean.box).orNull)
      rec.put("data_file", df)
      writer.append(rec)
    }
    writer.close()
    val length = out.getPos
    val added = entries.filter(_.status == ManifestEntryStatus.Added)
    val existing = entries.filter(_.status == ManifestEntryStatus.Existing)
    val deleted = entries.filter(_.status == ManifestEntryStatus.Deleted)
    ManifestFile(
      path = path, length = length, specId = spec.specId, content = content,
      sequenceNumber = 0L, minSequenceNumber = 0L, addedSnapshotId = 0L,
      addedFilesCount = added.size, existingFilesCount = existing.size,
      deletedFilesCount = deleted.size,
      addedRowsCount = added.map(_.dataFile.recordCount).sum,
      existingRowsCount = existing.map(_.dataFile.recordCount).sum,
      deletedRowsCount = deleted.map(_.dataFile.recordCount).sum,
      partitions = fieldSummaries(partType, entries.map(_.dataFile.partition)))
  }

  /** Per-partition-field null flags + bounds (reference `manifest.go:65-70`). */
  private def fieldSummaries(partType: IceStructType, tuples: Seq[Seq[Any]]): Seq[FieldSummary] =
    partType.fields.zipWithIndex.map { case (pf, i) =>
      val values = tuples.map(t => if (i < t.size) t(i) else null)
      val nonNull = values.filter(_ != null)
      val hasNaN = nonNull.exists(Bounds.isNaN)
      val comparable = nonNull.filterNot(Bounds.isNaN)
      val lower = comparable.reduceOption((a, b) => if (Bounds.compare(pf.tpe, a, b) <= 0) a else b)
      val upper = comparable.reduceOption((a, b) => if (Bounds.compare(pf.tpe, a, b) >= 0) a else b)
      FieldSummary(
        containsNull = values.exists(_ == null),
        containsNan = Some(hasNaN),
        lowerBound = lower.map(Bounds.encode(pf.tpe, _)),
        upperBound = upper.map(Bounds.encode(pf.tpe, _)))
    }

  def writeManifestList(path: String, manifests: Seq[ManifestFile],
      formatVersion: Int = 2): Unit = {
    val listSchema = manifestListSchema(formatVersion)
    val writer = new DataFileWriter(new GenericDatumWriter[GenericRecord](listSchema))
    writer.setMeta("format-version", formatVersion.toString)
    writer.create(listSchema, FileIO.create(path))
    val partArrayField = listSchema.getField("partitions").schema()
    val partArrSchema = partArrayField.getTypes.asScala.find(_.getType == Schema.Type.ARRAY).get
    val summarySchema = partArrSchema.getElementType
    def putIf(rec: GenericData.Record, name: String, v: => Any): Unit =
      if (rec.getSchema.getField(name) != null) rec.put(name, v)
    manifests.foreach { m =>
      val rec = new GenericData.Record(listSchema)
      rec.put("manifest_path", m.path)
      rec.put("manifest_length", m.length)
      rec.put("partition_spec_id", m.specId)
      putIf(rec, "content", m.content)
      putIf(rec, "sequence_number", m.sequenceNumber)
      putIf(rec, "min_sequence_number", m.minSequenceNumber)
      putIf(rec, "first_row_id", m.firstRowId.map(Long.box).orNull)
      rec.put("added_snapshot_id", m.addedSnapshotId)
      rec.put("added_files_count", m.addedFilesCount)
      rec.put("existing_files_count", m.existingFilesCount)
      rec.put("deleted_files_count", m.deletedFilesCount)
      rec.put("added_rows_count", m.addedRowsCount)
      rec.put("existing_rows_count", m.existingRowsCount)
      rec.put("deleted_rows_count", m.deletedRowsCount)
      if (m.partitions.nonEmpty) {
        val list = new java.util.ArrayList[GenericRecord](m.partitions.size)
        m.partitions.foreach { s =>
          val r = new GenericData.Record(summarySchema)
          r.put("contains_null", s.containsNull)
          r.put("contains_nan", s.containsNan.map(Boolean.box).orNull)
          r.put("lower_bound", s.lowerBound.map(ByteBuffer.wrap).orNull)
          r.put("upper_bound", s.upperBound.map(ByteBuffer.wrap).orNull)
          list.add(r)
        }
        rec.put("partitions", new GenericData.Array(partArrSchema, list))
      }
      writer.append(rec)
    }
    writer.close()
  }

  // --------------------------------------------------------------- read
  private def openReader(path: String): DataFileReader[GenericRecord] = {
    val fs = FileSystem.get(new java.net.URI(path), conf)
    val in = fs.open(new Path(path))
    val len = fs.getFileStatus(new Path(path)).getLen
    // buffer fully: manifests are small and SeekableInput over HDFS streams is fiddly
    val buf = new ByteArrayOutputStream(len.toInt)
    val tmp = new Array[Byte](64 * 1024)
    var n = in.read(tmp)
    while (n > 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
    in.close()
    val reader: DatumReader[GenericRecord] = new GenericDatumReader[GenericRecord]()
    new DataFileReader[GenericRecord](
      new org.apache.avro.file.SeekableByteArrayInput(buf.toByteArray), reader)
  }

  /** Bounded read-through cache for parsed manifests and manifest lists.
    *
    * Manifest files and manifest lists are IMMUTABLE by construction: every
    * commit writes NEW files under fresh UUID names and nothing ever
    * rewrites one in place (the same property the reference relies on),
    * so caching parsed results by path is correctness-free. It matters
    * because `planFiles` re-reads every surviving manifest on every scan
    * and the streaming table source re-plans per micro-batch — without the
    * cache each trigger pays the full Avro decode again.
    *
    * The parse of a manifest additionally depends on the partition TYPE
    * derived from the caller's (specs, schema) — a type promotion on a
    * partition source field changes how tuples decode — so entries are
    * revalidated against the partition type computed from the CURRENT
    * arguments and re-read on mismatch (rare: only schema evolution on a
    * partition source column).
    *
    * Bounding is entry-weighted, not file-counted: one compacted table can
    * hold a 10⁵-entry manifest next to hundreds of tiny ones, so the LRU
    * evicts by total cached entry count. An entry costs about 550 B of
    * heap, so the 1,000,000-entry cap holds about 550 MB: a re-read of a
    * 1,024-manifest × 1,024-entry snapshot left 575 MB retained after GC
    * for ~1.05M cached entries (the 2026-10 ROADMAP re-anchor, table (a)).
    */
  private object ManifestCache {
    private final case class ManifestVal(
        specId: Int, partType: IceStructType, entries: Seq[ManifestEntry]) {
      // per-manifest base weight: a small manifest still costs ~entry-object
      // overhead plus Avro reader scaffolding, so a pure entry count would
      // let 10^6 single-entry manifests stay resident (heap far above the
      // budget's intent). 64 ≈ the entry count at which real payload
      // overtakes fixed overhead.
      def weight: Long = math.max(64L, entries.size.toLong)
    }
    private val MaxEntries = 1000000L
    private val MaxLists = 256
    private var entryBudget = 0L
    // keyed on (path, partitionType), NOT path alone: two callers reading
    // the SAME manifest under different schemas (the orphan walk decodes
    // under each snapshot's own schema; planFiles under the current one)
    // derive different partition types when a partition source column was
    // promoted — evict-on-mismatch made them ping-pong reload the same
    // file. Variants coexist; each is immutable and correct for its type.
    // The spec id is a property of the FILE (written into its metadata), so
    // a tiny side map path→specId lets lookups compute the variant key
    // without re-reading the file.
    private val specIds =
      new java.util.LinkedHashMap[String, Integer](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Integer]): Boolean = size() > 65536
      }
    private val manifests =
      new java.util.LinkedHashMap[(String, IceStructType), ManifestVal](64, 0.75f, true)
    // list cache is entry-budgeted like the manifest cache, not just
    // count-capped: a long-history table's manifest lists are O(snapshots)
    // entries each, so 256 of them near the history tail is O(snapshots²)
    // resident ManifestFile objects — the orphan walk streams every list
    // exactly once and would pin gigabytes behind a pure count cap
    private val MaxListEntries = 262144L
    private var listBudget = 0L
    private def listWeight(v: Seq[ManifestFile]): Long =
      math.max(16L, v.size.toLong)
    private val lists =
      new java.util.LinkedHashMap[String, Seq[ManifestFile]](64, 0.75f, true)

    // Avro IO runs OUTSIDE the lock — planFiles reads manifests from a
    // 32-thread pool and a lock held across file reads would serialize
    // them. Concurrent misses of the same path may both load; identical
    // immutable results, last insert wins, no harm.
    def manifest(path: String, partTypeFor: Int => IceStructType)
        (load: => (Int, IceStructType, Seq[ManifestEntry])): (Int, Seq[ManifestEntry]) = {
      val cached = synchronized {
        val sid = specIds.get(path)
        if (sid == null) None
        else Option(manifests.get((path, partTypeFor(sid.intValue))))
          .map(v => (v.specId, v.entries))
      }
      if (cached.isDefined) hits.incrementAndGet() else misses.incrementAndGet()
      cached.getOrElse {
        val (specId, partType, entries) = load
        val v = ManifestVal(specId, partType, entries)
        val key = (path, partType)
        synchronized {
          specIds.put(path, Integer.valueOf(specId))
          val prev = manifests.put(key, v)
          if (prev != null) entryBudget -= prev.weight
          entryBudget += v.weight
          val it = manifests.entrySet().iterator()
          while (entryBudget > MaxEntries && it.hasNext) {
            val eldest = it.next()
            if (eldest.getKey != key) { // never evict what we just loaded
              entryBudget -= eldest.getValue.weight
              it.remove()
            }
          }
        }
        (specId, entries)
      }
    }

    /** Test-only visibility: current total cached weight. */
    private[meta] def cachedWeight: Long = synchronized(entryBudget)

    /** Hit/miss telemetry: the evidence that repeat planners (the
      * streaming table source re-plans per micro-batch) are actually
      * served from cache rather than re-decoding Avro per trigger.
      */
    val hits = new java.util.concurrent.atomic.AtomicLong(0)
    val misses = new java.util.concurrent.atomic.AtomicLong(0)

    def list(path: String)(load: => Seq[ManifestFile]): Seq[ManifestFile] = {
      val cached = synchronized { Option(lists.get(path)) }
      if (cached.isDefined) hits.incrementAndGet() else misses.incrementAndGet()
      cached.getOrElse {
        val v = load
        synchronized {
          val prev = lists.put(path, v)
          if (prev != null) listBudget -= listWeight(prev)
          listBudget += listWeight(v)
          val it = lists.entrySet().iterator()
          while ((listBudget > MaxListEntries || lists.size() > MaxLists) &&
              it.hasNext) {
            val eldest = it.next()
            if (eldest.getKey != path) { // never evict what we just loaded
              listBudget -= listWeight(eldest.getValue)
              it.remove()
            }
          }
        }
        v
      }
    }
  }

  /** (hits, misses) of the immutable-manifest cache since JVM start —
    * planning telemetry. A steady-state streaming source should show hits
    * growing per trigger and misses growing only with NEW commits.
    */
  def manifestCacheStats: (Long, Long) =
    (ManifestCache.hits.get, ManifestCache.misses.get)

  /** Read manifest entries plus the spec-id and partition type they were
    * written with (from the writer metadata). Served from the immutable-
    * manifest cache when the path was already parsed under the same
    * partition type (see [[ManifestCache]]).
    */
  def readManifest(path: String, specs: Seq[PartitionSpec], schema: IceSchema)
      : (Int, Seq[ManifestEntry]) = {
    def partTypeFor(specId: Int): IceStructType =
      specs.find(_.specId == specId).getOrElse(PartitionSpec.Unpartitioned)
        .partitionType(schema)
    ManifestCache.manifest(path, partTypeFor) {
      val (specId, partType, entries) = readManifestUncached(path, specs, schema)
      (specId, partType, entries)
    }
  }

  private def readManifestUncached(path: String, specs: Seq[PartitionSpec],
      schema: IceSchema): (Int, IceStructType, Seq[ManifestEntry]) = {
    val reader = openReader(path)
    val specId = Option(reader.getMetaString("partition-spec-id")).map(_.toInt).getOrElse(0)
    val spec = specs.find(_.specId == specId).getOrElse(PartitionSpec.Unpartitioned)
    val partType = spec.partitionType(schema)
    val entries = Seq.newBuilder[ManifestEntry]
    while (reader.hasNext) {
      val rec = reader.next()
      val df = rec.get("data_file").asInstanceOf[GenericRecord]
      val part = df.get("partition").asInstanceOf[GenericRecord]
      val partValues = partType.fields.map(pf => partValueFromAvro(pf.tpe, part.get(pf.name)))
      entries += ManifestEntry(
        status = rec.get("status").asInstanceOf[Int],
        snapshotId = getOpt(rec, "snapshot_id").map(_.asInstanceOf[Long]).getOrElse(0L),
        sequenceNumber = getOpt(rec, "sequence_number").map(_.asInstanceOf[Long]),
        fileSequenceNumber = getOpt(rec, "file_sequence_number").map(_.asInstanceOf[Long]),
        dataFile = DataFile(
          // v1 data files predate `content` (all are data files)
          content = getOpt(df, "content").map(_.asInstanceOf[Int]).getOrElse(0),
          filePath = df.get("file_path").toString,
          fileFormat = df.get("file_format").toString,
          partition = partValues,
          recordCount = df.get("record_count").asInstanceOf[Long],
          fileSizeInBytes = df.get("file_size_in_bytes").asInstanceOf[Long],
          columnSizes = kvFromAvro(df.get("column_sizes"))(_.asInstanceOf[Long]),
          valueCounts = kvFromAvro(df.get("value_counts"))(_.asInstanceOf[Long]),
          nullValueCounts = kvFromAvro(df.get("null_value_counts"))(_.asInstanceOf[Long]),
          nanValueCounts = kvFromAvro(df.get("nan_value_counts"))(_.asInstanceOf[Long]),
          lowerBounds = kvFromAvro(df.get("lower_bounds"))(v => bytes(v.asInstanceOf[ByteBuffer])),
          upperBounds = kvFromAvro(df.get("upper_bounds"))(v => bytes(v.asInstanceOf[ByteBuffer])),
          splitOffsets = Option(df.get("split_offsets"))
            .map(_.asInstanceOf[java.util.Collection[Long]].asScala.toSeq).getOrElse(Nil),
          sortOrderId = getOpt(df, "sort_order_id").map(_.asInstanceOf[Int]),
          equalityIds = getOpt(df, "equality_ids")
            .map(_.asInstanceOf[java.util.Collection[Int]].asScala.toSeq).getOrElse(Nil),
          referencedDataFile = getOpt(df, "referenced_data_file").map(_.toString),
          contentOffset = getOpt(df, "content_offset").map(_.asInstanceOf[Long]),
          contentSizeInBytes =
            getOpt(df, "content_size_in_bytes").map(_.asInstanceOf[Long]),
          // records from pre-extension manifests have no such field → None
          hasFieldIds = getOpt(df, "graft_has_field_ids").map(_.asInstanceOf[Boolean]),
          firstRowId = getOpt(df, "first_row_id").map(_.asInstanceOf[Long])))
    }
    reader.close()
    (specId, partType, entries.result())
  }

  /** Read a manifest list, served from the immutable-manifest cache on
    * re-reads (see [[ManifestCache]]).
    */
  def readManifestList(path: String): Seq[ManifestFile] = {
    // spec v1 allows snapshots without a manifest-list (the legacy inline
    // `manifests` array); the reference treats an empty location as an
    // empty snapshot (`snapshots.go:304`) rather than failing the table
    if (path.isEmpty) return Nil
    ManifestCache.list(path)(readManifestListUncached(path))
  }

  private def readManifestListUncached(path: String): Seq[ManifestFile] = {
    val reader = openReader(path)
    val out = Seq.newBuilder[ManifestFile]
    while (reader.hasNext) {
      val rec = reader.next()
      val partitions = Option(rec.get("partitions")).map { arr =>
        arr.asInstanceOf[java.util.Collection[_]].asScala.map { case r: GenericRecord =>
          FieldSummary(
            containsNull = r.get("contains_null").asInstanceOf[Boolean],
            containsNan = Option(r.get("contains_nan")).map(_.asInstanceOf[Boolean]),
            lowerBound = Option(r.get("lower_bound")).map(v => bytes(v.asInstanceOf[ByteBuffer])),
            upperBound = Option(r.get("upper_bound")).map(v => bytes(v.asInstanceOf[ByteBuffer])))
        }.toSeq
      }.getOrElse(Nil)
      // v1 lists predate content/sequence numbers and have nullable counts
      def intOr(name: String, d: Int) =
        getOpt(rec, name).map(_.asInstanceOf[Int]).getOrElse(d)
      def longOr(name: String, d: Long) =
        getOpt(rec, name).map(_.asInstanceOf[Long]).getOrElse(d)
      out += ManifestFile(
        path = rec.get("manifest_path").toString,
        length = rec.get("manifest_length").asInstanceOf[Long],
        specId = rec.get("partition_spec_id").asInstanceOf[Int],
        content = intOr("content", 0),
        sequenceNumber = longOr("sequence_number", 0L),
        minSequenceNumber = longOr("min_sequence_number", 0L),
        addedSnapshotId = rec.get("added_snapshot_id").asInstanceOf[Long],
        addedFilesCount = intOr("added_files_count", 0),
        existingFilesCount = intOr("existing_files_count", 0),
        deletedFilesCount = intOr("deleted_files_count", 0),
        addedRowsCount = longOr("added_rows_count", 0L),
        existingRowsCount = longOr("existing_rows_count", 0L),
        deletedRowsCount = longOr("deleted_rows_count", 0L),
        partitions = partitions,
        firstRowId = getOpt(rec, "first_row_id").map(_.asInstanceOf[Long]))
    }
    reader.close()
    out.result()
  }
}
