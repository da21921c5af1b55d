package graft.table

import java.util.UUID

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.hadoop.{ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.io.{OutputFile, PositionOutputStream}
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils, ParquetWriteSupport}
import org.apache.spark.sql.functions.{col, hash, lit, pmod}
import org.apache.spark.sql.graftshim.{BoundLiteralExecution, GraftShim}
import org.apache.spark.sql.types.{DataType, Decimal, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.core._
import graft.meta.{DataFile, FileIO, PartitionSpec, SortOrder}

/** The table's write path: rows in; Parquet files at their final
  * locations and their `DataFile` entries out, in one Spark job. This is
  * the reference's data-file sink (`parquetFormat.WriteDataFile`,
  * `table/internal/parquet_files.go:195-279`), and it is how Iceberg's
  * Spark writer works: each task returns the `DataFile`s it wrote, and
  * there is no staging directory to commit.
  *
  * The driver projects the frame onto the write schema (Avro-compatible
  * names, field-ID metadata, write-defaults for omitted columns) and
  * clusters it:
  *   - a partitioned write appends the transform values as trailing
  *     columns computed by Catalyst, shuffles once on them (the fanout of
  *     reference `partitioned_fanout_writer.go:38-229`, salted by
  *     `write.fanout.tasks-per-partition`), and sorts each task's rows by
  *     partition, then by the table sort order;
  *   - an unpartitioned sorted write range-partitions on the sort key and
  *     sorts within each range.
  *
  * Each task writes its rows with Spark's `ParquetWriteSupport`,
  * configured once by `ParquetUtils.prepareWrite`, so the table's codec,
  * field IDs, bloom filters and row-group settings apply. Files open
  * through the [[FileIO.outputFile]] seam at
  * `LocationProvider.newDataLocation`, named
  * `%05d-<partition>-<attempt>-<write uuid>.parquet`. A file closes when
  * the partition tuple changes or it holds `maxRecords` rows. Its stats
  * are folded from the writer's own footer ([[ParquetStats.fromFooter]]),
  * and its NaN counts are counted as rows pass when
  * `write.metadata.nan-counts.enabled` is set. The partition tuple comes
  * from the row's transform values.
  *
  * The job runs through a [[BoundLiteralExecution]]: the literals of its
  * filters and projections (a commit's key range, an upsert's new value)
  * are read from the plan's references instead of being inlined into the
  * generated Java source, so every commit of one shape reuses the classes
  * the first one compiled. The job's Hadoop conf reaches the tasks as one
  * broadcast, destroyed when the job ends.
  *
  * A task that gets no rows opens no file. A failed task attempt deletes
  * every file it opened, so only files of attempts that `collect` returns
  * can reach a manifest. If the job fails, the files its successful tasks
  * wrote stay unreferenced, and `deleteOrphanFiles` reclaims them.
  */
object DataWriter {
  private val PartPrefix = "_p_"

  /** Row cap per written file when `write.max-records-per-file` is unset
    * and no average row size is known yet.
    */
  val DefaultMaxRecordsPerFile: Long = 1048576L

  /** Property gating NaN counting while writing (default off). */
  val NanCountsEnabledKey = "write.metadata.nan-counts.enabled"

  /** The position-delete file schema (Iceberg spec reserved field ids). */
  private[table] val PositionDeleteSchema = IceSchema(-1, Seq(
    NestedField(DeleteIndex.PathFieldId, "file_path", IceString, required = true),
    NestedField(2147483545, "pos", IceLong, required = true)))

  def write(df: DataFrame, location: String, schema: IceSchema,
      spec: PartitionSpec, sortOrder: SortOrder = SortOrder.Unsorted,
      properties: Map[String, String] = Map.empty,
      avgRowBytesHint: Option[Long] = None): Seq[DataFile] = {
    // file sizing: an explicit record cap wins; otherwise translate the
    // reference's byte target (`write.target-file-size-bytes`, 512 MiB
    // default, rolling_data_writer.go:40-48) through the table's own
    // observed on-disk bytes/row — files roll by record count, and
    // footer-derived compressed size is exactly the unit the byte target
    // is defined over. A fresh table (no history) falls back to the
    // 1M-row cap until its first commit provides the estimate.
    val maxRecords = properties.get("write.max-records-per-file").map(_.toLong)
      .getOrElse {
        val target = properties.get("write.target-file-size-bytes")
          .flatMap(_.toLongOption).getOrElse(512L * 1024 * 1024)
        avgRowBytesHint.filter(_ > 0)
          .map(b => math.max(1L, target / b)).getOrElse(DefaultMaxRecordsPerFile)
      }
    // attach parquet.field.id metadata so the writer stamps Iceberg field
    // IDs into the files (ID-based column resolution on read); the cast to
    // the Iceberg-derived Spark type carries NESTED field IDs too (they
    // live on the StructFields inside the DataType tree).
    // the FILE schema uses Avro-compatible names (reference sanitizes at
    // write, `table/writer.go:106`); reads resolve by field ID, so the
    // table-visible names are untouched
    val writeSchema = SchemaConv.sanitizeColumnNames(schema)
    val dfCols = df.columns.toSet
    val withIds = df.select(schema.fields.zip(writeSchema.fields).map { case (f, wf) =>
      val sf = SchemaConv.toSparkField(wf)
      val value =
        if (dfCols.contains(f.name))
          if (f.tpe.isPrimitive) col(f.name) else col(f.name).cast(sf.dataType)
        else {
          // writer omitted the column → its write-default (null if optional)
          require(!f.required || f.writeDefault.isDefined,
            s"missing required column ${f.name}")
          lit(f.writeDefault.orNull).cast(sf.dataType)
        }
      value.as(wf.name, sf.metadata)
    }: _*)
    // honor the table sort order at write (reference applies SortOrder at
    // write, `table/sorting.go` + writer): files then hold contiguous
    // ranges of the sort key, which is what tightens per-file min/max
    // bounds and makes stats pruning bite
    val sortCols = sortOrder.fields.map { sf =>
      val src = writeSchema.findById(sf.sourceId).get
      val c = sf.transform.toColumn(col(src.name), src.tpe)
      (sf.ascending, sf.nullsFirst) match {
        case (true, true) => c.asc_nulls_first
        case (true, false) => c.asc_nulls_last
        case (false, true) => c.desc_nulls_first
        case (false, false) => c.desc_nulls_last
      }
    }
    val clustered =
      if (spec.isUnpartitioned)
        if (sortOrder.isUnsorted) withIds
        else withIds.repartitionByRange(sortCols: _*).sortWithinPartitions(sortCols: _*)
      else {
        val partNames = spec.fields.map(PartPrefix + _.name)
        val partCols = spec.fields.zip(partNames).map { case (pf, name) =>
          val src = writeSchema.findById(pf.sourceId).get
          pf.transform.toColumn(col(src.name), src.tpe).as(name)
        }
        // fanout shuffle on the partition tuple; tasks-per-partition > 1
        // salts the shuffle so one giant partition value cannot pin a
        // single reducer (the skew escape hatch at 100 TB). The salt hashes
        // WRITE-schema names: the frame was just projected to them
        val fanout = properties.getOrElse("write.fanout.tasks-per-partition", "1").toInt
        val shuffleKeys =
          if (fanout <= 1) partNames.map(col)
          else partNames.map(col) :+ pmod(
            hash(writeSchema.fields.map(f => col(f.name)): _*), lit(fanout))
        // partition columns lead the in-task sort, as in Spark's own
        // partitioned writer: a task then holds one file open at a time.
        // The table sort order follows (a pre-shuffle range sort would be
        // destroyed by the hash exchange)
        withIds
          .select(writeSchema.fields.map(f => col(f.name)) ++ partCols: _*)
          .repartition(shuffleKeys: _*)
          .sortWithinPartitions(partNames.map(col) ++ sortCols: _*)
      }
    // NaN counts are opt-in (Parquet footers carry none): top-level
    // float/double columns whose metrics mode keeps any stats
    val nanFields =
      if (!properties.get(NanCountsEnabledKey).exists(_.toBoolean)) Nil
      else {
        val modes = ParquetStats.modesFor(schema, properties)
        writeSchema.fields.zipWithIndex.collect {
          case (f, i) if (f.tpe == IceFloat || f.tpe == IceDouble) &&
              modes.get(f.id).forall(_.kind != "none") =>
            NanField(i, f.id, f.tpe == IceDouble)
        }
      }
    writeFiles(clustered, writeSchema.fields.size, schema, writeSchema.idByName, spec,
      Locations.forTable(location, properties), maxRecords, properties, content = 0,
      fullBoundsFieldIds = Set.empty, nanFields)
  }

  /** Position-delete files from `(file_path, pos, <range>)` rows whose
    * tasks each hold whole ranges sorted by `(file_path, pos)`. A file
    * closes at every range change, so each covers one contiguous
    * `file_path` range, and its path bounds are recorded untruncated for
    * the planner's delete matching ([[DeleteIndex]]).
    */
  private[table] def writePositionDeletes(clustered: DataFrame, rangeCol: String,
      location: String, properties: Map[String, String]): Seq[DataFile] = {
    val framed = clustered.select(PositionDeleteSchema.fields.map(f =>
      col(f.name).as(f.name, SchemaConv.toSparkField(f).metadata)) :+ col(rangeCol): _*)
    writeFiles(framed, PositionDeleteSchema.fields.size, PositionDeleteSchema,
      PositionDeleteSchema.idByName, PartitionSpec.Unpartitioned,
      Locations.forTable(location, properties), Long.MaxValue, properties,
      content = 1, fullBoundsFieldIds = Set(DeleteIndex.PathFieldId), nanFields = Nil)
  }

  /** Run one write job over `clustered`: its first `fileColumns` columns
    * are written, and the rest are the roll key (the partition values of
    * a partitioned `spec`).
    */
  private def writeFiles(clustered: DataFrame, fileColumns: Int, schema: IceSchema,
      nameToId: Map[String, Int], spec: PartitionSpec,
      provider: Locations.LocationProvider, maxRecords: Long,
      properties: Map[String, String], content: Int, fullBoundsFieldIds: Set[Int],
      nanFields: Seq[NanField]): Seq[DataFile] = {
    val spark = clustered.sparkSession
    val sqlConf = spark.sessionState.conf
    val options = parquetWriteOptions(properties)
    // Spark's writer stores every column as optional; so does this one
    val fileSchema = GraftShim.asNullable(StructType(clustered.schema.take(fileColumns)))
    val ioSettings = FileIO.sparkHadoopSettings
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options)
    ioSettings.foreach { case (k, v) => hadoopConf.set(k, v) }
    val job = Job.getInstance(hadoopConf)
    ParquetUtils.prepareWrite(sqlConf, job, fileSchema, new ParquetOptions(options, sqlConf))
    // the conf carries the whole session conf (~1,100 entries, ~113 KB):
    // broadcast once per job, not serialized into every task's closure. A
    // local-mode task reads the driver's object; tasks only read it
    val conf = spark.sparkContext.broadcast(new SerializableConfiguration(job.getConfiguration))
    val task = WriteTask(conf, ioSettings,
      fileSchema, clustered.schema.drop(fileColumns).map(_.dataType), spec, schema,
      nameToId, provider, UUID.randomUUID().toString, maxRecords, properties, content,
      fullBoundsFieldIds, nanFields)
    try BoundLiteralExecution.collect(clustered)(task.run).toSeq
    finally conf.destroy()
  }

  /** A float/double column whose NaNs are counted: ordinal, field id. */
  private final case class NanField(ordinal: Int, fieldId: Int, isDouble: Boolean)

  /** Everything one write job's tasks share; [[run]] is the task body. */
  private final case class WriteTask(
      conf: Broadcast[SerializableConfiguration],
      ioSettings: Map[String, String],
      fileSchema: StructType,
      keyTypes: Seq[DataType],
      spec: PartitionSpec,
      schema: IceSchema,
      nameToId: Map[String, Int],
      provider: Locations.LocationProvider,
      writeId: String,
      maxRecords: Long,
      properties: Map[String, String],
      content: Int,
      fullBoundsFieldIds: Set[Int],
      nanFields: Seq[NanField]) {

    def run(rows: Iterator[InternalRow]): Iterator[DataFile] = {
      // executors run in JVMs whose FileIO never saw configure()
      FileIO.ensureApplied(ioSettings)
      val tc = TaskContext.get()
      val hadoopConf = conf.value.value
      // per-column bloom settings: reading them walks every property of the
      // job conf, so once per task rather than once per file
      val bloomColumns = hadoopConf
        .getPropsWithPrefix(ParquetOutputFormat.BLOOM_FILTER_ENABLED + "#")
        .asScala.toSeq.map { case (column, enabled) => column -> enabled.toBoolean }
      val width = fileSchema.size
      val keyOf =
        if (keyTypes.isEmpty) null
        else UnsafeProjection.create(keyTypes.zipWithIndex.map { case (t, i) =>
          BoundReference(width + i, t, nullable = true)
        })
      val view = if (keyTypes.isEmpty) null else ProjectingInternalRow(fileSchema, 0 until width)
      val nan = nanFields.toArray
      val nanCounts = new Array[Long](nan.length)
      val opened = ArrayBuffer.empty[String]
      val written = ArrayBuffer.empty[DataFile]
      var writer: ParquetWriter[InternalRow] = null
      var output: TrackedOutputFile = null
      var key: UnsafeRow = null
      var tuple: Seq[Any] = Nil
      var rowsInFile = 0L

      tc.addTaskFailureListener { (_, _) =>
        if (writer != null) try writer.close() catch { case NonFatal(_) => () }
        opened.foreach { target =>
          val p = new Path(target)
          try p.getFileSystem(hadoopConf).delete(p, false) catch { case NonFatal(_) => false }
        }
      }
      def close(): Unit = if (writer != null) {
        writer.close()
        val f = ParquetStats.fromFooter(writer.getFooter, FileIO.pathOnly(opened.last),
          output.length, schema, tuple, content, Some(nameToId), fullBoundsFieldIds, properties)
        written += (if (nan.isEmpty) f
          else f.copy(nanValueCounts = nan.indices.map(i => nan(i).fieldId -> nanCounts(i)).toMap))
        writer = null
      }
      def open(): Unit = {
        val name = f"${opened.size}%05d-${tc.partitionId()}-${tc.taskAttemptId()}-$writeId.parquet"
        val target = provider.newDataLocation(name,
          Option.when(!spec.isUnpartitioned)(spec.partitionToPath(tuple, schema)))
        opened += target
        output = new TrackedOutputFile(FileIO.outputFile(target, hadoopConf))
        writer = newWriter(output, hadoopConf, bloomColumns)
        rowsInFile = 0L
        java.util.Arrays.fill(nanCounts, 0L)
      }

      while (rows.hasNext) {
        val row = rows.next()
        if (keyOf != null) {
          val k = keyOf(row)
          if (key == null || k != key) {
            close()
            key = k.copy()
            tuple = if (spec.isUnpartitioned) Nil else keyTypes.indices.map(i =>
              fromCatalyst(key.get(i, keyTypes(i))))
          }
        }
        if (writer == null || rowsInFile >= maxRecords) { close(); open() }
        if (view == null) writer.write(row)
        else { view.project(row); writer.write(view) }
        rowsInFile += 1
        var i = 0
        while (i < nan.length) {
          val o = nan(i).ordinal
          if (!row.isNullAt(o) &&
              (if (nan(i).isDouble) row.getDouble(o).isNaN else row.getFloat(o).isNaN))
            nanCounts(i) += 1
          i += 1
        }
      }
      close()
      written.iterator
    }
  }

  /** A partition value as Catalyst holds it → the manifest's literal. */
  private def fromCatalyst(v: Any): Any = v match {
    case s: UTF8String => s.toString
    case d: Decimal => d.toJavaBigDecimal
    case other => other
  }

  private final class RowWriterBuilder(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](file) {
    override protected def self(): RowWriterBuilder = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }

  /** A Parquet writer set up from a prepared job conf the way
    * `ParquetOutputFormat.getRecordWriter` reads one, plus the conf's
    * per-column bloom settings, read once per task.
    */
  private def newWriter(file: OutputFile, conf: Configuration,
      bloomColumns: Seq[(String, Boolean)]): ParquetWriter[InternalRow] = {
    val b = new RowWriterBuilder(file).withConf(conf)
      .withCompressionCodec(ParquetOutputFormat.getCompression(conf))
      .withRowGroupSize(ParquetOutputFormat.getLongBlockSize(conf))
      .withPageSize(ParquetOutputFormat.getPageSize(conf))
      .withPageRowCountLimit(conf.getInt(ParquetOutputFormat.PAGE_ROW_COUNT_LIMIT,
        ParquetProperties.DEFAULT_PAGE_ROW_COUNT_LIMIT))
      .withDictionaryPageSize(ParquetOutputFormat.getDictionaryPageSize(conf))
      .withDictionaryEncoding(ParquetOutputFormat.getEnableDictionary(conf))
      .withWriterVersion(ParquetOutputFormat.getWriterVersion(conf))
      .withMaxBloomFilterBytes(ParquetOutputFormat.getBloomFilterMaxBytes(conf))
      .withBloomFilterEnabled(ParquetOutputFormat.getBloomFilterEnabled(conf))
      .withPageWriteChecksumEnabled(ParquetOutputFormat.getPageWriteChecksumEnabled(conf))
    bloomColumns.foreach { case (column, enabled) => b.withBloomFilterEnabled(column, enabled) }
    b.build()
  }

  /** An output file that remembers the length it was written to. */
  private final class TrackedOutputFile(inner: OutputFile) extends OutputFile {
    private var stream: PositionOutputStream = _
    def length: Long = stream.getPos
    override def create(blockSizeHint: Long): PositionOutputStream = {
      stream = inner.create(blockSizeHint); stream
    }
    override def createOrOverwrite(blockSizeHint: Long): PositionOutputStream = {
      stream = inner.createOrOverwrite(blockSizeHint); stream
    }
    override def supportsBlockSize(): Boolean = inner.supportsBlockSize()
    override def defaultBlockSize(): Long = inner.defaultBlockSize()
    override def getPath: String = inner.getPath
  }

  /** Iceberg parquet write properties → parquet-hadoop writer options
    * (reference `parquet_files.go:46-64` write property surface). Defaults
    * match the reference: zstd compression; the rest fall through to
    * parquet-hadoop defaults unless the table sets them. Bloom-filter
    * column keys translate through the SANITIZED file schema names (the
    * parquet writer sees those, not the table names).
    * `write.parquet.row-group-limit` has no parquet-hadoop equivalent
    * (row groups cap by bytes, files by `write.max-records-per-file`).
    */
  private[table] def parquetWriteOptions(
      properties: Map[String, String]): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    val codec = properties.getOrElse("write.parquet.compression-codec", "zstd")
    b += "compression" -> codec
    val direct = Seq(
      "write.parquet.row-group-size-bytes" -> "parquet.block.size",
      "write.parquet.page-size-bytes" -> "parquet.page.size",
      "write.parquet.page-row-limit" -> "parquet.page.row.count.limit",
      "write.parquet.dict-size-bytes" -> "parquet.dictionary.page.size",
      "write.parquet.bloom-filter-max-bytes" -> "parquet.bloom.filter.max.bytes")
    direct.foreach { case (ice, pq) => properties.get(ice).foreach(b += pq -> _) }
    // the level key is codec-SCOPED in parquet-hadoop, so route it to the
    // key of the codec actually selected (the reference applies the level
    // to whichever codec is configured); codecs without a level key (gzip,
    // snappy, ...) get no mapping — the level would be silently ignored
    // under the wrong key, which is worse than dropping it explicitly
    properties.get("write.parquet.compression-level").foreach { lvl =>
      codec.toLowerCase match {
        case "zstd" => b += "parquet.compression.codec.zstd.level" -> lvl
        case "brotli" => b += "compression.brotli.quality" -> lvl
        case other =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"write.parquet.compression-level=$lvl ignored: parquet-hadoop " +
              s"has no level knob for codec '$other'")
      }
    }
    val bloomPrefix = "write.parquet.bloom-filter-enabled.column."
    properties.foreach { case (k, v) =>
      if (k.startsWith(bloomPrefix) && v.equalsIgnoreCase("true")) {
        val tableName = k.stripPrefix(bloomPrefix)
        b += s"parquet.bloom.filter.enabled#${SchemaConv.makeCompatibleName(tableName)}" -> "true"
      }
    }
    b.result()
  }

  /** Data parquet files under a directory some other writer filled (a
    * foreign Spark job's output, registered through `addFiles`), skipping
    * uncommitted `_temporary` attempts.
    */
  def listParquet(dir: String): Seq[(String, Long)] =
    FileIO.listRecursive(dir).map(st => st.getPath.toUri.getPath -> st.getLen)
      .filter { case (p, _) => p.endsWith(".parquet") && !p.contains("_temporary") }
}
