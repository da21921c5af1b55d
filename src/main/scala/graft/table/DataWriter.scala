package graft.table

import java.util.UUID
import scala.collection.parallel.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RemoteIterator}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, hash, lit, pmod}

import graft.core._
import graft.meta.{DataFile, PartitionSpec, SortOrder}

/** The append data plane: write a DataFrame as Parquet data files and derive
  * `DataFile` entries (stats from footers).
  *
  * Partitioned writes compute the transform columns with Catalyst
  * expressions (codegen), shuffle once on the partition tuple
  * (`repartition`, the fanout of reference
  * `partitioned_fanout_writer.go:38-229`), and use `partitionBy` on derived
  * `_p_*` columns so every data column — including partition sources — stays
  * in the file, as Iceberg requires. Partition values are recovered from the
  * staged directory names.
  *
  * 100 TB notes: one shuffle on the partition tuple; file sizing via
  * `maxRecordsPerFile` session conf; footer-stat collection is metadata-only
  * and parallelized driver-side.
  */
object DataWriter {
  private def conf = graft.meta.FileIO.conf
  private val PartPrefix = "_p_"
  private val HiveNull = "__HIVE_DEFAULT_PARTITION__"

  def write(df: DataFrame, location: String, schema: IceSchema,
      spec: PartitionSpec, sortOrder: SortOrder = SortOrder.Unsorted,
      properties: Map[String, String] = Map.empty,
      avgRowBytesHint: Option[Long] = None): Seq[DataFile] = {
    // location strategy (reference table/locations.go): write.data.path
    // override + optional object-storage entropy placement
    val provider = Locations.forTable(location, properties)
    val staging =
      if (provider.objectStore) s"${provider.dataPath}/.staging-${UUID.randomUUID()}"
      else s"${provider.dataPath}/${UUID.randomUUID()}"
    // file sizing: an explicit record cap wins; otherwise translate the
    // reference's byte target (`write.target-file-size-bytes`, 512 MiB
    // default, rolling_data_writer.go:40-48) through the table's own
    // observed on-disk bytes/row — Spark's writer rolls by record count
    // only, and footer-derived compressed size is exactly the unit the
    // byte target is defined over. A fresh table (no history) falls back
    // to the 1M-row cap until its first commit provides the estimate.
    val maxRecords = properties.get("write.max-records-per-file").map(_.toLong)
      .getOrElse {
        val target = properties.get("write.target-file-size-bytes")
          .flatMap(_.toLongOption).getOrElse(512L * 1024 * 1024)
        avgRowBytesHint.filter(_ > 0)
          .map(b => math.max(1L, target / b)).getOrElse(1048576L)
      }
    // attach parquet.field.id metadata so Spark's writer stamps Iceberg
    // field IDs into the files (ID-based column resolution on read); the
    // cast to the Iceberg-derived Spark type carries NESTED field IDs too
    // (they live on the StructFields inside the DataType tree)
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
    // write, `table/sorting.go` + writer): range-partition on the sort key
    // so files hold disjoint ranges, then sort within each — that is what
    // tightens per-file min/max bounds and makes stats pruning bite
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
    val aligned =
      if (sortOrder.isUnsorted) withIds
      else withIds.repartitionByRange(sortCols: _*).sortWithinPartitions(sortCols: _*)
    if (spec.isUnpartitioned) {
      aligned.write
        .options(parquetWriteOptions(properties))
        .option("maxRecordsPerFile", maxRecords)
        .parquet(staging)
      val staged = renameToIceberg(listParquet(staging))
      val placed =
        if (provider.objectStore)
          placeObjectStore(staged, staging, provider).map(t => (t._1, t._2))
        else staged
      val out = placed.par.map { case (p, len) =>
        ParquetStats.toDataFile(p, len, schema, Nil,
          nameToId = Some(writeSchema.idByName), props = properties)
      }.seq.toSeq
      collectNanCounts(df.sparkSession, out, schema, writeSchema, properties)
    } else {
      val partCols = spec.fields.map { pf =>
        val src = writeSchema.findById(pf.sourceId).get
        val c = pf.transform.toColumn(col(src.name), src.tpe)
        // STRING-typed partition values go into directory names; url-encode
        // them so the staged dirs are pure ASCII — Spark's own path escaping
        // leaves non-ASCII raw, and a JVM whose path charset can't map it
        // (sun.jnu.encoding=ANSI under LANG=C, the common container locale)
        // fails the whole write with InvalidPathException. Decoded exactly
        // in [[parsePartitionDirs]]; every other result type renders ASCII.
        val rendered =
          if (pf.transform.resultType(src.tpe) == IceString)
            org.apache.spark.sql.functions.url_encode(c)
          else c
        rendered.as(PartPrefix + pf.name)
      }
      val partNames = spec.fields.map(PartPrefix + _.name)
      // fanout shuffle on the partition tuple; tasks-per-partition > 1
      // salts the shuffle so one giant partition value cannot pin a single
      // reducer (the skew escape hatch at 100 TB)
      val fanout = properties.getOrElse("write.fanout.tasks-per-partition", "1").toInt
      val shuffleKeys =
        if (fanout <= 1) partNames.map(col)
        // WRITE-schema names: the frame being repartitioned was just
        // projected to the sanitized names, so a salt built from original
        // schema names fails analysis whenever any name needed sanitizing
        else partNames.map(col) :+ pmod(
          hash(writeSchema.fields.map(f => col(f.name)): _*), lit(fanout))
      // the table sort order is applied AFTER the fanout shuffle (a
      // pre-shuffle range-sort would be destroyed by the hash repartition
      // — one full wasted exchange and files with overlapping ranges);
      // sorting within the fanout partitions keyed (partition, sort...)
      // gives each written file the tight contiguous bounds the order
      // exists for
      val shuffled = withIds
        .select(writeSchema.fields.map(f => col(f.name)) ++ partCols: _*)
        .repartition(shuffleKeys: _*)
      val clustered =
        if (sortOrder.isUnsorted) shuffled
        else shuffled.sortWithinPartitions(partNames.map(col) ++ sortCols: _*)
      clustered
        .write
        .options(parquetWriteOptions(properties))
        .option("maxRecordsPerFile", maxRecords)
        .partitionBy(partNames: _*).parquet(staging)
      val partType = spec.partitionType(schema)
      val staged = renameToIceberg(listParquet(staging))
      // the partition tuple must be read off the STAGED path — an
      // object-store placement with partitioned-paths=false erases the
      // value dirs from the final key (manifests carry the tuple)
      val placed: Seq[(String, Long, Seq[Any])] =
        if (provider.objectStore)
          placeObjectStore(staged, staging, provider).map { case (p, len, dirs) =>
            (p, len, parsePartitionDirs(dirs, partType))
          }
        else staged.map { case (p, len) =>
          (p, len, parsePartitionPath(p, staging, partType))
        }
      val out = placed.par.map { case (p, len, tuple) =>
        ParquetStats.toDataFile(p, len, schema, tuple,
          nameToId = Some(writeSchema.idByName), props = properties)
      }.seq.toSeq
      collectNanCounts(df.sparkSession, out, schema, writeSchema, properties)
    }
  }

  /** Property gating the post-write NaN-count pass (default off). */
  val NanCountsEnabledKey = "write.metadata.nan-counts.enabled"

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

  /** Populate `nanValueCounts` for float/double columns with one
    * column-pruned scan of the just-written files, grouped per file.
    *
    * Parquet footers carry no NaN statistics, and Spark's writer cannot
    * count them inline the way the reference's own file writer could — so
    * this is a genuine extra pass over the float columns (narrow,
    * distributed, map-side-combined, driver sees files×columns longs) and
    * is OPT-IN per table. Without it the table stays exactly as the
    * reference writes it (`parquet_files.go` declares nan_value_counts
    * but never fills it from parquet metadata): `IsNaN`/`NotNaN` simply
    * never prune, which the evaluators handle conservatively.
    */
  private def collectNanCounts(spark: org.apache.spark.sql.SparkSession,
      files: Seq[DataFile], schema: IceSchema, writeSchema: IceSchema,
      properties: Map[String, String]): Seq[DataFile] = {
    if (!properties.get(NanCountsEnabledKey).exists(_.toBoolean)) return files
    val modes = ParquetStats.modesFor(schema, properties)
    val floatFields = writeSchema.fields.filter(f =>
      (f.tpe == IceFloat || f.tpe == IceDouble) &&
        modes.get(f.id).forall(_.kind != "none"))
    if (floatFields.isEmpty || files.isEmpty) return files
    import org.apache.spark.sql.functions.{isnan, sum, when}
    import org.apache.spark.sql.types.StructType
    val aggs = floatFields.map(f =>
      sum(when(isnan(col(f.name)), 1L).otherwise(0L)).as(s"__nan_${f.id}"))
    // the float columns only, resolved by field id
    val byFile = IceScan.readFiles(spark,
        StructType(floatFields.map(SchemaConv.toSparkField)), files)
      .groupBy(col("_metadata.file_path").as("__fp"))
      .agg(aggs.head, aggs.drop(1): _*)
      .collect()
      .map(r => IceScan.pathOnly(r.getAs[String]("__fp")) ->
        floatFields.map(f => f.id -> r.getAs[Long](s"__nan_${f.id}")).toMap)
      .toMap
    files.map(f => byFile.get(graft.meta.FileIO.pathOnly(f.filePath))
      .map(m => f.copy(nanValueCounts = m)).getOrElse(f))
  }

  /** Move staged files to their entropy-prefixed object-storage keys and
    * drop the staging dir. A rename is metadata-only on HDFS-like file
    * systems; a real S3 deployment writes data directly to the final key
    * (the provider computes it before the upload) — staging-then-rename
    * here only exists because Spark's parquet committer owns the staged
    * names until the job finishes.
    */
  private def placeObjectStore(files: Seq[(String, Long)], staging: String,
      provider: Locations.LocationProvider): Seq[(String, Long, String)] = {
    val fs = FileSystem.get(new java.net.URI(staging), conf)
    val out = files.map { case (p, len) =>
      val rel = p.stripPrefix(staging).stripPrefix("/")
      val slash = rel.lastIndexOf('/')
      val (dirs, name) =
        if (slash < 0) ("", rel) else (rel.substring(0, slash), rel.substring(slash + 1))
      val target = provider.newDataLocation(name, Option(dirs).filter(_.nonEmpty))
      val tp = new Path(target)
      fs.mkdirs(tp.getParent)
      require(fs.rename(new Path(p), tp), s"failed to place $p at $target")
      (target, len, dirs)
    }
    fs.delete(new Path(staging), true): Unit
    out
  }

  /** Rename staged part-files to the reference's data-file convention
    * `%05d-{task}-{uuid}.parquet` (reference `table/writer.go:41-45`),
    * keeping partition directories intact. Metadata-only (FS rename).
    */
  private def renameToIceberg(files: Seq[(String, Long)]): Seq[(String, Long)] = {
    // Path.toUri escapes characters a raw URI constructor rejects (identity
    // timestamp partition dirs contain spaces)
    val fs = FileSystem.get(
      new Path(files.headOption.map(_._1).getOrElse("/")).toUri, conf)
    files.zipWithIndex.map { case ((p, len), i) =>
      val dir = p.substring(0, p.lastIndexOf('/'))
      val target = f"$dir/$i%05d-$i-${UUID.randomUUID()}.parquet"
      if (fs.rename(new Path(p), new Path(target))) (target, len) else (p, len)
    }
  }

  /** Recursively list data parquet files under a staging dir. */
  def listParquet(dir: String): Seq[(String, Long)] = {
    val fs = FileSystem.get(new java.net.URI(dir), conf)
    val out = Seq.newBuilder[(String, Long)]
    val it: RemoteIterator[org.apache.hadoop.fs.LocatedFileStatus] =
      fs.listFiles(new Path(dir), true)
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath.toUri.getPath
      if (p.endsWith(".parquet") && !p.contains("_temporary")) out += p -> st.getLen
    }
    out.result()
  }

  /** Parse `_p_name=value/...` segments back into a typed partition tuple. */
  private[table] def parsePartitionPath(file: String, staging: String,
      partType: IceStructType): Seq[Any] = {
    val rel = file.stripPrefix(staging).stripPrefix("/")
    val slash = rel.lastIndexOf('/')
    parsePartitionDirs(if (slash < 0) "" else rel.substring(0, slash), partType)
  }

  /** Same, from the bare `_p_name=value/...` directory string. */
  private[table] def parsePartitionDirs(dirs: String,
      partType: IceStructType): Seq[Any] = {
    val kv = dirs.split('/').iterator.filter(_.contains('=')).map { seg =>
      val i = seg.indexOf('=')
      seg.substring(0, i).stripPrefix(PartPrefix) -> unescape(seg.substring(i + 1))
    }.toMap
    partType.fields.map { f =>
      kv.get(f.name) match {
        case None | Some(HiveNull) => null
        // string-typed values were url-encoded before Spark's partitionBy
        // (see the write side) — decode AFTER undoing Spark's own escaping
        case Some(s) if f.tpe == IceString =>
          java.net.URLDecoder.decode(s, "UTF-8")
        case Some(s) => parseValue(f.tpe, s)
      }
    }
  }

  private def parseValue(t: IceType, s: String): Any = t match {
    case IceInt => s.toInt
    case IceLong => s.toLong
    case IceDate =>
      if (s.matches("-?\\d+")) s.toInt // day-transform output: raw epoch days
      else java.time.LocalDate.parse(s).toEpochDay.toInt
    case IceTimestamp | IceTimestampTz =>
      val norm = s.replace(' ', 'T')
      // full-fraction epoch micros: toEpochMilli would truncate sub-ms values
      // and the manifest partition tuple would disagree with the true value
      val i = java.time.Instant.parse(if (norm.endsWith("Z")) norm else norm + "Z")
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    case IceTimestampNs | IceTimestampTzNs =>
      if (s.matches("-?\\d+")) s.toLong // LongType surrogate writes raw nanos
      else {
        val norm = s.replace(' ', 'T')
        val i = java.time.Instant.parse(if (norm.endsWith("Z")) norm else norm + "Z")
        i.getEpochSecond * 1000000000L + i.getNano
      }
    case IceString | IceUUID => s
    case IceDouble => s.toDouble
    case IceFloat => s.toFloat
    case IceBoolean => s.toBoolean
    case IceDecimal(_, sc) => new java.math.BigDecimal(s).setScale(sc)
    case other => throw new IllegalArgumentException(s"cannot parse partition value of $other")
  }

  /** Undo Hive path escaping (%xx sequences). */
  private def unescape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length + 1 && i + 3 <= s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
