package graft.table

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary

import graft.core._
import graft.meta.DataFile

/** Fold Parquet footer column-chunk stats into a file-level `DataFile`
  * (reference `parquet_files.go:103-519` DataFileStatsFromMeta): per-column
  * value/null counts, total sizes, and min/max bounds encoded with the
  * single-value codec, string bounds truncated to 16 units (metrics mode
  * `truncate(16)`).
  *
  * The writing task folds the footer of each file it closes
  * ([[fromFooter]]); `addFiles` opens the footers of the files it registers
  * ([[toDataFile]]). Both are metadata-only: no data page is read.
  */
object ParquetStats {
  private def conf = graft.meta.FileIO.conf
  val TruncateWidth = 16

  // reference properties.go:36-38
  val DefaultModeKey = "write.metadata.metrics.default"
  val ColumnModeKeyPrefix = "write.metadata.metrics.column."
  val DefaultMode = "truncate(16)"

  /** Per-column metrics mode (reference `MatchMetricsMode`
    * `table/internal/utils.go:315-359`): `none` (no stats at all — the
    * write-amplification escape hatch for huge binary columns), `counts`
    * (sizes + value/null counts, no bounds), `truncate(W)` (bounds
    * truncated to W units), `full` (untruncated bounds).
    */
  final case class MetricsMode(kind: String, len: Int = 0)

  def parseMode(s: String): MetricsMode = {
    val m = s.trim.toLowerCase
    if (m.startsWith("truncate")) {
      val re = "^truncate\\((\\d+)\\)$".r
      m match {
        case re(w) if w.toInt > 0 => MetricsMode("truncate", w.toInt)
        case _ => throw new IllegalArgumentException(s"malformed truncate metrics mode: $s")
      }
    } else m match {
      case "none" | "counts" | "full" => MetricsMode(m)
      case _ => throw new IllegalArgumentException(s"unsupported metrics mode: $s")
    }
  }

  /** Resolve the mode per field ID (reference `computeStatsPlan`
    * `table/arrow_utils.go:1169-1188` + the per-field resolution at
    * `:1130-1160`): column override `write.metadata.metrics.column.<name>`
    * beats the table default; `truncate` upgrades to `full` for
    * non-string/binary types (fixed-width values don't truncate).
    *
    * Divergence: the reference downgrades NESTED (dotted) columns to
    * `counts` because its Arrow stats aggregator can't fold nested
    * bounds (`arrow_utils.go:1156-1159`); this collector reads nested
    * leaves from footers by dotted path, so nested bounds stay on — they
    * feed the engine's nested-predicate file pruning. A per-column
    * `counts`/`none` override still turns them off.
    */
  def modesFor(schema: IceSchema, props: Map[String, String]): Map[Int, MetricsMode] = {
    val default = parseMode(props.getOrElse(DefaultModeKey, DefaultMode))
    schema.idByName.map { case (name, id) =>
      var mode = props.get(ColumnModeKeyPrefix + name).map(parseMode).getOrElse(default)
      val stringish = schema.byId.get(id).exists(f =>
        f.tpe == IceString || f.tpe == IceBinary)
      if (!stringish && mode.kind == "truncate") mode = MetricsMode("full")
      id -> mode
    }
  }

  /** `nameToId` overrides footer-column → field-ID resolution (the table's
    * name mapping, for foreign files whose column names differ from the
    * canonical schema); default is the schema's own name index.
    */
  /** `fullBoundsFieldIds`: columns whose bounds are recorded UNtruncated.
    * Positional-delete files use this for the reserved `file_path` column
    * (2147483546): exact path bounds let the planner match deletes to data
    * files precisely — a 16-char prefix of an absolute path is shared by the
    * whole warehouse and can't discriminate anything.
    */
  def toDataFile(
      filePath: String,
      fileSize: Long,
      schema: IceSchema,
      partition: Seq[Any],
      content: Int = 0,
      nameToId: Option[Map[String, Int]] = None,
      fullBoundsFieldIds: Set[Int] = Set.empty,
      props: Map[String, String] = Map.empty): DataFile = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(filePath), conf))
    try fromFooter(reader.getFooter, filePath, fileSize, schema, partition, content,
      nameToId, fullBoundsFieldIds, props)
    finally reader.close()
  }

  /** The fold behind [[toDataFile]], over a footer already in hand: the
    * writing task passes `ParquetWriter.getFooter` of the file it just
    * closed, so written and registered files share one stats path.
    */
  def fromFooter(
      footer: ParquetMetadata,
      filePath: String,
      fileSize: Long,
      schema: IceSchema,
      partition: Seq[Any],
      content: Int,
      nameToId: Option[Map[String, Int]],
      fullBoundsFieldIds: Set[Int],
      props: Map[String, String]): DataFile = {
    val modes = modesFor(schema, props)
    val blocks = footer.getBlocks.asScala.toSeq
    val recordCount = blocks.map(_.getRowCount).sum
    // stamp field-ID presence from the footer: scan planning reads it
    // from the manifest instead of re-opening the file
    val msgFields = footer.getFileMetaData.getSchema.getFields.asScala.toSeq
    val fileHasIds = msgFields.nonEmpty && msgFields.forall(_.getId != null)
    val colSizes = collection.mutable.Map[Int, Long]()
    val valueCounts = collection.mutable.Map[Int, Long]()
    val nullCounts = collection.mutable.Map[Int, Long]()
    val mins = collection.mutable.Map[Int, Any]()
    val maxs = collection.mutable.Map[Int, Any]()
    val statsValid = collection.mutable.Map[Int, Boolean]().withDefaultValue(true)
    val splitOffsets = blocks.map(_.getStartingPos).sorted

    val resolve: String => Option[Int] =
      nameToId.map(m => (n: String) => m.get(n)).getOrElse(schema.idByName.get _)
    for (block <- blocks; col <- block.getColumns.asScala) {
      val name = col.getPath.toDotString
      resolve(name).filter(schema.byId.contains)
        // none: no stats at all — EXCEPT for fullBoundsFieldIds (the
        // partition-source columns of an addFiles inference): without
        // their counts/bounds the inference cannot tell "column absent"
        // from "stats suppressed" and would register a wrong null
        // partition
        .filter(id =>
          fullBoundsFieldIds(id) || modes.get(id).forall(_.kind != "none"))
        .foreach { id =>
        val t = schema.byId(id).tpe
        val wantBounds = modes.get(id).forall(m =>
          m.kind == "truncate" || m.kind == "full") || fullBoundsFieldIds(id)
        colSizes(id) = colSizes.getOrElse(id, 0L) + col.getTotalSize
        valueCounts(id) = valueCounts.getOrElse(id, 0L) + col.getValueCount
        val st = col.getStatistics
        if (st == null) statsValid(id) = false
        else {
          if (st.isNumNullsSet) nullCounts(id) = nullCounts.getOrElse(id, 0L) + st.getNumNulls
          else statsValid(id) = false
          if (st.hasNonNullValue && wantBounds) {
            (decodeStat(t, st.genericGetMin().asInstanceOf[AnyRef]).map(widenZero(_, -1)),
                decodeStat(t, st.genericGetMax().asInstanceOf[AnyRef]).map(widenZero(_, 1))) match {
              case (Some(mn), Some(mx)) =>
                mins(id) = mins.get(id) match {
                  case Some(cur) if Bounds.compare(t, cur, mn) <= 0 => cur
                  case _ => mn
                }
                maxs(id) = maxs.get(id) match {
                  case Some(cur) if Bounds.compare(t, cur, mx) >= 0 => cur
                  case _ => mx
                }
              case _ => statsValid(id) = false
            }
          }
        }
      }
    }

    // drop bounds for columns where any row group lacked usable stats
    def widthFor(id: Int): Int =
      if (fullBoundsFieldIds(id)) Int.MaxValue
      else modes.get(id) match {
        case Some(MetricsMode("full", _)) => Int.MaxValue
        case Some(MetricsMode("truncate", w)) => w
        case _ => TruncateWidth
      }
    val lowerBounds = mins.toMap.collect {
      case (id, v) if statsValid(id) =>
        val t = schema.byId(id).tpe
        id -> Bounds.encode(t, Bounds.truncateLower(t, v, widthFor(id)))
    }
    val upperBounds = maxs.toMap.flatMap {
      case (id, v) if statsValid(id) =>
        val t = schema.byId(id).tpe
        Bounds.truncateUpper(t, v, widthFor(id)).map(u => id -> Bounds.encode(t, u))
      case _ => None
    }
    DataFile(
      content = content,
      filePath = filePath,
      fileFormat = "PARQUET",
      partition = partition,
      recordCount = recordCount,
      fileSizeInBytes = fileSize,
      columnSizes = colSizes.toMap,
      valueCounts = valueCounts.toMap,
      nullValueCounts = nullCounts.toMap.filter { case (id, _) => statsValid(id) },
      lowerBounds = lowerBounds,
      upperBounds = upperBounds,
      splitOffsets = splitOffsets,
      hasFieldIds = Some(fileHasIds))
  }

  /** Plan-time footer opens via [[fileColumns]] — a test hook: after
    * manifests stamp `hasFieldIds` and stats keys, planning a scan should
    * not open any data file.
    */
  val footerReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Whether every top-level column of the file carries a parquet field ID
    * (files we write always do; foreign files typically don't). Used to
    * route scan reads between ID-based and name-mapped resolution.
    */
  def hasFieldIds(filePath: String): Boolean = fileColumns(filePath)._1

  /** (file carries field IDs, table field IDs present among its top-level
    * columns) — IDs matched directly when present, else resolved through the
    * name-mapping index. Drives scan-read routing and initial-default fill.
    */
  def fileColumns(filePath: String,
      nameToId: Map[String, Int] = Map.empty): (Boolean, Set[Int]) = {
    footerReads.incrementAndGet()
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(filePath), conf))
    try {
      val fields = reader.getFooter.getFileMetaData.getSchema.getFields.asScala.toSeq
      val hasIds = fields.nonEmpty && fields.forall(_.getId != null)
      val present =
        if (hasIds) fields.map(_.getId.intValue).toSet
        else fields.flatMap(f => nameToId.get(f.getName)).toSet
      (hasIds, present)
    } finally reader.close()
  }

  /** A zero float bound widened to the signed zero on its side (`sign` -1
    * for a lower bound, 1 for an upper one), as parquet-mr does when it
    * reads a footer back: a file's `0.0` rows may include `-0.0`. The
    * writer's in-memory footer holds the unwidened value, and the same
    * rule makes both folds agree.
    */
  private def widenZero(v: Any, sign: Int): Any = v match {
    case d: Double if d == 0.0 => if (sign < 0) -0.0d else 0.0d
    case f: Float if f == 0.0f => if (sign < 0) -0.0f else 0.0f
    case other => other
  }

  /** Parquet footer stat value → our JVM literal rep for the Iceberg type. */
  private def decodeStat(t: IceType, v: AnyRef): Option[Any] = (t, v) match {
    case (_, null) => None
    case (IceInt | IceDate, i: Integer) => Some(i.intValue())
    case (IceLong | IceTime | IceTimestamp | IceTimestampTz |
          IceTimestampNs | IceTimestampTzNs, l: java.lang.Long) =>
      Some(l.longValue())
    case (IceFloat, f: java.lang.Float) => if (f.isNaN) None else Some(f.floatValue())
    case (IceDouble, d: java.lang.Double) => if (d.isNaN) None else Some(d.doubleValue())
    case (IceString, b: Binary) => Some(b.toStringUsingUTF8)
    case (IceBinary, b: Binary) => Some(b.getBytes)
    case (IceDecimal(_, s), i: Integer) => Some(java.math.BigDecimal.valueOf(i.longValue(), s))
    case (IceDecimal(_, s), l: java.lang.Long) => Some(java.math.BigDecimal.valueOf(l.longValue(), s))
    case (IceDecimal(_, s), b: Binary) =>
      Some(new java.math.BigDecimal(new java.math.BigInteger(b.getBytes), s))
    case (IceBoolean, b: java.lang.Boolean) => Some(b.booleanValue())
    case _ => None
  }
}
