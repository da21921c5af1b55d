package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** One registered engine operation: a Spark DataFrame program plus (when
  * SQL-expressible) an equivalent ANSI SQL oracle the driver runs in DuckDB
  * over the same parquet tables.
  *
  * Determinism contract for oracles (the driver hash-compares values):
  *   - sums over doubles are computed over values first cast to DECIMAL, so
  *     the aggregate is exact and independent of addition order;
  *   - averages/ratios are a single IEEE double division of two exact values;
  *   - top-n queries always carry a unique tiebreak key in the ORDER BY;
  *   - every aggregate/computed column is cast to an identical type and
  *     aliased to an identical name on both sides;
  *   - boolean flags are emitted as BIGINT 0/1 on both engines (pyarrow
  *     renders Python True, DuckDB true — a direct boolean column would
  *     hash-mismatch on rendering alone);
  *   - NO final output column may be DECIMAL (or DuckDB HUGEINT): the
  *     driver renders Spark parquet decimals as python Decimal ('253942.00')
  *     but DuckDB results as float64 ('253942.0'), so trailing-zero scale
  *     hash-mismatches even when values are bit-exact. Keep the internal
  *     math decimal-exact, then CAST the final column to DOUBLE (or BIGINT
  *     for integral window/count results) on BOTH engines.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** THE canonical text normalization, shared by every text/dedup operator
  * and restated as `regexp_replace(lower(text), '\s+', ' ', 'g')` in every
  * DuckDB oracle. The whitespace class is written OUT on the engine side
  * because the two regex engines disagree on `\s`: Java's includes U+000B
  * (vertical tab) while DuckDB's RE2 `\s` is exactly `[\t\n\f\r ]` — a
  * document containing U+000B would tokenize differently per engine and
  * silently break every hash-exact contract built on this normalization.
  * With the explicit class both engines collapse exactly the same
  * characters. One definition site: a dozen hand-copied tokenizers is how
  * the engine and its oracles drift apart.
  */
private[graft] object Tok {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{lower, regexp_replace, split}

  /** RE2 `\s`, spelled out (Java `\s` additionally matches U+000B). */
  val WsClass = "[ \\t\\n\\f\\r]+"

  /** lowercased text with whitespace runs collapsed to single spaces. */
  def norm(c: Column): Column = regexp_replace(lower(c), WsClass, " ")

  /** the canonical word list (ordered, with duplicates). */
  def words(c: Column): Column = split(norm(c), " ")
}

object QueryDef {
  /** Scale-adaptive map-side parallelism guard (optimization guide §2.5,
    * "input skew: one huge unsplittable file ... repartition immediately
    * after the read"). The driver testdata ships every table as ONE
    * single-row-group parquet file, so a scan arrives as a single split no
    * matter what `maxPartitionBytes` says — and everything between the scan
    * and the first exchange (tokenization regexes, MD5 signature hashing,
    * explode, join probes, partial aggregation) runs on one core while the
    * rest idle (measured r21: dedup_jaccard_pairs spent 4.7 of 5.3 s in one
    * such task). Widening to the session's default parallelism costs one
    * corpus-linear round-robin exchange of the RAW rows and unlocks cores×
    * on all map-side compute above it.
    *
    * Scale posture: the guard is conditional — a deployment-scale input
    * already arrives in ≥ cores splits, the condition is false, and this is
    * a no-op. Nothing is tuned to local[32]; the target is the session's own
    * parallelism. Apply it ONLY where heavy per-row compute sits between the
    * scan and the first exchange — a plain scan+filter+tiny-agg query is
    * better off without the extra exchange.
    *
    * Correctness: results are row-order-independent everywhere this is used
    * (aggregates, pair sets, per-row maps), and round-robin repartition is
    * deterministic under retries (sortBeforeRepartition, on by default).
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Read one driver-generated table (TESTDATA.md) from the given sf dir.
    *
    * `events.ts` has shipped as both parquet TIMESTAMP(NANOS) (which Spark's
    * reader rejects without the nanos-as-long legacy conf) and plain
    * TIMESTAMP(MICROS), depending on testdata generation. Keep the legacy
    * conf on so a nanos file reads as long, then branch on the ACTUAL read
    * schema: a LongType `ts` is nanos needing the ns→µs conversion (the
    * testdata carries whole-microsecond values, so it is lossless and
    * matches DuckDB's ns→µs cast); a timestamp `ts` is normalized to
    * session-tz TIMESTAMP so both paths yield the IDENTICAL schema — the
    * type every downstream query (unix_micros in q_sessionize, streaming
    * watermarks) and every green oracle compare was built against. All
    * entry points run with session tz UTC, so the NTZ→TIMESTAMP cast is
    * lossless. Reads go through the per-session schema cache
    * ([[readParquet]]).
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      graft.GraftSession.ensurePrepared(spark) // nanos-as-long read conf
      val raw = readParquet(spark, s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", org.apache.spark.sql.functions.expr(
            "timestamp_micros(ts div 1000)"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
        case _ => raw
      }
    } else {
      readParquet(spark, s"$dir/$name.parquet")
    }
  }

  /** A parquet file's identity for schema reuse. The nanos-as-long conf is
    * part of it: it changes the inferred type of a TIMESTAMP(NANOS) column.
    */
  private final case class SchemaKey(path: String, length: Long, modified: Long,
      nanosAsLong: String)

  /** Inferred schemas per session. Weak keys: a stopped session's cache
    * goes with it.
    */
  private val schemaCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[SchemaKey, StructType]]())

  /** `spark.read.parquet(path)` with the inferred schema cached per
    * session. Inference is a Spark job (80–200 ms a read); a file with the
    * same path, length and modification time has the same footer, so a
    * repeat read supplies the cached schema and runs no job. A directory
    * is inferred on every read: its own status does not track its files.
    * A missing path goes straight to Spark, which reports it.
    */
  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val status =
      try Some(p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    status.filterNot(_.isDirectory) match {
      case None => spark.read.parquet(path)
      case Some(st) =>
        val key = SchemaKey(st.getPath.toString, st.getLen, st.getModificationTime,
          spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"))
        val cache = schemaCache.computeIfAbsent(spark,
          _ => new java.util.concurrent.ConcurrentHashMap[SchemaKey, StructType]())
        Option(cache.get(key)) match {
          case Some(schema) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            cache.put(key, df.schema)
            df
        }
    }
  }
}
