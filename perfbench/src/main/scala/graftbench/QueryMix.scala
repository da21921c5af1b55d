package graftbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** `query_mix`: a closed loop of one client running registered read-only
  * queries over the sf0.1 parquet inputs, in a seeded order per pass. Each
  * operation is one query: build its DataFrame (`QueryDef.fn`, the `ops`
  * layer), plan it (`queryExecution.executedPlan`) and run it to a
  * one-row fingerprint of its whole output (the action).
  */
object QueryMix {

  /** Read-only registered queries that need no Iceberg fixture tables: the
    * TPC-H relational, `events_*`, `text_*`/`pipeline_*` and fixture-free
    * `dedup_*`/`sim_*` families.
    */
  val Queries: Seq[String] = Seq(
    "q3_shipping_priority", "q6_revenue_forecast", "q12_shipmode_priority",
    "q14_promo_revenue", "q19_disjunctive",
    "events_value_histogram", "q_events_hourly",
    "text_fingerprint", "pipeline_pii_scrub",
    "dedup_exact", "sim_bruteforce_topk", "sim_range_search")

  val Inputs: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Row count and an order-independent hash of every output row. */
  def fingerprint(df: DataFrame): DataFrame =
    df.select(xxhash64(to_json(struct(col("*")))).as("h"))
      .agg(count(lit(1)).as("rows"), sum(col("h").cast(DecimalType(38, 0))).as("hash"))

  def expectedFile(ctx: Ctx) = ctx.benchDir.resolve("expected").resolve("query_mix.tsv")

  def run(ctx: Ctx, record: Boolean): Outcome = {
    val spark = ctx.spark
    val registry = graft.SparkEntry.queries
    Queries.foreach(q => require(registry.contains(q), s"query $q is not registered"))
    val expected: Map[String, (Long, BigDecimal)] =
      if (record) Map.empty
      else Files.readAllLines(expectedFile(ctx)).asScala.map(_.split('\t'))
        .map(a => a(0) -> (a(1).toLong, BigDecimal(a(2)))).toMap

    // set-up: open every input (footer and schema inference), three times
    val setup = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      Inputs.foreach(t => require(spark.read.parquet(s"${ctx.data}/$t.parquet").schema.nonEmpty,
        s"input $t has no columns"))
      (System.nanoTime() - t0) / 1e9
    }

    val log = new OpLog(ctx)
    val seen = scala.collection.mutable.Map.empty[String, (Long, BigDecimal)]
    def pass(): Unit = ctx.rng.shuffle(Queries).foreach { name =>
      log.op("query", name) {
        val df = ctx.call("ops", "build")(registry(name)(spark, ctx.data))
        val fp = fingerprint(df)
        ctx.call("spark", "plan")(fp.queryExecution.executedPlan)
        val row = ctx.call("spark", "action")(fp.collect().head)
        (row.getLong(0), BigDecimal(row.getDecimal(1)))
      } { got =>
        val prev = seen.getOrElseUpdate(name, got)
        Check(prev == got, s"$name: $got differs from an earlier pass's $prev")
        if (!record) Check(expected.get(name).contains(got),
          s"$name: $got, expected ${expected.get(name)}")
      }
    }

    // two warm-up passes, untimed, their results checked too: the first
    // compiles every query's generated code, the second lets the JIT
    // settle (after one warm-up pass, the next pass ran up to 2.3× slower
    // per query than the passes after it)
    pass()
    if (record) {
      Files.createDirectories(expectedFile(ctx).getParent)
      Files.write(expectedFile(ctx), Queries.sorted.map(q =>
        s"$q\t${seen(q)._1}\t${seen(q)._2}").asJava)
    }
    pass()
    // whole passes only, so every query weighs the same in the percentiles
    val sec = ctx.measure(log) {
      val t0 = System.nanoTime()
      var passes = 0
      while (passes == 0 || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
        pass(); passes += 1
      }
    }
    val ms = log.latencyMs.toSeq
    Outcome(setup, log, sec, Seq(
      ("query_p50_ms", Stats.median(ms), "ms"),
      ("query_p90_ms", Stats.quantile(ms, 0.9), "ms"),
      ("queries_per_min", ms.size * 60 / sec, "1/min")), Map.empty)
  }
}
