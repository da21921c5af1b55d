package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, one client.
  *
  * {{{
  * Main --workload <query_mix|ingest_mor|plan_scale> --seed <n> --seconds <s>
  *      --trace <0|1> --data <sf0.1 dir> --work <scratch dir> --out <dir>
  *      [--record-expected]
  * }}}
  *
  * The last stdout line is the result: `correct`, `attempted`, `failed` and
  * the end-to-end metrics (untraced) or the per-layer metrics (traced). A
  * set-up failure throws, so the run exits nonzero without a result.
  */
object Main {
  val Workloads = Seq("query_mix", "ingest_mor", "plan_scale")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val record = args.contains("--record-expected")
    val traced = need("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(need("work")).toAbsolutePath
    val out = Paths.get(need("out")).toAbsolutePath
    Files.createDirectories(work)
    Files.createDirectories(out)

    val t0 = System.nanoTime()
    val spark = graft.GraftSession.prepare(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    val sessionSec = (System.nanoTime() - t0) / 1e9
    try {
      val ctx = new Ctx(spark, new Tracer(traced, spark.sparkContext),
        need("seed").toLong, need("seconds").toInt, need("data"), work,
        Paths.get(sys.props.getOrElse("graftbench.dir", ".")).toAbsolutePath)
      def phase(what: String): Unit = System.err.println(
        f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.1f s: $what")
      phase("session ready")
      val o = workload match {
        case "query_mix" => QueryMix.run(ctx, record)
        case "ingest_mor" => IngestMor.run(ctx)
        case "plan_scale" => PlanScale.run(ctx)
      }
      phase("workload done")
      val (spans, jobTotals) = ctx.tracer.finish()
      val heapMb = retainedHeapMb()
      phase("heap measured")
      val ms = o.log.latencyMs.toSeq
      require(ms.nonEmpty, "no operation succeeded")
      val activeSec = o.measuredSec - o.log.untimedSec
      val opsPerMin = ms.size * 60 / activeSec
      // the workload's own figures, p90s included: a run's few dozen
      // operations leave fewer than ten samples beyond a p90, too few for
      // a bounded end-to-end metric
      println(Json.metrics(o.detail ++ Seq(("samples", ms.size.toDouble, "count"),
        ("session_s", sessionSec, "s"), ("setup_runs", o.setupSec.size.toDouble, "count"))))
      val metrics =
        if (!traced) Seq(
          ("setup_s", Stats.median(o.setupSec), "s"),
          ("heap_retained_mb", heapMb, "MB"),
          ("op_p50_ms", Stats.median(ms), "ms"),
          ("ops_per_min", opsPerMin, "1/min"))
        else {
          val layers = Layers(spans, jobTotals, ms.size, cores, o.layer)
          val file = out.resolve(s"trace-$workload-${ctx.seed}.jsonl")
          Files.write(file, Tracer.toJsonLines(spans).toSeq.asJava)
          if (workload == "query_mix") println(Layers.shuffleFingerprint(spans, jobTotals))
          System.err.println(s"[perfbench] ${spans.size} spans written to $file")
          layers ++ Seq(
            ("trace.op_p50_ms", Stats.median(ms), "ms"),
            ("trace.ops_per_min", opsPerMin, "1/min"))
        }
      val correct = o.log.failed == 0
      println(s"""{"correct":$correct,"attempted":${o.log.attempted},""" +
        s""""failed":${o.log.failed},"metrics":${Json.metrics(metrics)}}""")
    } finally spark.stop()
  }

  /** Heap still in use after full collections, in MiB. Collects until the
    * figure stops falling: Spark's context cleaner releases broadcasts and
    * shuffle state only after a collection has cleared their references.
    */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Double = {
      System.gc(); Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = collect()
    var now = collect()
    var rounds = 2
    while (now < prev - 1 && rounds < 8) { prev = now; now = collect(); rounds += 1 }
    now
  }
}
