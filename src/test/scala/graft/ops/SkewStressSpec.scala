package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Data-plane skew stress: a planted pathological-df corpus (one stopword in
  * EVERY document) at a scale where the count-join is provably quadratic.
  * PlanningStress covers metadata skew; this pins the DATA side: the
  * cost-based chooser must flip to the prefix plan, and the prefix plan's
  * shuffles must stay CORPUS-linear — row counts read from the executed
  * plan's shuffle-write metrics, not wall time.
  */
final class SkewStressSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private var dir: String = _
  private val N = 25000L // C(N,2) = 3.12e8 joined rows > CountJoinMaxPairs

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("skew-stress-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // every doc: the stopword + three unique tokens → df("the") = N while
    // every prefix under rarity ranking holds only unique tokens
    val d = java.nio.file.Files.createTempDirectory("skew-corpus")
    spark.range(N).select(col("id").as("doc_id"), lit("s").as("source"),
        concat_ws(" ", lit("the"), concat(lit("u"), col("id")),
          concat(lit("v"), col("id")), concat(lit("w"), col("id"))).as("text"))
      .coalesce(4).write.mode("overwrite").parquet(s"$d/documents.parquet")
    dir = d.toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def planted: DataFrame = spark.read.parquet(s"$dir/documents.parquet")

  /** All shuffle-write record counts in the executed (post-AQE) plan. */
  private def shuffleRecordCounts(df: DataFrame): Seq[Long] = {
    def expand(p: SparkPlan): Seq[SparkPlan] = {
      val nested = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => Seq.empty
      }
      p +: (p.children ++ nested ++ p.subqueries).flatMap(expand)
    }
    expand(df.queryExecution.executedPlan)
      .flatMap(_.metrics.get("shuffleRecordsWritten"))
      .map(_.value)
  }

  test("planted stopword makes the count-join quadratic and the estimate sees it") {
    // cap above N → sampling probability 1 → the moment estimate is EXACT
    val est = Dedup.sampleJoinedRows(planted, cap = 60000L)
    assert(est > Dedup.CountJoinMaxPairs,
      s"estimate $est should exceed the count-join budget ${Dedup.CountJoinMaxPairs}")
    assert(math.abs(est - N.toDouble * (N - 1) / 2.0) < 1.0,
      s"exact-sample estimate $est should equal C(N,2)")
  }

  test("prefix plan's candidate stage and shuffles stay corpus-linear under the stopword") {
    QueryScope.run {
      val docs = Dedup.tokensPersisted(planted
        .select(col("doc_id"), col("source"), Dedup.wordSet(col("text")).as("ws")))
      // candidate pairs: rarity ranking keeps the stopword out of every
      // prefix, so the planted corpus yields ZERO candidates — versus the
      // 3.1e8 joined rows the count-join would shuffle
      val cand = Dedup.prefixCandidates(docs, 0.5)
      assert(cand.count() == 0L, "unique-token prefixes must yield no candidates")
      // full registered-shape plan, then read the ACTUAL shuffle-write
      // metrics: every exchange must stay linear in the corpus (explode
      // width 4, plus AQE bookkeeping) — nothing within 100x of C(N,2)
      val pairs = Dedup.jaccardPairsPrefix(spark, dir, 0.5)
      assert(pairs.count() == 0L)
      val counts = shuffleRecordCounts(pairs)
      assert(counts.nonEmpty, "expected shuffle metrics in the executed plan")
      val bound = 10L * N
      assert(counts.max <= bound,
        s"a shuffle carried ${counts.max} rows (> $bound) under the planted stopword")
    }
  }

  test("chunk dedup under a planted boilerplate chunk: no hash key ever carries the corpus") {
    // every doc: one IDENTICAL 3-word boilerplate chunk + one unique chunk.
    // The design claim (chunkDedupStats scaladoc): the boilerplate hash is
    // reduced by the map-side partial aggregate to one combiner cell per
    // task BEFORE the exchange, and kept counts re-aggregate the
    // representatives — never a join back on the hot hash. The executed
    // plan's shuffle-write metrics prove it: with 2N chunk rows, a design
    // that shuffled raw occurrences (or windowed over the hash) would carry
    // ~2N rows into the hash exchange; the partial-aggregated exchange
    // carries ~N (the unique chunks) plus a handful of boilerplate partials.
    val docs = spark.range(N).select(col("id").as("doc_id"),
      concat_ws(" ", lit("b1 b2 b3"), concat(lit("u"), col("id")),
        concat(lit("v"), col("id")), concat(lit("w"), col("id"))).as("text"))
    val out = Dedup.chunkDedupStats(docs, chunkWords = 3)
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == N)
    assert(rows.forall(_._2 == 2L), "every doc splits into exactly 2 chunks")
    // exactly one doc (doc 0) keeps the boilerplate; every doc keeps its
    // unique chunk
    assert(rows.map(_._3).sum == N + 1)
    assert(rows.count(_._4 == 1L) == N - 1)
    val counts = shuffleRecordCounts(out)
    assert(counts.nonEmpty, "expected shuffle metrics in the executed plan")
    val bound = N + N / 10
    assert(counts.max <= bound,
      s"a shuffle carried ${counts.max} rows (> $bound) — the boilerplate " +
        "chunk reached an exchange unreduced")
  }

  test("banded range join's shuffles stay event-linear under a hot user") {
    // hot user 0: 200 views inside one hour + 50 purchases in the next;
    // 1000 cold users with one view + one purchase each. A plan that
    // pre-joined on user alone would carry ~|p|x|v| = 1.3e6 candidate rows
    // for the hot key; the banded plan's exchanges carry each view once
    // and each purchase twice (the 2-bucket explode) — event-linear.
    val d = java.nio.file.Files.createTempDirectory("skew-events")
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    val hot = spark.range(200).select(
      col("id").as("event_id"),
      expr(s"timestamp_millis($base + id * 17000)").as("ts"), // inside hour 10
      lit(0L).as("user_id"), lit("view").as("event_type"),
      lit(1.5).as("value"), lit("{}").as("props"))
      .unionByName(spark.range(50).select(
        (col("id") + 1000).as("event_id"),
        expr(s"timestamp_millis($base + 3630000 + id * 1000)").as("ts"), // hour 11
        lit(0L).as("user_id"), lit("purchase").as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props")))
    val cold = spark.range(1000).select(
      (col("id") + 10000).as("event_id"),
      expr(s"timestamp_millis($base + 7200000 + id * 100)").as("ts"),
      (col("id") + 1).as("user_id"), lit("view").as("event_type"),
      lit(2.0).as("value"), lit("{}").as("props"))
      .unionByName(spark.range(1000).select(
        (col("id") + 20000).as("event_id"),
        expr(s"timestamp_millis($base + 7260000 + id * 100)").as("ts"),
        (col("id") + 1).as("user_id"), lit("purchase").as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props")))
    hot.unionByName(cold).coalesce(2)
      .write.mode("overwrite").parquet(s"$d/events.parquet")

    val out = Temporal.rangeJoin(spark, d.toString)
    val rows = out.collect()
    assert(rows.length == 1050, "every purchase row is kept")
    // the hot purchases each see the hot views inside their lookback
    val hotMatches = rows.filter(_.getLong(1) == 0L).map(_.getLong(2))
    assert(hotMatches.forall(_ > 0L), "hot purchases must match hot views")
    val counts = shuffleRecordCounts(out)
    assert(counts.nonEmpty, "expected shuffle metrics in the executed plan")
    // events-linear bound: 1200 views + 2x1050 exploded purchases + agg
    // rows, with AQE slack — versus the 1.3e6 per-user candidate product
    val bound = 10000L
    assert(counts.max <= bound,
      s"a shuffle carried ${counts.max} rows (> $bound) under the hot user")
  }

  test("LSH band join stays corpus-linear under a planted mass-duplicate corpus") {
    // the classic web-crawl degenerate case: M identical boilerplate pages
    // (every copy lands in the SAME 16 band buckets) + unique filler. An
    // ungated band self-join would push 16·C(M,2) ≈ 72M rows into the
    // distinct exchange and hand each band's whole bucket to one reducer;
    // the BandBucketCap sub-bucketing caps every exchange corpus-linear,
    // and its deterministic salt is restated here in plain Scala so the
    // emitted candidate set is checked EXACTLY, not just bounded.
    val M = 3000
    val cap = 32
    val d = java.nio.file.Files.createTempDirectory("skew-massdup")
    val dups = spark.range(M).select(col("id").as("doc_id"),
      lit("s").as("source"),
      lit("boiler plate page text repeated verbatim across the crawl").as("text"))
    val uniques = spark.range(500).select((col("id") + 1000000L).as("doc_id"),
      lit("s").as("source"),
      concat(lit("unique"), col("id"), lit(" filler"), col("id") * 7).as("text"))
    dups.unionByName(uniques).coalesce(2)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    QueryScope.run {
      val pairs = Dedup.minhashCandidates(spark, d.toString, 0.5, bucketCap = cap)
      val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // Scala restatement of saltBands: identical docs share every band
      // bucket (n = M per band), S = ceil(M/cap) sub-buckets, pairs only
      // within a sub-bucket; est_jaccard = 1.0 for identical sigs
      val p = 2147483647L
      val s = (M + cap - 1) / cap
      val expected = (0 until 16).iterator.flatMap { b =>
        (0L until M.toLong).groupBy(id =>
          ((id % p) * 1000003L + b) % p % s).valuesIterator.flatMap { g =>
          val ids = g.sorted
          for (i <- ids.indices.iterator; j <- (i + 1) until ids.size)
            yield (ids(i), ids(j))
        }
      }.toSet
      assert(got === expected,
        "capped candidate set must equal the salt fold's exact restatement")
      // corpus-linear shuffle bound: ~16·M·cap/2 ≈ 0.8M pair rows max vs
      // the 4.5M-per-band quadratic an ungated join would shuffle
      val counts = shuffleRecordCounts(pairs)
      assert(counts.nonEmpty, "expected shuffle metrics in the executed plan")
      val bound = 2000000L
      assert(counts.max <= bound,
        s"a shuffle carried ${counts.max} rows (> $bound) under the mass-dup corpus")
      assert(counts.max < M.toLong * (M - 1) / 2,
        "shuffles must stay below the single-bucket quadratic")
    }
  }

  test("sub-bucketing is a no-op on a corpus with no hot buckets") {
    QueryScope.run {
      val real = "/root/testdata/sf0.001"
      val a = QueryScope.run {
        Dedup.minhashCandidates(spark, real, 0.5)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      }
      val b = Dedup.minhashCandidates(spark, real, 0.5, bucketCap = Int.MaxValue)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(a === b, "default cap must not change cool-corpus candidates")
    }
  }

  test("containment chooser flips to the prefix-probe plan under the stopword") {
    QueryScope.run {
      val before = Dedup.containmentPrefixPlans.get()
      val out = Dedup.adaptiveContainment(planted, 0.9, statsHint = None)
      assert(out.count() == 0L)
      assert(Dedup.containmentPrefixPlans.get() == before + 1,
        "quadratic-moment corpus must route containment to the prefix-probe plan")
      val counts = shuffleRecordCounts(out)
      assert(counts.nonEmpty && counts.max <= 10L * N,
        s"containment prefix-probe shuffle carried ${counts.max} rows")
    }
  }
}
