package graft.ops

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Planted-scenario semantics for the behavioral-analytics batch (funnel,
  * retention, path mining) and the two exact-integer iterative operators
  * (fixed-point PageRank, micro-quantized Lloyd's k-means). The iterative
  * tests assert hand-computed integer update values — the same arithmetic
  * the DuckDB oracle replays — so a drift in the stated update rule fails
  * here before it fails the cross-engine hash gate.
  */
class AnalyticsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("analytics-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def eventsDir(
      rows: Seq[(Long, String, Long, String, Double, String)]): String = {
    val dir = Files.createTempDirectory("graft-analytics").toString
    val sq = spark
    import sq.implicits._
    rows.map { case (id, t, u, typ, v, p) => (id, ts(t), u, typ, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    dir
  }

  test("funnel: strictly-after staging, one row per stage, equal-ts click excluded") {
    // u1 completes all 3 stages; u2's click precedes its view (stage 2 no);
    // u3 views then purchases with no click (stage 3 needs stage 2 — no);
    // u4's click lands at EXACTLY its first view ts (strictly-after → no).
    val dir = eventsDir(Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0, "{}"),
      (2L, "2024-01-01 10:01:00", 1L, "click", 0.0, "{}"),
      (3L, "2024-01-01 10:02:00", 1L, "purchase", 0.0, "{}"),
      (4L, "2024-01-01 09:00:00", 2L, "click", 0.0, "{}"),
      (5L, "2024-01-01 09:30:00", 2L, "view", 0.0, "{}"),
      (6L, "2024-01-01 08:00:00", 3L, "view", 0.0, "{}"),
      (7L, "2024-01-01 08:10:00", 3L, "purchase", 0.0, "{}"),
      (8L, "2024-01-01 07:00:00", 4L, "view", 0.0, "{}"),
      (9L, "2024-01-01 07:00:00", 4L, "click", 0.0, "{}")))
    val out = Analytics.funnel(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(out === Seq(
      (1L, "view", 4L, 1.0),
      (2L, "click_after_view", 1L, 0.25),
      (3L, "purchase_after_click", 1L, 0.25)))
  }

  test("funnel: empty stages still emit rows (0 users), matching the oracle's scalar counts") {
    val dir = eventsDir(Seq((1L, "2024-01-01 10:00:00", 1L, "view", 0.0, "{}")))
    val out = Analytics.funnel(spark, dir).collect()
    assert(out.length === 3)
    assert(out.map(_.getLong(2)).sorted === Seq(0L, 0L, 1L))
  }

  test("retention: integer week cohorts, offset-0 carries the full cohort") {
    // Week index = epoch_us div 604800e6 (1970-01-01 is week 0's Thursday).
    // u1 active wk0 + wk2, u2 wk0 only, u3 wk1 only.
    val dir = eventsDir(Seq(
      (1L, "1970-01-02 00:00:00", 1L, "view", 0.0, "{}"),
      (2L, "1970-01-15 00:00:00", 1L, "view", 0.0, "{}"),
      (3L, "1970-01-03 00:00:00", 2L, "view", 0.0, "{}"),
      (4L, "1970-01-09 00:00:00", 3L, "view", 0.0, "{}")))
    val out = Analytics.retention(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    assert(out === Seq(
      (0L, 0L, 2L, 1.0),
      (0L, 2L, 1L, 0.5),
      (1L, 0L, 1L, 1.0)))
  }

  test("top paths: 30-min gap sessionization, 5-event prefix cap, rn-ordered join") {
    // u1: one session of 7 events (path capped at first 5), then a >30-min
    // gap starting a second session; u2 repeats u1's opening pattern.
    val dir = eventsDir(Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0, "{}"),
      (2L, "2024-01-01 10:01:00", 1L, "view", 0.0, "{}"),
      (3L, "2024-01-01 10:02:00", 1L, "click", 0.0, "{}"),
      (4L, "2024-01-01 10:03:00", 1L, "view", 0.0, "{}"),
      (5L, "2024-01-01 10:04:00", 1L, "purchase", 0.0, "{}"),
      (6L, "2024-01-01 10:05:00", 1L, "click", 0.0, "{}"),
      (7L, "2024-01-01 10:06:00", 1L, "error", 0.0, "{}"),
      (8L, "2024-01-01 11:00:00", 1L, "signup", 0.0, "{}"),
      (9L, "2024-01-01 10:00:00", 2L, "view", 0.0, "{}"),
      (10L, "2024-01-01 10:01:00", 2L, "view", 0.0, "{}"),
      (11L, "2024-01-01 10:02:00", 2L, "click", 0.0, "{}"),
      (12L, "2024-01-01 10:03:00", 2L, "view", 0.0, "{}"),
      (13L, "2024-01-01 10:04:00", 2L, "purchase", 0.0, "{}")))
    val out = Analytics.topPaths(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out === Seq(
      ("view>view>click>view>purchase", 2L),
      ("signup", 1L)))
  }

  test("pagerank: hand-computed 3-iteration fixed-point values on a 2-node graph") {
    // Single transition 1→2. N=2, r0 = 5e11 each. Per the stated rule:
    //   r1(1) = 3e12 div 40 = 75e9;  r1(2) = 75e9 + 17*5e11 div 20 = 5e11
    //   r2(2) = 75e9 + 17*75e9 div 20 = 138_750_000_000;  r3 = r2.
    val dir = eventsDir(Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0, """{"k": 1}"""),
      (2L, "2024-01-01 10:01:00", 1L, "view", 0.0, """{"k": 2}""")))
    val out = Analytics.itemPagerank(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(out === Seq((1L, 75000000000L), (2L, 138750000000L)))
  }

  test("pagerank: self-transitions and repeated items drop out of the edge set") {
    // 1→1 (dropped), 1→2, 2→2 (dropped): edges = {1→2} only, so ranks
    // must equal the 2-node case above.
    val dir = eventsDir(Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0, """{"k": 1}"""),
      (2L, "2024-01-01 10:01:00", 1L, "view", 0.0, """{"k": 1}"""),
      (3L, "2024-01-01 10:02:00", 1L, "view", 0.0, """{"k": 2}"""),
      (4L, "2024-01-01 10:03:00", 1L, "view", 0.0, """{"k": 2}""")))
    val out = Analytics.itemPagerank(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(out === Seq((1L, 75000000000L), (2L, 138750000000L)))
  }

  private def embeddingsDir(rows: Seq[(Long, Array[Float], Int)]): String = {
    val dir = Files.createTempDirectory("graft-analytics-emb").toString
    val sq = spark
    import sq.implicits._
    rows.map { case (id, e, l) => (id, e.toSeq, l) }
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("k-means: duplicated init points converge to zero inertia, size-2 clusters") {
    // vec 0..7 sit at 8 well-separated points (the init centers); vec
    // 8..15 duplicate them exactly. Lloyd's must pair each duplicate with
    // its init center: every cluster n=2, inertia 0.
    val base = (0 until 8).map { j =>
      val v = Array.fill(64)(0.0f); v(j) = 0.5f; v
    }
    val rows = (0 until 8).map(j => (j.toLong, base(j), j)) ++
      (0 until 8).map(j => (j.toLong + 8, base(j), j))
    val dir = embeddingsDir(rows)
    val out = Analytics.kmeansCorpus(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(out === (0L until 8L).map(j => (j, 2L, 0L)))
  }

  test("k-means: empty clusters keep their center; reassignment is low-index tiebroken") {
    // All 10 corpus vectors coincide at init center 0's point except the
    // init rows themselves — clusters 1..7 keep their (never-matched)
    // centers and vanish from the final assignment; every duplicate lands
    // in cluster 0 with zero distance.
    val base = (0 until 8).map { j =>
      val v = Array.fill(64)(0.0f); v(j) = 0.5f; v
    }
    val rows = (0 until 8).map(j => (j.toLong, base(j), j)) ++
      (8 until 18).map(j => (j.toLong, base(0), 0))
    val dir = embeddingsDir(rows)
    val out = Analytics.kmeansCorpus(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // After round 1, cluster 0's center stays at base(0) (it owns vec 0 +
    // the 10 duplicates); clusters 1..7 own exactly their init row. Final:
    // cluster 0 has 11 members at inertia 0, clusters 1..7 one member each.
    assert(out === ((0L, 11L, 0L) +: (1L until 8L).map(j => (j, 1L, 0L))))
  }

  test("engagement: windows look back, inner-join drops inactive days, range clips") {
    // u1 active on days 0 and 3, u2 on day 0 (epoch days; 1970-01-01 = 0).
    // Day 3's WAU/MAU must see both users' day-0 activity; days 1-2 have
    // no DAU so no row; targets past day 3 are clipped.
    val dir = eventsDir(Seq(
      (1L, "1970-01-01 05:00:00", 1L, "view", 0.0, "{}"),
      (2L, "1970-01-04 05:00:00", 1L, "view", 0.0, "{}"),
      (3L, "1970-01-01 06:00:00", 2L, "view", 0.0, "{}")))
    val out = Analytics.engagement(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .sortBy(_._1)
    assert(out === Seq((0L, 2L, 2L, 2L, 1.0), (3L, 1L, 2L, 2L, 0.5)))
  }

  private def documentsDir(rows: Seq[(Long, String, String, String, Long)]): String = {
    val dir = Files.createTempDirectory("graft-analytics-docs").toString
    val sq = spark
    import sq.implicits._
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("length quantiles: percentile_disc positions over 1..10 per language") {
    // ceil(q*n) selection on n=10 distinct lengths: p50=5, p90=9, p99=10.
    val dir = documentsDir((1 to 10).map(i =>
      (i.toLong, "x", "en", "crawl", i.toLong)))
    val out = Analytics.lengthQuantiles(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out === Seq(("en", 10L, 5L, 9L, 10L)))
  }

  test("triangles: a 3-cycle of transitions yields one oriented triangle") {
    val dir = eventsDir(Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0, """{"k": 1}"""),
      (2L, "2024-01-01 10:01:00", 1L, "view", 0.0, """{"k": 2}"""),
      (3L, "2024-01-01 10:02:00", 1L, "view", 0.0, """{"k": 3}"""),
      (4L, "2024-01-01 10:03:00", 1L, "view", 0.0, """{"k": 1}""")))
    val out = Analytics.itemTriangles(spark, dir).collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2)) === ((1L, 3L, 3L)))
  }

  private def ordersDir(rows: Seq[(Long, String, Double)]): String = {
    val dir = Files.createTempDirectory("graft-analytics-orders").toString
    val sq = spark
    import sq.implicits._
    rows.map { case (k, d, p) => (k, ts(d), p) }
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    dir
  }

  test("skyline: strictly-improving per-date minima survive, equal minima tie-keep") {
    // d1 min 50 (first date, kept); d2 min 40 < 50 (kept, BOTH 40.00 rows
    // — equal points don't dominate each other); d3 min 40 is not < 40
    // (dominated by d2's earlier equal price, dropped).
    val dir = ordersDir(Seq(
      (1L, "1995-01-01 00:00:00", 100.0),
      (2L, "1995-01-01 00:00:00", 50.0),
      (3L, "1995-02-01 00:00:00", 40.0),
      (4L, "1995-02-01 00:00:00", 60.0),
      (6L, "1995-02-01 00:00:00", 40.0),
      (5L, "1995-03-01 00:00:00", 40.0)))
    val out = Analytics.orderSkyline(spark, dir)
      .collect().map(_.getLong(0)).sorted
    assert(out === Seq(2L, 3L, 6L))
  }

  test("frequent pairs: per-session distinct co-occurrence, cross-session support adds up") {
    // u1 session A items {1,2,3} (item 2 repeats — counted once), then a
    // >30-min gap starts session B {1,2}; u2 has {1,2}. Support:
    // (1,2)=3, (1,3)=1, (2,3)=1.
    val dir = eventsDir(Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0, """{"k": 1}"""),
      (2L, "2024-01-01 10:01:00", 1L, "view", 0.0, """{"k": 2}"""),
      (3L, "2024-01-01 10:02:00", 1L, "view", 0.0, """{"k": 2}"""),
      (4L, "2024-01-01 10:03:00", 1L, "view", 0.0, """{"k": 3}"""),
      (5L, "2024-01-01 11:00:00", 1L, "view", 0.0, """{"k": 1}"""),
      (6L, "2024-01-01 11:01:00", 1L, "view", 0.0, """{"k": 2}"""),
      (7L, "2024-01-01 10:00:00", 2L, "view", 0.0, """{"k": 1}"""),
      (8L, "2024-01-01 10:05:00", 2L, "view", 0.0, """{"k": 2}""")))
    val out = Analytics.frequentPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out === Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 3L, 1L)))
  }

  test("hybrid RRF: dual-system docs outrank single-system, absent ranks are -1") {
    val dir = Files.createTempDirectory("graft-analytics-rrf").toString
    val sq = spark
    import sq.implicits._
    // doc 1 hits every BM25 query term AND has the query-identical
    // embedding; doc 2 is sparse-only; vec 9 is dense-only (no document)
    Seq(
      (1L, "hash join vector stream spark", "en", "crawl", 29L),
      (2L, "hash table lookup", "en", "crawl", 17L),
      (3L, "nothing relevant at all", "en", "crawl", 23L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    def vec(hot: Int): Seq[Float] = {
      val v = Array.fill(64)(0.0f); v(hot) = 1.0f; v.toSeq
    }
    Seq((0L, vec(0), 0), (1L, vec(0), 0), (9L, vec(3), 1))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val out = Analytics.hybridRrf(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    def c(rank: Int): Long = math.round(1e9 / (60 + rank))
    // doc 1: sparse rank 1 (only doc with all 5 terms) + dense rank 1
    // (cosine 1.0 to the query embedding)
    assert(out.head === ((1L, c(1) + c(1), 1, 1)))
    val byDoc = out.map(r => r._1 -> r).toMap
    assert(byDoc(2L)._4 === -1, "sparse-only doc must carry dense_rank -1")
    assert(byDoc(2L)._2 === c(byDoc(2L)._3))
    assert(byDoc(9L)._3 === -1, "dense-only vec must carry sparse_rank -1")
    assert(byDoc(9L)._2 === c(byDoc(9L)._4))
  }

  test("session_window boundary: exactly 30 minutes MERGES (inclusive endpoint), over-gap splits") {
    val dir = eventsDir(Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0, "{}"),
      (2L, "2024-01-01 10:30:00", 1L, "view", 0.0, "{}"), // exactly 30m → merges
      (3L, "2024-01-01 11:00:01", 1L, "view", 0.0, "{}"), // 30m01s → splits
      (4L, "2024-01-01 09:00:00", 2L, "view", 0.0, "{}")))
    val out = Analytics.sessionWindows(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(3))).sorted
    // u1: the exactly-30-minute follow-up merges (same rule as
    // q_sessionize's `gap > 30min splits`), the 30m01s one starts fresh
    assert(out === Seq((1L, 2L), (1L, 1L), (2L, 1L)).sorted)
  }

  test("markov transitions: per-source probabilities are exact w/ow and sum to 1") {
    // path 1,2,3,1,2,1,3 → transitions (1→2)×2, (1→3)×1, (2→3), (3→1), (2→1)
    val dir = eventsDir(Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0, """{"k": 1}"""),
      (2L, "2024-01-01 10:01:00", 1L, "view", 0.0, """{"k": 2}"""),
      (3L, "2024-01-01 10:02:00", 1L, "view", 0.0, """{"k": 3}"""),
      (4L, "2024-01-01 10:03:00", 1L, "view", 0.0, """{"k": 1}"""),
      (5L, "2024-01-01 10:04:00", 1L, "view", 0.0, """{"k": 2}"""),
      (6L, "2024-01-01 10:05:00", 1L, "view", 0.0, """{"k": 1}"""),
      (7L, "2024-01-01 10:06:00", 1L, "view", 0.0, """{"k": 3}""")))
    val out = Analytics.markovTransitions(spark, dir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
    assert(out((1L, 2L)) === ((2L, 2.0 / 3.0)))
    assert(out((1L, 3L)) === ((1L, 1.0 / 3.0)))
    assert(out((2L, 3L)) === ((1L, 0.5)))
    assert(out((2L, 1L)) === ((1L, 0.5)))
    assert(out((3L, 1L)) === ((1L, 1.0)))
  }

  test("value histogram: floor-div binning with the clamp bin") {
    // 20-unit bins: 0.5→bin 0, 19.9999→bin 0, 20.0→bin 1, 1e6→clamped 25
    val dir = eventsDir(Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.5, "{}"),
      (2L, "2024-01-01 10:01:00", 1L, "view", 19.9999, "{}"),
      (3L, "2024-01-01 10:02:00", 1L, "view", 20.0, "{}"),
      (4L, "2024-01-01 10:03:00", 1L, "view", 1000000.0, "{}")))
    val out = Analytics.valueHistogram(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2))).sorted
    assert(out === Seq((0L, 2L), (1L, 1L), (25L, 1L)))
  }

  test("balance quartiles: ntile front-loads remainders, percent_rank is (rank-1)/(n-1)") {
    val dir = Files.createTempDirectory("graft-analytics-ntile").toString
    val sq = spark
    import sq.implicits._
    // 6 customers in one nation: ntile(4) buckets of sizes 2,2,1,1 —
    // quartile 1 holds the top TWO balances
    (1 to 6).map(i => (i.toLong, 7L, (100 - i).toDouble))
      .toDF("c_custkey", "c_nationkey", "c_acctbal")
      .coalesce(1).write.parquet(s"$dir/customer.parquet")
    val out = Analytics.balanceQuartiles(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getDouble(5))).sortBy(_._1)
    assert(out === Seq((1L, 1L, 0.0), (2L, 2L, 0.2)))
  }

  test("fuzzy name match: same-nation blocking, edit-distance threshold") {
    val dir = Files.createTempDirectory("graft-analytics-fuzzy").toString
    val sq = spark
    import sq.implicits._
    Seq((1L, "Customer#000000042", 7L), (2L, "Customer#000000999", 7L),
      (3L, "Customer#000000042", 8L))
      .toDF("c_custkey", "c_name", "c_nationkey")
      .coalesce(1).write.parquet(s"$dir/customer.parquet")
    Seq((10L, "Supplier#000000042", 7L), (11L, "Supplier#000000043", 7L),
      (12L, "Supplier#000000042", 9L))
      .toDF("s_suppkey", "s_name", "s_nationkey")
      .coalesce(1).write.parquet(s"$dir/supplier.parquet")
    val out = Analytics.fuzzyNameMatch(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sorted
    // c1 matches s10 (dist 0) and s11 (dist 1) in nation 7; c2's suffix is
    // 3 edits from both; c3/s12 share suffixes but not nations
    assert(out === Seq((1L, 10L, 0L), (1L, 11L, 1L)))
  }

  test("PMI bigrams: hand-computed ln score in micro-units, support filter") {
    // "x y" ×5 in one doc: c(x,y)=5, c(y,x)=4 (below support), c_x=c_y=5,
    // N=10 → pmi(x,y) = ln(5·10/25) = ln 2 → 6931 micro
    val dir = documentsDir(Seq(
      (1L, "x y x y x y x y x y", "en", "crawl", 19L)))
    val out = Analytics.pmiBigrams(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out === Seq(("x", "y", 5L, 6931L)))
  }

  test("props profile: every JSON key counted, share is exact") {
    val dir = eventsDir(Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0, """{"k": 1, "src": "ad"}"""),
      (2L, "2024-01-01 10:01:00", 1L, "view", 0.0, """{"k": 2}"""),
      (3L, "2024-01-01 10:02:00", 1L, "view", 0.0, """{"other": true}"""),
      (4L, "2024-01-01 10:03:00", 1L, "view", 0.0, "{}")))
    val out = Analytics.propsProfile(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(out === Seq(("k", 2L, 0.5), ("other", 1L, 0.25), ("src", 1L, 0.25)))
  }

  test("value outliers: a planted far-out value is the only |z| > 3 event") {
    // 11 events of one type: ten at 1.0, one at 100.0 — only the spike's
    // z-score clears 3; a second type with uniform values emits nothing.
    val rows = (1 to 10).map(i =>
      (i.toLong, f"2024-01-01 10:${i}%02d:00", 1L, "view", 1.0, "{}")) ++
      Seq((11L, "2024-01-01 11:00:00", 1L, "view", 100.0, "{}"),
        (12L, "2024-01-01 11:01:00", 2L, "click", 5.0, "{}"),
        (13L, "2024-01-01 11:02:00", 2L, "click", 5.0, "{}"))
    val out = Analytics.valueOutliers(spark, eventsDir(rows))
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    assert(out.map(_._1).toSeq === Seq(11L))
    assert(out.head._2 > 9.0)
  }

  test("incremental engagement: equals batch, reads no pre-watermark event file") {
    val sfDir = "/root/testdata/sf0.001"
    QueryScope.run {
      val f = IceQueries.incrementalEvents(spark, sfDir)
      def norm(p: String): String = new org.apache.hadoop.fs.Path(p).toUri.getPath
      val inc = Analytics.incrementalEngagement(spark, f.events, f.activityIndex, f.watermark)
      val batch = Analytics.engagement(spark, sfDir)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(rows(inc) === rows(batch))
      // the raw event scan inside the plan is the incremental read only
      val oldFiles = f.events.newScan(snapshotId = Some(f.watermark)).planFiles()
        .map(t => norm(t.file.filePath)).toSet
      assert(oldFiles.nonEmpty)
      val planInputs = inc.inputFiles.map(norm).toSet
      assert(planInputs.intersect(oldFiles).isEmpty,
        s"incremental engagement read pre-watermark event files: ${planInputs.intersect(oldFiles)}")
    }
  }

  test("stale-watermark overlap: dedup anti-join materializes as broadcast, result exact") {
    QueryScope.run {
      // increment OVERLAPS the indexed days (the stale-retry scenario): the
      // boundary-pruned overlap is non-empty, so the anti-join must appear —
      // and as a broadcast, never a shuffle of the index side
      import graft.table.IceTable
      import graft.core.SchemaConv
      import graft.meta.FileCatalog
      import org.apache.spark.sql.functions.{col, expr}
      val wh = Files.createTempDirectory("graft-analytics-stale").toString
      val catalog = new FileCatalog(wh)
      val sq = spark
      import sq.implicits._
      def ev(ids: Range, dayOf: Int => Int) = ids.map { i =>
        (i.toLong, new java.sql.Timestamp(86400000L * dayOf(i) + i * 1000L),
          (i % 5).toLong, "view", 0.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val old = ev(1 to 50, i => i % 8)            // days 0..7
      val events = IceTable.create(catalog, "ev_stale", SchemaConv.fromSpark(old.schema))
      val watermark = events.append(old).snapshotId
      events.refresh()
      events.append(ev(51 to 80, i => 6 + (i % 4))) // days 6..9 — overlaps 6,7
      events.refresh()
      val idx = old.select(col("user_id"),
        expr(s"unix_micros(ts) div ${Analytics.DayUs}").as("day")).distinct()
      val index = IceTable.create(catalog, "idx_stale", SchemaConv.fromSpark(idx.schema))
      index.append(idx)
      index.refresh()
      val inc = Analytics.incrementalEngagement(spark, events, index, watermark)
      val p = inc.queryExecution.executedPlan.toString
      def deep(sp: org.apache.spark.sql.execution.SparkPlan): String =
        (sp.toString +: sp.collect {
          case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            deep(s.relation.cachedPlan)
        }).mkString("\n")
      val full = deep(inc.queryExecution.executedPlan)
      assert(full.contains("LeftAnti"), s"overlap did not materialize the anti-join:\n$full")
      assert(!(full.contains("SortMergeJoin") && full.contains("LeftAnti")) ||
        "BroadcastHashJoin[^\\n]*LeftAnti".r.findFirstIn(full).isDefined,
        s"anti-join is not broadcast:\n$full")
      // and the result still equals engagement over ALL events
      val allEv = events.scan(spark)
        .select(col("user_id"), expr(s"unix_micros(ts) div ${Analytics.DayUs}").as("day"))
        .distinct()
      val expect = Analytics.engagementFrom(allEv).collect().map(_.toString).sorted
      assert(inc.collect().map(_.toString).sorted === expect)
    }
  }

  test("activity index roll-forward is idempotent under a stale watermark") {
    val sfDir = "/root/testdata/sf0.001"
    QueryScope.run {
      val f = IceQueries.incrementalEvents(spark, sfDir)
      val before = f.activityIndex.scan(spark).count()
      Analytics.extendActivityIndex(spark, f.events, f.activityIndex, f.watermark)
      val after = f.activityIndex.scan(spark).count()
      assert(after > before, "extend must append the increment's fresh days")
      // a retry with the SAME (now stale) watermark appends nothing
      Analytics.extendActivityIndex(spark, f.events, f.activityIndex, f.watermark)
      assert(f.activityIndex.scan(spark).count() === after)
      // and the index now equals the full corpus's distinct (user, day)
      val full = Analytics.engagement(spark, sfDir) // engagement over raw events
      val fromIndex = Analytics.engagementFrom(
        f.activityIndex.scan(spark).select("user_id", "day"))
      assert(fromIndex.collect().map(_.toString).sorted
        === full.collect().map(_.toString).sorted)
    }
  }

  test("k-means assignment stays in builtin codegen (no UDF, no python eval)") {
    val base = (0 until 16).map { j =>
      val v = Array.fill(64)(0.0f); v(j) = 0.5f; v
    }
    val dir = embeddingsDir((0 until 16).map(j => (j.toLong, base(j), j)))
    val plan = Analytics.kmeansCorpus(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython"))
    assert(!plan.toLowerCase.contains("scalaudf"))
  }
}
