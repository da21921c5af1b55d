package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Behavioral / graph analytics over the event stream plus full-corpus
  * clustering over the embeddings table — the product-analytics layer
  * (funnels, cohort retention, path mining) and the two iterative
  * algorithms (PageRank, Lloyd's k-means) every large-scale pipeline
  * eventually needs, each expressed as a fixed, SQL-restatable iteration
  * count so the DuckDB oracle can replay the whole computation and
  * hash-match it.
  *
  * Determinism discipline (the `sim_ann_ivf` lineage): every iterative
  * value is carried in EXACT integer arithmetic — micro-quantized
  * coordinates for k-means, 1e12 fixed-point mass for PageRank — so no
  * accumulation-order ulp can diverge between Spark's shuffled partial
  * aggregation and DuckDB's single-threaded fold. The only doubles in any
  * output are single IEEE divisions of two exact integers, which both
  * engines compute bit-identically.
  *
  * Scale posture (100 TB):
  *   - funnel / retention / paths are each one-or-two shuffles keyed on
  *     user_id (the same key every stage — Spark reuses the exchange);
  *     per-user state is a handful of timestamps, never a materialized
  *     event list (paths cap the per-session prefix at 5 rows BEFORE the
  *     aggregation).
  *   - PageRank shuffles on node id per iteration; edge weights aggregate
  *     map-side first. Rank mass is int64 1e12 fixed-point: exact up to
  *     ~9e6 transitions of one (src,dst) pair — past that a deployment
  *     drops to double p = w/ow (documented, not needed at bench scale).
  *   - k-means is the MLlib shape: assignment is a broadcast-codebook
  *     codegen expression over one corpus pass; the M-step reduces to
  *     k×64 rows map-side (partial sum/count per (cluster, dim)) before
  *     the driver sees them, so driver traffic never scales with the
  *     corpus.
  */
object Analytics {
  import QueryDef.t

  // ------------------------------------------------------------ funnel

  /** Staged conversion funnel view → click → purchase: stage n counts the
    * users whose earliest qualifying event strictly follows their stage
    * n−1 time. Two chained (join + min) aggregations, all keyed on
    * user_id. Each stage emits exactly one row even when empty (single-row
    * aggregate, not a groupBy), so the 3-row shape matches the oracle's
    * UNION ALL of scalar counts.
    */
  private[ops] def funnel(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select(col("user_id"), col("event_type"), col("ts"))
    val v = e.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val c = e.where(col("event_type") === "click")
      .join(v, "user_id").where(col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    val p = e.where(col("event_type") === "purchase")
      .join(c, "user_id").where(col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"))
    def stage(df: DataFrame, n: Int, name: String): DataFrame =
      df.agg(count(lit(1)).cast(LongType).as("users"))
        .select(lit(n.toLong).as("stage"), lit(name).as("stage_name"), col("users"))
    val stages = stage(v, 1, "view")
      .unionByName(stage(c, 2, "click_after_view"))
      .unionByName(stage(p, 3, "purchase_after_click"))
    // 3-row frame: the global window is trivially cheap
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    stages.withColumn("conversion",
      col("users").cast(DoubleType) /
        max(when(col("stage") === 1, col("users"))).over(all).cast(DoubleType))
  }

  // --------------------------------------------------------- retention

  /** Weekly cohort retention. Week index is a pure integer
    * `epoch_us div week_us` (no calendar semantics for the engines to
    * disagree on); cohort = a user's first active week; retention is the
    * single exact division active/cohort_size. Offset-0 always carries the
    * full cohort by construction, which is what the window max reads.
    */
  private[ops] def retention(s: SparkSession, dir: String): DataFrame = {
    val wkUs = 604800000000L
    val uw = t(s, dir, "events")
      .select(col("user_id"), expr(s"unix_micros(ts) div $wkUs").as("wk"))
      .distinct()
    val cohort = uw.groupBy("user_id").agg(min("wk").as("cohort_wk"))
    val act = uw.join(cohort, "user_id")
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
      .agg(count(lit(1)).cast(LongType).as("active_users"))
    val byCohort = Window.partitionBy("cohort_wk")
    act.withColumn("retention",
      col("active_users").cast(DoubleType) /
        max(when(col("week_offset") === 0, col("active_users"))).over(byCohort)
          .cast(DoubleType))
      .select(col("cohort_wk").cast(LongType).as("cohort_wk"),
        col("week_offset").cast(LongType).as("week_offset"),
        col("active_users"), col("retention"))
  }

  // --------------------------------------------------------- top paths

  /** Top-10 session opening paths: the first ≤5 event types of each
    * session (q_sessionize's 30-minute-gap rule, same (ts, event_id)
    * order), joined with '>'. The per-session prefix is capped BEFORE the
    * aggregation — per-group state is ≤5 rows however long the session —
    * and the path string is assembled from an rn-sorted struct array, so
    * its order never depends on collect_list's arrival order.
    */
  private[ops] def topPaths(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val bySess = Window.partitionBy("user_id", "session_idx").orderBy("ts", "event_id")
    t(s, dir, "events")
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(bySess))
      .where(col("rn") <= 5)
      .groupBy("user_id", "session_idx")
      .agg(concat_ws(">",
        transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
          x => x.getField("event_type"))).as("path"))
      .groupBy("path").agg(count(lit(1)).cast(LongType).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(10)
  }

  // ---------------------------------------------------------- PageRank

  /** Fixed-point scale for PageRank mass: ranks live in int64 units of
    * 1e-12, so iteration arithmetic is exact integer — truncating division
    * (`div` here, `//` in DuckDB: both toward zero, all operands
    * non-negative) is part of the stated update rule, not an error term.
    */
  private val RankScale = 1000000000000L

  /** 3-iteration PageRank (d = 17/20) over the item-transition graph:
    * nodes are the JSON `k` item of each event, edges the consecutive
    * (ts, event_id)-ordered same-user transitions between distinct items,
    * weighted by count. Update rule, identical on both engines:
    *
    *   r'(v) = (3·S) div (20·N)  +  (17 · Σ_{u→v} (r(u)·w) div ow(u)) div 20
    *
    * Dangling nodes leak their mass (standard simplification; the rule is
    * the contract). Edges persist across the 3 iterations; each iteration
    * is one join + one aggregation on node id.
    */
  private[ops] def itemPagerank(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    // spread: per-row JSON parse over a single-split scan (QueryDef.spread)
    val ev = QueryDef.spread(t(s, dir, "events"))
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))
    val edges = QueryScope.persist(
      ev.withColumn("nk", lead("k", 1).over(byUser))
        .where(col("nk").isNotNull && col("nk") =!= col("k"))
        .groupBy(col("k").as("src"), col("nk").as("dst"))
        .agg(count(lit(1)).cast(LongType).as("w")))
    val eNorm = edges.join(
        edges.groupBy("src").agg(sum("w").as("ow")), "src")
      .select(col("src"), col("dst"), col("w"), col("ow"))
    val nodes = QueryScope.persist(ev.select(col("k").as("node")).distinct())
    val n = nodes.agg(count(lit(1)).cast(LongType).as("n_nodes"))
    val base = nodes.crossJoin(n)
    var r: DataFrame = base.select(col("node"),
      expr(s"$RankScale div n_nodes").as("rank_e12"))
    for (_ <- 1 to 3) {
      val contrib = r.join(eNorm, r("node") === eNorm("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("rank_e12 * w div ow")).as("c"))
      r = base.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (expr(s"(3 * ${RankScale}L) div (20 * n_nodes)") +
            expr("17 * coalesce(c, 0L) div 20")).as("rank_e12"))
    }
    r.select(col("node"), col("rank_e12").cast(LongType).as("rank_e12"),
      (col("rank_e12").cast(DoubleType) / lit(1e12)).as("rank"))
  }

  // ----------------------------------------------------------- k-means

  private val KmK = 8
  private val KmScale = 10000d

  /** Σ_i (m_i − c_i)² over micro-quantized int64 coordinates — exact
    * integer, bounded by 64·(2·5774)² ≈ 8.5e9 for unit-norm-ish
    * embeddings, far inside int64.
    */
  private def idist2(m: Column, center: Array[Long]): Column =
    aggregate(
      zip_with(m, typedlit(center.toSeq), (x, c) => (x - c) * (x - c)),
      lit(0L), (a, b) => a + b)

  /** Nearest center index under (dist², center-index) — the struct
    * array_min gives the deterministic low-index tiebreak. Pure builtin
    * codegen expressions; the codebook is literal broadcast state.
    */
  private def assignTo(m: Column, centers: Array[Array[Long]]): Column = {
    val scored = centers.zipWithIndex.map { case (cm, j) =>
      struct(idist2(m, cm).as("d"), lit(j.toLong).as("c"))
    }
    array_min(array(scored.toIndexedSeq: _*)).getField("c")
  }

  /** One distributed M-step: per (cluster, dim) the floor of the mean
    * micro-coordinate (`floor(sum/count)` in DOUBLE — the exact
    * `ivfFitCtes` centroid rule, and exact here because the int64 sums are
    * ≤ 2^53). The reduce output is k×64 rows after map-side partial
    * aggregation; clusters that lost every member keep their previous
    * center (COALESCE on the oracle side, map fallback here).
    */
  private def mStep(assigned: DataFrame, prev: Array[Array[Long]]): Array[Array[Long]] = {
    val rows = assigned
      .select(col("cluster"), posexplode(col("m")).as(Seq("d", "v")))
      .groupBy("cluster", "d")
      .agg(floor(sum("v").cast(DoubleType) / count(lit(1))).cast(LongType).as("cv"))
      .collect()
    val next = prev.map(_.clone())
    rows.foreach(r => next(r.getLong(0).toInt)(r.getInt(1)) = r.getLong(2))
    next
  }

  /** Full-corpus Lloyd's k-means, k=8, two iterations, in exact integer
    * arithmetic end-to-end: micro-quantized coordinates, integer squared
    * distances, floor-div centroids, low-index tiebreaks, empty clusters
    * keep their center. Init = the embeddings of the 8 smallest vec_ids.
    * Output is the final assignment's per-cluster size and EXACT int64
    * inertia (Σ dist² in micro² units) — hash-stable with no rounding
    * anywhere. Unlike [[Similarity]]'s sample-capped driver-side IVF fit,
    * the E and M steps here run over the whole corpus distributed; the
    * driver only ever sees k×64 partial means per iteration.
    */
  private[ops] def kmeansCorpus(s: SparkSession, dir: String): DataFrame = {
    val emb = QueryScope.persist(
      t(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast(DoubleType) * lit(KmScale)).cast(LongType)).as("m")))
    var centers: Array[Array[Long]] = emb.orderBy("vec_id").limit(KmK).collect()
      .map(_.getSeq[Long](1).toArray)
    for (_ <- 1 to 2)
      centers = mStep(
        emb.withColumn("cluster", assignTo(col("m"), centers)), centers)
    emb.withColumn("cluster", assignTo(col("m"), centers))
      .withColumn("d2", array_min(array(centers.zipWithIndex.map { case (cm, j) =>
        struct(idist2(col("m"), cm).as("d"), lit(j.toLong).as("c"))
      }.toIndexedSeq: _*)).getField("d"))
      .groupBy("cluster")
      .agg(count(lit(1)).cast(LongType).as("n_vectors"),
        sum("d2").cast(LongType).as("inertia"))
      .select(col("cluster").cast(LongType).as("cluster"),
        col("n_vectors"), col("inertia"))
  }

  // -------------------------------------------------------- engagement

  /** DAU / WAU / MAU per day with the DAU/MAU stickiness ratio. Day is a
    * pure integer `epoch_us div day_us`. The sliding distinct is the
    * standard explode shape: each active (user, day) contributes to the
    * 7-day window of days d..d+6 and the 30-day window of d..d+29 — a
    * bounded fan-out of 37 rows per active-day, aggregated after a
    * distinct on (user, target-day), never a per-day re-scan of history.
    * Target days outside the observed range are clipped so trailing
    * windows don't invent partial days.
    */
  private[ops] val DayUs = 86400000000L

  private[ops] def engagement(s: SparkSession, dir: String): DataFrame =
    engagementFrom(t(s, dir, "events")
      .select(col("user_id"), expr(s"unix_micros(ts) div $DayUs").as("day"))
      .distinct())

  /** The DAU/WAU/MAU computation over a DISTINCT (user_id, day) activity
    * frame — shared by the raw-events query and the incremental variant
    * that feeds it from the accumulated activity index.
    *
    * Sliding-distinct shape (r22, guide §2.3 "aggregate before you
    * shuffle"): a user counts toward the span-day window of target t iff
    * one of their active days lies in (t-span, t] — i.e. iff t falls in
    * the union of that user's intervals [day, day+span-1]. The previous
    * plan materialized that union EXTENSIONALLY: explode every active day
    * into its 7 + 30 targets and distinct the result — a 37×-activity
    * shuffle followed by a corpus-wide hash distinct at any scale
    * (922,990 shuffle records from 30,352 activity rows at sf0.1). This
    * plan computes the same union INTERVALLY: one lag/lead window per
    * user merges runs of days less than span apart, each maximal run
    * emits a +1/-1 boundary delta pair, and a running sum over the
    * calendar turns deltas into per-day user counts. Shuffled volume is
    * at most 2 rows per active (user, day) per span instead of `span`
    * rows, and the running sum's global window is calendar-day-sized
    * (d1-d0 rows — trivial at any corpus size, 100 TB included).
    */
  private[ops] def engagementFrom(activity: DataFrame): DataFrame = {
    // one user-keyed exchange feeds both spans: the lag/lead frame is the
    // persisted intermediate (strictly activity-sized), and dau/bounds
    // read it too, so `activity` itself is computed exactly once
    val byUser = Window.partitionBy("user_id").orderBy("day")
    val lagged = QueryScope.persist(activity
      .withColumn("prev_day", lag(col("day"), 1).over(byUser))
      .withColumn("next_day", lead(col("day"), 1).over(byUser)))
    val bounds = lagged.agg(min("day").as("d0"), max("day").as("d1"))
    val calendar = bounds
      .select(explode(sequence(col("d0"), col("d1"))).as("target"))
    // interval [day, day+span-1] opens a new covered run iff the previous
    // active day's interval cannot reach it (gap > span), and the run
    // closes after day+span-1 iff the next active day opens a new one —
    // so each maximal run contributes exactly one +1 at its first day and
    // one -1 one past its last covered day. BOTH spans' boundary deltas
    // ride one explode / one aggregate / one running-sum window (a delta
    // row carries a (d7, d30) pair), so the whole sliding-distinct costs
    // three tiny stages total instead of three per span.
    val emptyDeltas =
      array().cast("array<struct<target:bigint,d7:bigint,d30:bigint>>")
    def edge(span: Int, d7: Long, d30: Long): Column = concat(
      when(col("prev_day").isNull || col("day") - col("prev_day") > span,
        array(struct(col("day").cast(LongType).as("target"),
          lit(d7).as("d7"), lit(d30).as("d30")))).otherwise(emptyDeltas),
      when(col("next_day").isNull || col("next_day") - col("day") > span,
        array(struct((col("day") + span).cast(LongType).as("target"),
          lit(-d7).as("d7"), lit(-d30).as("d30")))).otherwise(emptyDeltas))
    val deltas = lagged.select(explode(
        concat(edge(7, 1L, 0L), edge(30, 0L, 1L))).as("e"))
      .select(col("e.target").as("target"), col("e.d7").as("d7"),
        col("e.d30").as("d30"))
    // calendar zero-rows instead of a join: every day in [d0, d1] gets a
    // row, so the running sums land on exactly the days dau can carry
    val byTarget = Window.orderBy("target")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val windowedCounts = calendar
      .select(col("target"), lit(0L).as("d7"), lit(0L).as("d30"))
      .unionByName(deltas)
      .groupBy("target").agg(sum("d7").as("__d7"), sum("d30").as("__d30"))
      .select(col("target"),
        sum(col("__d7")).over(byTarget).cast(LongType).as("wau"),
        sum(col("__d30")).over(byTarget).cast(LongType).as("mau"))
      .where(col("wau") > 0 && col("mau") > 0)
    val dau = lagged.groupBy(col("day").as("target"))
      .agg(count(lit(1)).cast(LongType).as("dau"))
    dau.join(windowedCounts, "target")
      .crossJoin(bounds).where(col("target") <= col("d1"))
      .select(col("target").cast(LongType).as("day"),
        col("dau"), col("wau"), col("mau"),
        (col("dau").cast(DoubleType) / col("mau").cast(DoubleType)).as("stickiness"))
  }

  /** Incremental engagement over the ACCUMULATED ACTIVITY INDEX — the
    * [[IncrementalDedup]] discipline applied to analytics. The raw event
    * stream is read ONLY past the watermark snapshot (the incremental
    * table read); everything older is represented by the compact
    * (user_id, day) index a previous run's [[extendActivityIndex]] left
    * behind. At 100 TB the index is users×active-days — orders of
    * magnitude under the event count — and the recompute reads it instead
    * of the corpus.
    *
    * Idempotence under stale-watermark retries: only the index rows at or
    * past the increment's first day can collide with the increment (the
    * index is day-accumulated), so the dedup anti-join's right side is
    * boundary-sized — a predicate-pruned index scan, broadcast into the
    * anti-join — never the whole index.
    */
  private[ops] def incrementalEngagement(s: SparkSession,
      events: graft.table.IceTable, index: graft.table.IceTable,
      watermark: Long): DataFrame = {
    import graft.core.{Predicates => P}
    val newUD = QueryScope.persist(
      graft.streaming.Ingest.changesSince(s, events, watermark)
        .select(col("user_id"), expr(s"unix_micros(ts) div $DayUs").as("day"))
        .distinct())
    val stored = index.scan(s).select("user_id", "day")
    val fresh = minDayOf(newUD) match {
      case None => newUD // empty increment
      case Some(minDay) =>
        val overlap = index.scan(s, P.gtEq("day", minDay))
          .select("user_id", "day")
        newUD.join(broadcast(overlap), Seq("user_id", "day"), "left_anti")
    }
    engagementFrom(stored.unionByName(fresh))
  }

  /** Roll the activity index forward with the increment's fresh
    * (user_id, day) rows (computed exactly as [[incrementalEngagement]]
    * dedups them, so a stale-watermark retry appends nothing new).
    */
  private[ops] def extendActivityIndex(s: SparkSession,
      events: graft.table.IceTable, index: graft.table.IceTable,
      watermark: Long): Unit = {
    import graft.core.{Predicates => P}
    val newUD = graft.streaming.Ingest.changesSince(s, events, watermark)
      .select(col("user_id"), expr(s"unix_micros(ts) div $DayUs").as("day"))
      .distinct()
    minDayOf(newUD).foreach { minDay =>
      val overlap = index.scan(s, P.gtEq("day", minDay)).select("user_id", "day")
      index.append(newUD.join(broadcast(overlap), Seq("user_id", "day"), "left_anti"))
      index.refresh()
    }
  }

  /** First active day of the increment — the boundary the index dedup
    * prunes to. The 1-value collect is planning-grade (codebook pattern).
    */
  private def minDayOf(ud: DataFrame): Option[Long] =
    ud.agg(min("day")).collect().headOption
      .flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))

  // ---------------------------------------------------- exact quantiles

  /** Exact discrete quantiles (percentile_disc semantics: the smallest
    * value whose cumulative count reaches ceil(q·n)) of document length
    * per language — computed over the (lang, n_chars) frequency table,
    * never a per-group sort of the corpus: the shuffle carries one row per
    * distinct length per language, and the cumulative window runs over
    * that bounded value domain. All-integer selection rule, no
    * interpolation arithmetic to diverge on.
    */
  private[ops] def lengthQuantiles(s: SparkSession, dir: String): DataFrame = {
    val freq = t(s, dir, "documents")
      .groupBy("lang", "n_chars").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("lang").orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = freq.withColumn("cum", sum("c").over(w))
      .withColumn("n", sum("c").over(Window.partitionBy("lang")))
    def pick(pct: Int, name: String): Column =
      min(when(col("cum") >= expr(s"($pct * n + 99) div 100"), col("n_chars")))
        .cast(LongType).as(name)
    cum.groupBy("lang")
      .agg(max("n").cast(LongType).as("n_docs"),
        pick(50, "p50_chars"), pick(90, "p90_chars"), pick(99, "p99_chars"))
  }

  // ---------------------------------------------------------- triangles

  /** Global triangle / edge / node census of the undirected item graph
    * (edges = distinct consecutive same-user transitions, either
    * direction). Triangles count via the oriented 3-way join on a < b < c
    * — each triangle enumerated exactly once, candidate volume bounded by
    * Σ deg(a)·deg(b) over edges, the standard compact-forward shape. (A
    * skew-hardened deployment would orient by degree instead of id; the
    * id orientation is the oracle-restatable contract.)
    */
  private[ops] def itemTriangles(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val ev = QueryDef.spread(t(s, dir, "events"))
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))
    val e = QueryScope.persist(
      ev.withColumn("nk", lead("k", 1).over(byUser))
        .where(col("nk").isNotNull && col("nk") =!= col("k"))
        .select(least(col("k"), col("nk")).as("a"),
          greatest(col("k"), col("nk")).as("b"))
        .distinct())
    val tri = e.as("ab")
      .join(e.as("bc"), col("ab.b") === col("bc.a"))
      .join(e.as("ac"),
        col("ac.a") === col("ab.a") && col("ac.b") === col("bc.b"))
      .agg(count(lit(1)).cast(LongType).as("n_triangles"))
    val sizes = e.agg(count(lit(1)).cast(LongType).as("n_edges"))
    val nodes = e.select(col("a").as("v")).union(e.select(col("b")))
      .distinct().agg(count(lit(1)).cast(LongType).as("n_nodes"))
    tri.crossJoin(sizes).crossJoin(nodes)
      .select(col("n_triangles"), col("n_edges"), col("n_nodes"))
  }

  // ------------------------------------------------------------ skyline

  /** Pareto frontier of orders under (earlier o_orderdate, lower
    * o_totalprice): an order survives iff no other order is ≤ on both
    * axes and < on at least one. 2-D skyline needs no dominance join at
    * all: per date keep the min price (cents-exact), then keep the dates
    * whose min strictly undercuts every earlier date's min — one window
    * pass over the per-date aggregate, O(distinct dates) state. Duplicate
    * (date, price) minima don't dominate each other and all survive.
    */
  private[ops] def orderSkyline(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"),
      round(col("o_totalprice") * 100).cast(LongType).as("price_c"))
    val dmin = o.groupBy("o_orderdate").agg(min("price_c").as("m"))
    val before = Window.orderBy("o_orderdate")
      .rowsBetween(Window.unboundedPreceding, -1)
    val keepDates = dmin.withColumn("prior", min("m").over(before))
      .where(col("prior").isNull || col("m") < col("prior"))
      .select(col("o_orderdate"), col("m"))
    o.join(keepDates, Seq("o_orderdate"))
      .where(col("price_c") === col("m"))
      .select(col("o_orderkey"), col("o_orderdate"),
        (col("price_c").cast(DoubleType) / 100.0).as("o_totalprice"))
  }

  // ------------------------------------------------------ frequent pairs

  /** Market-basket item pairs: the top-20 (support desc, pair) item pairs
    * co-occurring in the same session (q_sessionize's rule), counted once
    * per session. The candidate space is per-session C(distinct items, 2)
    * — bounded by the session length cap the 30-minute gap imposes, never
    * a corpus-wide cross of the item domain — and support aggregates
    * map-side on the (a, b) pair key.
    */
  private[ops] def frequentPairs(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val si = QueryDef.spread(t(s, dir, "events"))
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("user_id"), col("session_idx"), col("k")).distinct()
    si.as("x").join(si.as("y"),
        col("x.user_id") === col("y.user_id") &&
          col("x.session_idx") === col("y.session_idx") &&
          col("x.k") < col("y.k"))
      .groupBy(col("x.k").as("item_a"), col("y.k").as("item_b"))
      .agg(count(lit(1)).cast(LongType).as("support"))
      .orderBy(col("support").desc, col("item_a"), col("item_b"))
      .limit(20)
  }

  // -------------------------------------------------- ranking functions

  /** The ranking-function family over customer balances per nation —
    * rank (gap semantics), ntile(4) quartile buckets, percent_rank
    * ((rank−1)/(n−1), one exact division). One window pass per nation
    * partition; ties resolved by the unique custkey in the ORDER BY so
    * every engine ranks identically.
    */
  private[ops] def balanceQuartiles(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey").cast(LongType).as("nation"),
        col("c_acctbal"),
        rank().over(w).cast(LongType).as("bal_rank"),
        ntile(4).over(w).cast(LongType).as("quartile"),
        percent_rank().over(w).as("pct_rank"))
      .where(col("quartile") === 1)
  }

  // ----------------------------------------------- fuzzy record linkage

  /** Blocked fuzzy record linkage between the customer and supplier
    * registries: candidate pairs share a nation (the blocking key — the
    * only join condition, so candidate volume is per-block density, never
    * |C|×|S|) and match when the Levenshtein distance of their numeric
    * name suffixes is ≤ 1. Edit distance is exact integer on both
    * engines; the blocked-join-then-residual shape is the standard
    * entity-resolution plan at any scale.
    */
  private[ops] def fuzzyNameMatch(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(col("c_custkey"),
      col("c_nationkey").as("nation"), substring(col("c_name"), 10, 9).as("c_sfx"))
    val sup = t(s, dir, "supplier").select(col("s_suppkey"),
      col("s_nationkey").as("nation"), substring(col("s_name"), 10, 9).as("s_sfx"))
    c.join(sup, "nation")
      .withColumn("dist", levenshtein(col("c_sfx"), col("s_sfx")).cast(LongType))
      .where(col("dist") <= 1)
      .select(col("c_custkey"), col("s_suppkey"), col("nation"), col("dist"))
  }

  // -------------------------------------------------- PMI collocations

  /** Top-30 PMI collocations (adjacent word pairs): score =
    * ln(c_ab·N / (c_a·c_b)) over exact integer counts — the ln leaves
    * exactness once, and is rounded to 1e-4 micro-units immediately (the
    * lm_perplexity / BM25-idf discipline), so the score column and its
    * ordering hash-match. Support filter c_ab ≥ 5 keeps the tail noise
    * out; candidate volume is the bigram type count, aggregated map-side.
    */
  private[ops] def pmiBigrams(s: SparkSession, dir: String): DataFrame = {
    // NOT spread (r21 A/B): both consumers aggregate map-side right above
    // the tokenize — the widening exchange lost on the board (+0.38 s)
    val words = t(s, dir, "documents").select(col("doc_id"),
      Tok.words(col("text")).as("ws"))
    val uni = QueryScope.persist(words
      .select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c")))
    val n = uni.agg(sum("c").cast(LongType).as("n_tokens"))
    val bi = words
      // guard single-token docs: sequence(1, 0) is the DESCENDING [1, 0]
      // in Spark, whose ws[1]/ws[-1] accesses throw under default ANSI —
      // every other n-gram producer here carries the same size guard
      .where(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(ws) - 1), i -> struct(ws[i-1] as a, ws[i] as b))"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
      .where(col("c_ab") >= 5)
    bi.join(uni.select(col("w").as("a"), col("c").as("c_a")), "a")
      .join(uni.select(col("w").as("b"), col("c").as("c_b")), "b")
      .crossJoin(broadcast(n))
      .select(col("a"), col("b"), col("c_ab").cast(LongType).as("c_ab"),
        round(log((col("c_ab") * col("n_tokens")).cast(DoubleType) /
          (col("c_a") * col("c_b")).cast(DoubleType)) * lit(1e4))
          .cast(LongType).as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("a"), col("b")).limit(30)
  }

  // -------------------------------------------- markov transitions

  /** First-order Markov transition model of item navigation: for each
    * (src, dst) consecutive-item edge (the PageRank edge set), the count
    * and the transition probability w/ow — exact integers plus ONE IEEE
    * division. The model a recommender's "users who viewed X move to Y"
    * surface reads; edges aggregate map-side on the pair key.
    */
  private[ops] def markovTransitions(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val ev = QueryDef.spread(t(s, dir, "events"))
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))
    val edges = ev.withColumn("nk", lead("k", 1).over(byUser))
      .where(col("nk").isNotNull && col("nk") =!= col("k"))
      .groupBy(col("k").as("src"), col("nk").as("dst"))
      .agg(count(lit(1)).cast(LongType).as("w"))
    edges.join(edges.groupBy("src").agg(sum("w").cast(LongType).as("ow")), "src")
      .select(col("src"), col("dst"), col("w"),
        (col("w").cast(DoubleType) / col("ow").cast(DoubleType)).as("p"))
  }

  // --------------------------------------------------------- histogram

  /** Fixed-width value histogram per event type (20 units/bin, clamped at
    * bin 25) — the profiling primitive behind every "distribution
    * changed?" dashboard. Bin index is exact integer floor-division of
    * micro-units; counts aggregate map-side on the (type, bin) key.
    */
  private[ops] def valueHistogram(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"),
        least(expr("cast(round(value * 10000) as bigint) div 200000"), lit(25L)).as("bin"))
      .groupBy("event_type", "bin")
      .agg(count(lit(1)).cast(LongType).as("n"))
      .select(col("event_type"), col("bin").cast(LongType).as("bin"), col("n"))

  // ------------------------------------------------- schema profile

  /** JSON property-schema profile of the events stream — the drift
    * detector a pipeline runs when upstream producers change their
    * payloads: every JSON key's row count and share. One explode + one
    * aggregation on the (tiny) key domain; share is a single exact
    * division.
    */
  private[ops] def propsProfile(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val total = e.agg(count(lit(1)).cast(LongType).as("n_total"))
    e.select(explode(json_object_keys(col("props"))).as("key"))
      .groupBy("key").agg(count(lit(1)).cast(LongType).as("n_rows"))
      .crossJoin(broadcast(total))
      .select(col("key"), col("n_rows"),
        (col("n_rows").cast(DoubleType) / col("n_total").cast(DoubleType))
          .as("share"))
  }

  // --------------------------------------------------- outlier detection

  /** Per-type z-score outliers of the event `value` — |z| > 3 against the
    * type's own population mean/variance, in EXACT arithmetic end-to-end:
    * values in integer 1e-4 units, moment sums in DECIMAL(38,0) (the
    * sourceDrift overflow discipline — (n·x−s)² crosses int64 at these
    * scales), and
    *
    *   z² = (n·x − s)² / (n·Σx² − s²)
    *
    * — both operands exact decimals, emitted through one identical IEEE
    * division. Per-type moments are 5 rows of broadcast state; the corpus
    * pass is one aggregation plus one broadcast-joined filter.
    */
  private[ops] def valueOutliers(s: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val e = t(s, dir, "events").select(col("event_id"), col("event_type"),
      col("value"), round(col("value") * lit(1e4)).cast(LongType).as("vm"))
    val moments = e.groupBy("event_type").agg(
      count(lit(1)).cast(dec).as("n"),
      sum(col("vm").cast(dec)).as("s"),
      sum(col("vm").cast(dec) * col("vm").cast(dec)).as("sx2"))
    val num = (col("n") * col("vm").cast(dec) - col("s")) *
      (col("n") * col("vm").cast(dec) - col("s"))
    val den = col("n") * col("sx2") - col("s") * col("s")
    // the ~1e21 decimal operands convert to double one ulp apart across
    // engines — round the quotient to 6 decimals (the established absorb
    // discipline) before it reaches the filter or the output
    // a zero-variance type (den = 0) has no outliers by definition — the
    // guard also keeps ANSI division happy on both engines
    e.join(broadcast(moments), "event_type")
      .where(den > lit(0).cast(dec))
      .withColumn("z2", round(num.cast(DoubleType) / den.cast(DoubleType), 6))
      .where(col("z2") > 9.0)
      .select(col("event_id"), col("event_type"), col("value"), col("z2"))
  }

  // ------------------------------------------------- native session window

  /** Sessionization through Spark's NATIVE `session_window` aggregation —
    * the declarative form of q_sessionize's hand-rolled lag/sum windows,
    * and the exact operator the streaming engine merges state with. One
    * shuffle on (user, merged-window); Catalyst owns the gap-merge.
    *
    * Boundary semantics (AnalyticsSpec pins them): session_window's
    * window spans [ts, ts+30m] INCLUSIVE of the endpoint — an event
    * landing exactly 30 minutes after its predecessor still merges, the
    * same `gap > 30min splits` rule q_sessionize states, so the two
    * sessionizers agree at the boundary and the oracle is shared.
    */
  private[ops] def sessionWindows(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).cast(LongType).as("n_events"),
        min("ts").as("session_start"), max("ts").as("session_end"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))

  // ---------------------------------------------------- hybrid retrieval

  /** Reciprocal-rank fusion of the two retrieval systems this engine
    * already ranks with: sparse BM25 ([[TextOps.bm25Ranked]], fixed query
    * set, top-100 doc ranks) and dense cosine (top-100 neighbors of the
    * vec_id-0 query embedding — the established first-N-are-queries
    * pattern, aligning vec_id with doc_id). Per system the contribution is
    * round(1e9/(60+rank)) in exact int64 micro-units — the standard RRF
    * k=60 — summed over whichever systems ranked the doc (full outer
    * fusion; absent ranks surface as −1, never null). Both inputs are
    * top-100 lists, so the fusion itself is constant-sized however large
    * the corpus; the corpus-scale work lives in the two (already
    * scale-shaped) rankers.
    */
  private[ops] def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    val sparse = TextOps.bm25Ranked(s, dir)
      .select(col("doc_id"), col("rank").cast(IntegerType).as("sparse_rank"))
    val emb = t(s, dir, "embeddings")
    val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val scored = emb.where(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("cos", round(Similarity.cosine(col("qvec"), col("embedding")), 4))
      .orderBy(col("cos").desc, col("vec_id")).limit(100)
    val dense = scored
      .withColumn("dense_rank", row_number()
        .over(Window.orderBy(col("cos").desc, col("vec_id"))).cast(IntegerType))
      .select(col("vec_id").as("doc_id"), col("dense_rank"))
    def contrib(rank: Column): Column =
      when(rank.isNotNull,
        round(lit(1e9) / (lit(60) + rank.cast(DoubleType))).cast(LongType))
        .otherwise(lit(0L))
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (contrib(col("sparse_rank")) + contrib(col("dense_rank"))).as("rrf_micro"),
        coalesce(col("sparse_rank"), lit(-1)).cast(IntegerType).as("sparse_rank"),
        coalesce(col("dense_rank"), lit(-1)).cast(IntegerType).as("dense_rank"))
      .orderBy(col("rrf_micro").desc, col("doc_id")).limit(20)
  }

  // ---------------------------------------------------------- registry

  /** The sessionize window + path CTE chain shared verbatim with
    * q_sessionize's oracle (same 30-min gap, same (ts, event_id) order).
    */
  private val pathCtes = """
s1 AS (SELECT user_id, event_id, ts, event_type,
    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events),
s2 AS (SELECT user_id, event_id, ts, event_type,
    SUM(CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM s1),
s3 AS (SELECT user_id, session_idx, event_type, ts, event_id,
    ROW_NUMBER() OVER (PARTITION BY user_id, session_idx
      ORDER BY ts, event_id) AS rn
  FROM s2)"""

  /** The k-means oracle: full-corpus mirror of the `ivfFitCtes` integer
    * Lloyd's discipline — `list_reduce` left-folds add in the same order
    * as Spark's `aggregate` fold (irrelevant here: the terms are exact
    * ints), `//`/`div` both truncate toward zero, `floor(sum/count)`
    * matches because the sums sit far inside 2^53.
    */
  private val kmeansOracle = """
WITH m0 AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS m
  FROM embeddings),
init AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, m
  FROM (SELECT vec_id, m FROM m0 ORDER BY vec_id LIMIT 8)),
a1 AS (
  SELECT v.vec_id, v.m, c.c,
    row_number() OVER (PARTITION BY v.vec_id ORDER BY
      list_reduce(list_transform(range(1, 65),
        i -> (v.m[i] - c.m[i]) * (v.m[i] - c.m[i])), (a, b) -> a + b), c.c) AS r
  FROM m0 v, init c),
g1 AS (SELECT vec_id, m, c FROM a1 WHERE r = 1),
c1e AS (
  SELECT c, u.i AS d,
    CAST(floor(CAST(SUM(m[u.i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
  FROM g1, unnest(range(1, 65)) u(i) GROUP BY c, u.i),
c1m AS (SELECT c, list(v ORDER BY d) AS m FROM c1e GROUP BY c),
c1 AS (SELECT s.c, COALESCE(c1m.m, s.m) AS m
       FROM init s LEFT JOIN c1m USING (c)),
a2 AS (
  SELECT v.vec_id, v.m, c.c,
    row_number() OVER (PARTITION BY v.vec_id ORDER BY
      list_reduce(list_transform(range(1, 65),
        i -> (v.m[i] - c.m[i]) * (v.m[i] - c.m[i])), (a, b) -> a + b), c.c) AS r
  FROM m0 v, c1 c),
g2 AS (SELECT vec_id, m, c FROM a2 WHERE r = 1),
c2e AS (
  SELECT c, u.i AS d,
    CAST(floor(CAST(SUM(m[u.i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
  FROM g2, unnest(range(1, 65)) u(i) GROUP BY c, u.i),
c2m AS (SELECT c, list(v ORDER BY d) AS m FROM c2e GROUP BY c),
c2 AS (SELECT s.c, COALESCE(c2m.m, s.m) AS m
       FROM c1 s LEFT JOIN c2m USING (c)),
a3 AS (
  SELECT vec_id, c, d2 FROM (
    SELECT v.vec_id, c.c,
      list_reduce(list_transform(range(1, 65),
        i -> (v.m[i] - c.m[i]) * (v.m[i] - c.m[i])), (a, b) -> a + b) AS d2,
      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        list_reduce(list_transform(range(1, 65),
          i -> (v.m[i] - c.m[i]) * (v.m[i] - c.m[i])), (a, b) -> a + b), c.c) AS r
    FROM m0 v, c2 c) z WHERE r = 1)
SELECT CAST(c AS BIGINT) AS cluster, CAST(COUNT(*) AS BIGINT) AS n_vectors,
  CAST(SUM(d2) AS BIGINT) AS inertia
FROM a3 GROUP BY c"""

  private val pagerankOracle = """
WITH ev AS (
  SELECT user_id, ts, event_id,
    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events),
nx AS (SELECT k AS src,
    lead(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM ev),
ed AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
  FROM nx WHERE dst IS NOT NULL AND dst <> src GROUP BY 1, 2),
en AS (SELECT src, dst, w, SUM(w) OVER (PARTITION BY src) AS ow FROM ed),
nodes AS (SELECT DISTINCT k AS node FROM ev),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes),
r0 AS (SELECT node, 1000000000000 // n_nodes AS rank_e12 FROM nodes, nn),
r1 AS (
  SELECT n.node,
    (3 * 1000000000000) // (20 * nn.n_nodes) + 17 * COALESCE(c.c, 0) // 20 AS rank_e12
  FROM nodes n CROSS JOIN nn LEFT JOIN (
    SELECT en.dst AS node, SUM(r0.rank_e12 * en.w // en.ow) AS c
    FROM r0 JOIN en ON r0.node = en.src GROUP BY 1) c ON c.node = n.node),
r2 AS (
  SELECT n.node,
    (3 * 1000000000000) // (20 * nn.n_nodes) + 17 * COALESCE(c.c, 0) // 20 AS rank_e12
  FROM nodes n CROSS JOIN nn LEFT JOIN (
    SELECT en.dst AS node, SUM(r1.rank_e12 * en.w // en.ow) AS c
    FROM r1 JOIN en ON r1.node = en.src GROUP BY 1) c ON c.node = n.node),
r3 AS (
  SELECT n.node,
    (3 * 1000000000000) // (20 * nn.n_nodes) + 17 * COALESCE(c.c, 0) // 20 AS rank_e12
  FROM nodes n CROSS JOIN nn LEFT JOIN (
    SELECT en.dst AS node, SUM(r2.rank_e12 * en.w // en.ow) AS c
    FROM r2 JOIN en ON r2.node = en.src GROUP BY 1) c ON c.node = n.node)
SELECT node, CAST(rank_e12 AS BIGINT) AS rank_e12,
  CAST(rank_e12 AS DOUBLE) / 1e12 AS rank
FROM r3"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("events_funnel", (s, dir) => funnel(s, dir),
      Some("""
        WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
                   WHERE event_type = 'view' GROUP BY 1),
        c AS (SELECT e.user_id, MIN(e.ts) AS t2
              FROM events e JOIN v ON v.user_id = e.user_id
              WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
        p AS (SELECT e.user_id, MIN(e.ts) AS t3
              FROM events e JOIN c ON c.user_id = e.user_id
              WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1),
        st AS (
          SELECT 1 AS stage, 'view' AS stage_name, COUNT(*) AS users FROM v
          UNION ALL
          SELECT 2, 'click_after_view', COUNT(*) FROM c
          UNION ALL
          SELECT 3, 'purchase_after_click', COUNT(*) FROM p)
        SELECT CAST(stage AS BIGINT) AS stage, stage_name,
          CAST(users AS BIGINT) AS users,
          CAST(users AS DOUBLE) /
            MAX(CASE WHEN stage = 1 THEN users END) OVER () AS conversion
        FROM st""")),

    QueryDef("events_retention", (s, dir) => retention(s, dir),
      Some("""
        WITH uw AS (SELECT DISTINCT user_id,
            epoch_us(ts) // 604800000000 AS wk FROM events),
        co AS (SELECT user_id, MIN(wk) AS cohort_wk FROM uw GROUP BY 1),
        r AS (SELECT co.cohort_wk, uw.wk - co.cohort_wk AS week_offset,
            COUNT(*) AS active_users
          FROM uw JOIN co ON uw.user_id = co.user_id GROUP BY 1, 2)
        SELECT CAST(cohort_wk AS BIGINT) AS cohort_wk,
          CAST(week_offset AS BIGINT) AS week_offset,
          CAST(active_users AS BIGINT) AS active_users,
          CAST(active_users AS DOUBLE) /
            MAX(CASE WHEN week_offset = 0 THEN active_users END)
              OVER (PARTITION BY cohort_wk) AS retention
        FROM r""")),

    QueryDef("events_top_paths", (s, dir) => topPaths(s, dir),
      Some(s"""
        WITH $pathCtes,
        p AS (SELECT user_id, session_idx,
            string_agg(event_type, '>' ORDER BY rn) AS path
          FROM s3 WHERE rn <= 5 GROUP BY 1, 2)
        SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
        FROM p GROUP BY 1
        ORDER BY n_sessions DESC, path LIMIT 10""")),

    QueryDef("graph_item_pagerank", (s, dir) => itemPagerank(s, dir),
      Some(pagerankOracle)),

    QueryDef("sim_kmeans_corpus", (s, dir) => kmeansCorpus(s, dir),
      Some(kmeansOracle)),

    QueryDef("events_engagement", (s, dir) => engagement(s, dir),
      Some("""
        WITH uw AS (SELECT DISTINCT user_id,
            epoch_us(ts) // 86400000000 AS day FROM events),
        b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM uw),
        dau AS (SELECT day AS target, COUNT(*) AS dau FROM uw GROUP BY 1),
        wau AS (SELECT target, COUNT(*) AS wau FROM (
            SELECT DISTINCT user_id, day + o.i AS target
            FROM uw, UNNEST(range(0, 7)) o(i)) GROUP BY 1),
        mau AS (SELECT target, COUNT(*) AS mau FROM (
            SELECT DISTINCT user_id, day + o.i AS target
            FROM uw, UNNEST(range(0, 30)) o(i)) GROUP BY 1)
        SELECT CAST(dau.target AS BIGINT) AS day,
          CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
          CAST(mau AS BIGINT) AS mau,
          CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE) AS stickiness
        FROM dau JOIN wau ON wau.target = dau.target
          JOIN mau ON mau.target = dau.target, b
        WHERE dau.target <= b.d1""")),

    QueryDef("text_length_quantiles", (s, dir) => lengthQuantiles(s, dir),
      Some("""
        WITH f AS (SELECT lang, n_chars, COUNT(*) AS c
          FROM documents GROUP BY 1, 2),
        cu AS (SELECT lang, n_chars,
            SUM(c) OVER (PARTITION BY lang ORDER BY n_chars
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            SUM(c) OVER (PARTITION BY lang) AS n
          FROM f)
        SELECT lang, CAST(MAX(n) AS BIGINT) AS n_docs,
          CAST(MIN(CASE WHEN cum >= (50 * n + 99) // 100 THEN n_chars END) AS BIGINT) AS p50_chars,
          CAST(MIN(CASE WHEN cum >= (90 * n + 99) // 100 THEN n_chars END) AS BIGINT) AS p90_chars,
          CAST(MIN(CASE WHEN cum >= (99 * n + 99) // 100 THEN n_chars END) AS BIGINT) AS p99_chars
        FROM cu GROUP BY lang""")),

    QueryDef("graph_item_triangles", (s, dir) => itemTriangles(s, dir),
      Some("""
        WITH ev AS (
          SELECT user_id, ts, event_id,
            CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          FROM events),
        nx AS (SELECT k, lead(k) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS nk FROM ev),
        e AS (SELECT DISTINCT least(k, nk) AS a, greatest(k, nk) AS b
          FROM nx WHERE nk IS NOT NULL AND nk <> k),
        tri AS (SELECT COUNT(*) AS n_triangles
          FROM e ab JOIN e bc ON bc.a = ab.b
            JOIN e ac ON ac.a = ab.a AND ac.b = bc.b),
        ne AS (SELECT COUNT(*) AS n_edges FROM e),
        nn AS (SELECT COUNT(*) AS n_nodes FROM
          (SELECT a AS v FROM e UNION SELECT b FROM e))
        SELECT CAST(n_triangles AS BIGINT) AS n_triangles,
          CAST(n_edges AS BIGINT) AS n_edges,
          CAST(n_nodes AS BIGINT) AS n_nodes
        FROM tri, ne, nn""")),

    QueryDef("q_skyline_orders", (s, dir) => orderSkyline(s, dir),
      Some("""
        WITH o AS (SELECT o_orderkey, o_orderdate,
            CAST(round(o_totalprice * 100) AS BIGINT) AS price_c FROM orders)
        SELECT o_orderkey, o_orderdate,
          CAST(price_c AS DOUBLE) / 100.0 AS o_totalprice
        FROM o
        WHERE NOT EXISTS (SELECT 1 FROM o o2
          WHERE o2.o_orderdate <= o.o_orderdate AND o2.price_c <= o.price_c
            AND (o2.o_orderdate < o.o_orderdate OR o2.price_c < o.price_c))""")),

    QueryDef("q_balance_quartiles", (s, dir) => balanceQuartiles(s, dir),
      Some("""
        SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nation, c_acctbal,
          CAST(rank() OVER w AS BIGINT) AS bal_rank,
          CAST(ntile(4) OVER w AS BIGINT) AS quartile,
          percent_rank() OVER w AS pct_rank
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey
          ORDER BY c_acctbal DESC, c_custkey)
        QUALIFY quartile = 1""")),

    QueryDef("q_fuzzy_name_match", (s, dir) => fuzzyNameMatch(s, dir),
      Some("""
        SELECT c_custkey, s_suppkey, CAST(c_nationkey AS BIGINT) AS nation,
          CAST(levenshtein(substring(c_name, 10, 9),
            substring(s_name, 10, 9)) AS BIGINT) AS dist
        FROM customer JOIN supplier ON s_nationkey = c_nationkey
        WHERE levenshtein(substring(c_name, 10, 9),
          substring(s_name, 10, 9)) <= 1""")),

    QueryDef("text_pmi_bigrams", (s, dir) => pmiBigrams(s, dir),
      Some("""
        WITH w AS (SELECT doc_id, string_split(
            regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS ws
          FROM documents),
        uni AS (SELECT t.w, CAST(COUNT(*) AS BIGINT) AS c FROM (
            SELECT unnest(ws) AS w FROM w) t GROUP BY 1),
        n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens FROM uni),
        bi AS (SELECT ws[i] AS a, ws[i + 1] AS b, CAST(COUNT(*) AS BIGINT) AS c_ab
          FROM w, UNNEST(range(1, len(ws))) u(i)
          GROUP BY 1, 2 HAVING COUNT(*) >= 5)
        SELECT bi.a, bi.b, bi.c_ab,
          CAST(round(ln(CAST(bi.c_ab * n.n_tokens AS DOUBLE) /
            CAST(ua.c * ub.c AS DOUBLE)) * 10000) AS BIGINT) AS pmi_micro
        FROM bi JOIN uni ua ON ua.w = bi.a JOIN uni ub ON ub.w = bi.b, n
        ORDER BY pmi_micro DESC, a, b LIMIT 30""")),

    QueryDef("events_markov_transitions", (s, dir) => markovTransitions(s, dir),
      Some("""
        WITH ev AS (SELECT user_id, ts, event_id,
            CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          FROM events),
        nx AS (SELECT k AS src, lead(k) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS dst FROM ev),
        ed AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
          FROM nx WHERE dst IS NOT NULL AND dst <> src GROUP BY 1, 2)
        SELECT src, dst, w,
          CAST(w AS DOUBLE) / CAST(SUM(w) OVER (PARTITION BY src) AS DOUBLE) AS p
        FROM ed""")),

    QueryDef("events_value_histogram", (s, dir) => valueHistogram(s, dir),
      Some("""
        SELECT event_type,
          CAST(least(CAST(round(value * 10000) AS BIGINT) // 200000, 25) AS BIGINT) AS bin,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2""")),

    QueryDef("q_props_profile", (s, dir) => propsProfile(s, dir),
      Some("""
        WITH n AS (SELECT COUNT(*) AS n_total FROM events),
        k AS (SELECT key, COUNT(*) AS n_rows FROM (
            SELECT unnest(json_keys(props)) AS key FROM events)
          GROUP BY 1)
        SELECT key, CAST(n_rows AS BIGINT) AS n_rows,
          CAST(n_rows AS DOUBLE) / CAST(n_total AS DOUBLE) AS share
        FROM k, n""")),

    QueryDef("events_value_outliers", (s, dir) => valueOutliers(s, dir),
      Some("""
        WITH e AS (SELECT event_id, event_type, value,
            CAST(round(value * 10000) AS BIGINT) AS vm FROM events),
        m AS (SELECT event_type,
            CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
            SUM(CAST(vm AS DECIMAL(38,0))) AS s,
            SUM(CAST(vm AS DECIMAL(38,0)) * CAST(vm AS DECIMAL(38,0))) AS sx2
          FROM e GROUP BY 1)
        SELECT event_id, event_type, value, z2 FROM (
          SELECT event_id, e.event_type, value,
            round(CAST((m.n * e.vm - m.s) * (m.n * e.vm - m.s) AS DOUBLE) /
              CAST(m.n * m.sx2 - m.s * m.s AS DOUBLE), 6) AS z2
          FROM e JOIN m ON m.event_type = e.event_type
          WHERE m.n * m.sx2 - m.s * m.s > 0)
        WHERE z2 > 9.0""")),

    QueryDef("q_session_window", (s, dir) => sessionWindows(s, dir),
      Some("""
        SELECT user_id, CAST(MIN(ts) AS TIMESTAMP) AS session_start,
          CAST(MAX(ts) AS TIMESTAMP) AS session_end,
          CAST(COUNT(*) AS BIGINT) AS n_events
        FROM (
          SELECT user_id, ts,
            SUM(CASE WHEN prev_ts IS NULL
                  OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
              THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sidx
          FROM (
            SELECT user_id, event_id, ts,
              lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                AS prev_ts
            FROM events) t1) t2
        GROUP BY user_id, sidx""")),

    QueryDef("events_incremental_engagement",
      (s, dir) => {
        val f = IceQueries.incrementalEvents(s, dir)
        incrementalEngagement(s, f.events, f.activityIndex, f.watermark)
      },
      // the oracle is FULL-corpus engagement: a missed fresh pair, a
      // double-counted boundary day, or a stale index row all fail the gate
      Some("""
        WITH uw AS (SELECT DISTINCT user_id,
            epoch_us(ts) // 86400000000 AS day FROM events),
        b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM uw),
        dau AS (SELECT day AS target, COUNT(*) AS dau FROM uw GROUP BY 1),
        wau AS (SELECT target, COUNT(*) AS wau FROM (
            SELECT DISTINCT user_id, day + o.i AS target
            FROM uw, UNNEST(range(0, 7)) o(i)) GROUP BY 1),
        mau AS (SELECT target, COUNT(*) AS mau FROM (
            SELECT DISTINCT user_id, day + o.i AS target
            FROM uw, UNNEST(range(0, 30)) o(i)) GROUP BY 1)
        SELECT CAST(dau.target AS BIGINT) AS day,
          CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
          CAST(mau AS BIGINT) AS mau,
          CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE) AS stickiness
        FROM dau JOIN wau ON wau.target = dau.target
          JOIN mau ON mau.target = dau.target, b
        WHERE dau.target <= b.d1""")),

    QueryDef("sim_hybrid_rrf", (s, dir) => hybridRrf(s, dir),
      Some(s"""
        WITH ${TextOps.bm25Ctes},
        sp AS (SELECT doc_id, CAST(rank AS INTEGER) AS sparse_rank
          FROM ranked WHERE rank <= 100),
        den AS (SELECT doc_id, CAST(dr AS INTEGER) AS dense_rank FROM (
          SELECT b.vec_id AS doc_id,
            ROW_NUMBER() OVER (ORDER BY
              round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                CAST(b.embedding AS DOUBLE[])), 4) DESC, b.vec_id) AS dr
          FROM embeddings b,
            (SELECT embedding FROM embeddings WHERE vec_id = 0) q
          WHERE b.vec_id <> 0) z WHERE dr <= 100),
        fus AS (SELECT COALESCE(sp.doc_id, den.doc_id) AS doc_id,
            COALESCE(CAST(round(1e9 / (60 + sp.sparse_rank)) AS BIGINT), 0) +
              COALESCE(CAST(round(1e9 / (60 + den.dense_rank)) AS BIGINT), 0)
              AS rrf_micro,
            COALESCE(sp.sparse_rank, -1) AS sparse_rank,
            COALESCE(den.dense_rank, -1) AS dense_rank
          FROM sp FULL OUTER JOIN den ON den.doc_id = sp.doc_id)
        SELECT doc_id, rrf_micro, CAST(sparse_rank AS INTEGER) AS sparse_rank,
          CAST(dense_rank AS INTEGER) AS dense_rank
        FROM fus ORDER BY rrf_micro DESC, doc_id LIMIT 20""")),

    QueryDef("events_frequent_pairs", (s, dir) => frequentPairs(s, dir),
      Some(s"""
        WITH $pathCtes,
        si AS (SELECT DISTINCT s3.user_id, s3.session_idx,
            CAST(json_extract_string(e.props, '$$.k') AS BIGINT) AS k
          FROM s3 JOIN events e ON e.event_id = s3.event_id),
        pr AS (SELECT x.k AS item_a, y.k AS item_b, COUNT(*) AS support
          FROM si x JOIN si y ON y.user_id = x.user_id
            AND y.session_idx = x.session_idx AND x.k < y.k
          GROUP BY 1, 2)
        SELECT item_a, item_b, CAST(support AS BIGINT) AS support
        FROM pr ORDER BY support DESC, item_a, item_b LIMIT 20"""))
  )
}
