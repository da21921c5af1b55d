package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions for the properties the engine is designed
  * around — not just "the query returns rows" but "Catalyst produced the
  * plan we want": filters and projections reach the Parquet scan, small
  * dimensions broadcast instead of shuffling the fact table, aggregates
  * keep a partial (map-side) phase, and relational hot paths run inside
  * WholeStageCodegen.
  */
class PlanAuditSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("plan-audit-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def plan(name: String): String = ops.QueryScope.run {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  test("scan+filter+project pushes the predicate and prunes columns") {
    val p = plan("q_scan_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_extendedprice:double"),
      s"columns not pruned:\n$p")
    assert(!p.contains("l_comment"), "scan reads columns the query never uses")
  }

  test("star join broadcasts every dimension — the fact table never shuffles for them") {
    val p = plan("q9_brand_nation_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, s"dims not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected fact-side shuffle join:\n$p")
  }

  test("aggregation is partial before the exchange and runs in codegen") {
    val df = SparkEntry.queries("q1_pricing_summary")(spark, sfDir)
    val initial = df.queryExecution.executedPlan.toString
    // partial-then-final: partial_sum below the exchange, final above
    assert(initial.contains("partial_sum"), s"no map-side combine:\n$initial")
    assert("HashAggregate".r.findAllIn(initial).size >= 2, s"no two-phase agg:\n$initial")
    df.collect() // AQE finalizes the plan; codegen spans only show after
    val fin = df.queryExecution.executedPlan.toString
    // compact plan strings mark WholeStageCodegen stages as `*(n)`
    assert(fin.contains("*(1)") || fin.contains("WholeStageCodegen"), s"not codegen'd:\n$fin")
  }

  test("iceberg scan residual reaches Spark's parquet pushdown") {
    val p = plan("ice_scan_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"residual did not reach the scan:\n$p")
  }

  test("equality-delete scan: deletes apply in the scan task, no join, no shuffle") {
    val p = plan("ice_eq_delete_scan")
    // the delete-key sets reach the scan's tasks through a broadcast
    // variable; at 100 TB any join or exchange here would dominate the scan
    assert(p.contains("apply_deletes"), s"no in-scan delete predicate:\n$p")
    assert(!p.contains("Join") && !p.contains("Exchange"),
      s"delete application joined or shuffled the scan:\n$p")
  }

  test("row-lineage scan: _row_id comes from _metadata in the scan, no join, no shuffle") {
    val p = plan("ice_row_lineage_scan")
    // _row_id = coalesce(materialized column, first_row_id + row_index), both
    // file constants of the scan; at 100 TB any join or exchange here would
    // dominate the scan
    assert(raw"_metadata#\d+\.first_row_id".r.findFirstIn(p).isDefined,
      s"lineage not read from _metadata:\n$p")
    assert(!p.contains("Join") && !p.contains("Exchange"),
      s"lineage attachment joined or shuffled the scan:\n$p")
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"),
      s"UDF in the lineage path:\n$p")
  }

  test("last-updated-seq scan: the sequence comes from _metadata, no join, no shuffle") {
    val p = plan("ice_row_lineage_seq_scan")
    // _last_updated_sequence_number falls back to the file's data sequence
    // number, a file constant like first_row_id
    assert(raw"_metadata#\d+\.data_sequence_number".r.findFirstIn(p).isDefined,
      s"lineage not read from _metadata:\n$p")
    assert(!p.contains("Join") && !p.contains("Exchange"),
      s"lineage attachment joined or shuffled the scan:\n$p")
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"),
      s"UDF in the lineage path:\n$p")
  }

  test("q8 market share: dimension filters broadcast, one shuffle for the year agg") {
    val p = plan("q8_market_share")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, s"dims not broadcast:\n$p")
    assert(p.contains("partial_sum"), s"no map-side combine:\n$p")
  }

  test("q21 exists/not-exists: semi and anti joins keyed on the order, no cartesian") {
    val p = plan("q21_sole_blame")
    assert(p.contains("LeftSemi"), s"missing semi join:\n$p")
    assert(p.contains("LeftAnti"), s"missing anti join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product in plan:\n$p")
  }

  test("decontamination broadcasts the benchmark gram set — corpus text never shuffles") {
    val p = plan("pipeline_decontaminate")
    // at 100 TB the corpus side is the one that must stream map-side; a
    // SortMergeJoin here would shuffle every corpus 5-gram
    assert(p.contains("BroadcastHashJoin"), s"benchmark grams not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus grams shuffled for the join:\n$p")
  }

  test("IVF assignment runs in codegen — no UDF node on the corpus pass") {
    val p = plan("sim_ann_ivf")
    // the corpus-wide cell assignment must not drop out of whole-stage
    // codegen into per-row Scala UDF eval (Invoke/ScalaUDF nodes); the
    // codebook rides as referenced state inside the generated class
    assert(!p.contains("ScalaUDF") && !p.toLowerCase.contains("batchevalpython"),
      s"IVF assignment fell back to UDF eval:\n$p")
    assert(p.contains("ivf_assign"), s"codegen assign expression missing:\n$p")
    assert(p.contains("ivf_probe"), s"codegen probe expression missing:\n$p")
  }

  test("chunk dedup: representative aggregate with no window and no UDF on the hash") {
    val p = plan("dedup_paragraph_exact")
    // kept counts re-aggregate the min-(doc,idx) representatives — a
    // row_number window over the chunk hash (the skew-prone alternative)
    // must not appear, and the aggregate must combine map-side
    assert(!p.contains("Window"), s"chunk dedup windows over the hash:\n$p")
    assert(p.contains("partial_min") || p.contains("partial_count"),
      s"no map-side combine on the chunk hash:\n$p")
    assert(!p.contains("ScalaUDF"), s"per-row UDF in the chunk pass:\n$p")
  }

  test("gopher rules and entropy are pure two-phase aggregations — no joins at all") {
    for (name <- Seq("pipeline_gopher_rules", "text_entropy")) {
      val p = plan(name)
      assert(!p.contains("Join"), s"$name joins where an aggregate suffices:\n$p")
      assert(p.contains("partial_sum"), s"$name lacks map-side combine:\n$p")
      assert(!p.contains("ScalaUDF"), s"$name uses a per-row UDF:\n$p")
    }
  }

  test("incremental embedding dedup: increment ids broadcast, no cartesian, no UDF") {
    ops.QueryScope.run {
      val f = ops.IceQueries.incrementalEmb(spark, sfDir)
      val df = ops.IncrementalDedup.incrementalEmbeddingPairs(
        spark, f.emb, f.buckets, f.watermark, 0.2)
      val p = df.queryExecution.executedPlan.toString
      // the stored bucket table excludes the increment via a broadcast
      // anti-join (the id set is Δ-sized); candidates join on bucket keys
      assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
        s"increment exclusion is not a broadcast anti-join:\n$p")
      assert(!p.contains("CartesianProduct"), s"cartesian in the candidate join:\n$p")
      assert(!p.contains("ScalaUDF"), s"per-row UDF in the bucketing pass:\n$p")
    }
  }

  test("kNN graph: no cartesian, no window — candidates dedup before vectors attach") {
    val p = plan("sim_knn_graph")
    assert(!p.contains("CartesianProduct"), s"kNN candidate stage went all-pairs:\n$p")
    // per-vector ranking is the partial top-k aggregate, never a window
    // (a window would shuffle every scored pair into per-vector partitions)
    assert(!p.contains("Window"), s"kNN ranking fell back to a window:\n$p")
    assert(p.contains("top_k_by_score"), s"partial top-k aggregate missing:\n$p")
  }

  test("vocabulary top-k is a distributed TakeOrdered — the full vocabulary never globally sorts") {
    val p = plan("text_vocab_topk")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not TakeOrdered:\n$p")
    // the only full Sort allowed is the one over the <=k ranked rows; a
    // global Sort BELOW the limit would order the whole vocabulary
    assert(!p.contains("Sort [occurrences"), s"full-vocab sort in plan:\n$p")
  }

  test("hash split is a pure per-row map — zero exchanges") {
    val p = plan("pipeline_split")
    assert(!p.contains("Exchange"), s"split plan shuffles:\n$p")
  }

  test("incremental dedup excludes the increment from the index via a BROADCAST anti-join") {
    // at 100 TB the index side is corpus-sized: the increment's id set must
    // broadcast so exclusion is a streamed filter, never an index shuffle
    val p = plan("dedup_incremental")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"index exclusion is not a broadcast anti-join:\n$p")
    assert(!p.contains("ScalaUDF"), s"UDF fell into the incremental plan:\n$p")
  }

  test("incremental minhash signs with the codegen expression, index side never re-signs") {
    val p = plan("dedup_incremental_minhash")
    // the signing expression appears (the increment's pass, possibly
    // re-rendered where the cached frame is referenced); the stored side
    // only derives band hashes from the persisted sig column
    assert("minhash_sig".r.findAllIn(p).nonEmpty,
      s"codegen signature expression missing:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"signature-table exclusion is not a broadcast anti-join:\n$p")
    assert(!p.contains("ScalaUDF"), s"UDF fell into the minhash plan:\n$p")
  }

  test("bloom decontamination is a streamed filter — no join touches the corpus") {
    val p = plan("pipeline_decontaminate_bloom")
    assert(p.contains("bloom_might_contain"), s"codegen probe missing:\n$p")
    assert(!p.contains("ScalaUDF"), s"UDF fell into the bloom plan:\n$p")
    // the corpus side must reach the aggregate through a FILTER, not any
    // join — the benchmark set exists only as the referenced sketch
    assert(!p.contains("Join"), s"unexpected join in the probe pass:\n$p")
  }

  test("stratified sample never sorts a whole stratum — bin histogram + broadcast") {
    val p = plan("pipeline_sample")
    // the quota bins join back as broadcasts (they are sources × 4096 rows
    // at most), and the ONLY window partitions by (source, bin) — a window
    // on source alone would pull each whole stratum into one task
    assert(p.contains("BroadcastHashJoin"), s"bin sets not broadcast:\n$p")
    // Window prints its partition spec as `], [cols], [order]` — require
    // bin in every corpus-side spec and forbid a source-only one. (The
    // histogram's own cumulative window runs over sources × 4096 rows —
    // it is keyed on source alone but never sees corpus rows; it sits
    // above the partial_count aggregate, which this regex scopes out by
    // matching row_number windows only.)
    val rnSpecs = """row_number\(\) windowspecdefinition\(([^,]+(?:, [^,]+)*?), [^ ]+ ASC"""
      .r.findAllMatchIn(p).map(_.group(1)).toList
    assert(rnSpecs.nonEmpty, s"boundary ranking window missing:\n$p")
    assert(rnSpecs.forall(s => s.contains("bin") && s.contains("source")),
      s"ranking window not keyed on (source, bin): $rnSpecs\n$p")
  }

  test("sequence packing and source capping shuffle once, on the source blocking key") {
    Seq("pipeline_seq_packing", "pipeline_source_cap").foreach { q =>
      val p = plan(q)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(exchanges == 1, s"$q expected exactly one hash exchange, got $exchanges:\n$p")
      assert(p.contains("hashpartitioning(source"), s"$q not keyed on source:\n$p")
    }
  }

  test("sketch vocabulary's exact pass joins broadcast candidates — the shuffle is capacity-bounded") {
    // the candidate set is <=capacity rows: a SortMergeJoin here would
    // shuffle the full token stream against it, defeating the sketch
    val p = plan("text_vocab_sketch_topk")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"candidate filter is not a broadcast semi-join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not TakeOrdered:\n$p")
  }

  test("containment pairs: inverted-index join keyed on the token, never cartesian") {
    val p = plan("dedup_containment")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cartesian in containment plan:\n$p")
    // the pair join must key on (tok, source) — as a hash exchange at scale
    // or a broadcast hash join at this SF; either way the join KEYS carry
    // the token, so the candidate space is Σ C(df,2), never |docs|²
    assert("(BroadcastHash|SortMerge)Join \\[tok".r.findFirstIn(p).nonEmpty ||
      "hashpartitioning\\([^)]*tok".r.findFirstIn(p).nonEmpty,
      s"pair join not keyed on the token:\n$p")
  }

  test("ANN re-ranks carry no per-query window — partial top-k aggregate before the exchange") {
    // the corpus×queries scored stream must be reduced map-side by the
    // TopKByScore aggregate (ObjectHashAggregate with a partial mode),
    // never shuffled raw into nQueries window partitions — a large query
    // batch would make each partition a corpus-sized single task
    Seq("sim_bruteforce_topk", "sim_quantized_topk", "sim_ann_ivf",
        "sim_ann_lsh", "sim_rerank_exact").foreach { q =>
      val p = plan(q)
      assert(!p.contains("row_number() windowspecdefinition"),
        s"$q still ranks via a per-query window:\n$p")
      assert(p.contains("ObjectHashAggregate") && p.contains("top_k_by_score"),
        s"$q does not aggregate via the native top-k:\n$p")
      assert("partial_top_k_by_score|ObjectHashAggregate[^\\n]*partial".r
          .findFirstIn(p).nonEmpty,
        s"$q top-k is not partially aggregated before the exchange:\n$p")
    }
  }

  test("quantized ANN: queries broadcast to the code scan, no UDF in the candidate pass") {
    val p = plan("sim_quantized_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query set not broadcast to the corpus code pass:\n$p")
    assert(!p.contains("ScalaUDF"), s"UDF fell into the quantized plan:\n$p")
  }

  test("mixture weights and source drift keep partial aggregation before the exchange") {
    Seq("pipeline_mixture_weights", "text_source_drift").foreach { q =>
      val p = plan(q)
      assert(p.contains("partial_count") || p.contains("partial_sum"),
        s"$q lost map-side combine:\n$p")
      assert(!p.contains("CartesianProduct") || q == "text_source_drift",
        s"$q has a cartesian:\n$p")
    }
    // drift's ONLY cross join is against the 1-row corpus total
    val drift = plan("text_source_drift")
    assert(p2CrossJoinsAreSingleRow(drift), s"drift cross join not 1-row:\n$drift")
  }

  /** The drift plan may contain broadcast nested-loop joins only for the
    * single-row corpus-total frame (an aggregate with no grouping keys).
    */
  private def p2CrossJoinsAreSingleRow(p: String): Boolean = {
    val nCross = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    nCross <= 1 // one 1-row total broadcast; anything more is a real cartesian
  }

  test("analytics batch: no cartesians, partial aggregation everywhere") {
    // frequent pairs' only join is the (user, session) equi-self-join;
    // funnel/retention/paths shuffle on user_id with map-side combine
    for (q <- Seq("events_funnel", "events_retention", "events_top_paths",
        "events_frequent_pairs")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian:\n$p")
      assert(p.contains("partial_count") || p.contains("partial_sum") ||
        p.contains("partial_min"), s"$q lost map-side combine:\n$p")
    }
  }

  test("skyline: one window over the per-date aggregate, no dominance join") {
    val p = plan("q_skyline_orders")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"skyline grew a dominance join:\n$p")
    assert("Window".r.findAllIn(p).size >= 1, s"no window pass:\n$p")
  }

  test("pagerank: every iteration joins on the node key, never a cartesian") {
    val p = plan("graph_item_pagerank")
    // the only nested-loop joins are the 1-row node-count broadcasts
    // (one per iteration + init); the rank×edge joins must be hash joins
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"rank-edge join is not keyed:\n$p")
    assert(!p.contains("CartesianProduct"), s"pagerank has a cartesian:\n$p")
  }

  test("k-means M-step reduces map-side: the exchange carries k x dims partials") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    import org.apache.spark.sql.functions._
    val m = emb.select(col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast("double") * lit(10000d)).cast("long")).as("m"))
      .withColumn("cluster", pmod(col("vec_id"), lit(8)))
    val p = m.select(col("cluster"), posexplode(col("m")).as(Seq("d", "v")))
      .groupBy("cluster", "d").agg(sum("v"), count(lit(1)))
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_sum") && p.contains("partial_count"),
      s"M-step shuffle is not pre-reduced:\n$p")
  }

  test("incremental engagement: a clean split optimizes the dedup join away entirely") {
    // the registered fixture's increment starts past every indexed day, so
    // the boundary-pruned overlap is an EMPTY relation and Catalyst's
    // empty-propagation removes the anti-join outright — the best possible
    // plan. (The stale-watermark case where the join materializes as a
    // broadcast anti is pinned in AnalyticsSpec with an overlapping
    // fixture.)
    val p = plan("events_incremental_engagement")
    assert(!p.contains("SortMergeJoin"),
      s"something in incremental engagement shuffles a join:\n$p")
  }

  test("no explicit broadcast hint rides an SF-scaling input — AQE size-gates those joins") {
    // Spark honors an explicit broadcast() hint regardless of measured
    // size, so a hint on customer/supplier/part/orders/lineitem (or any
    // filtered slice — they all grow with the scale factor) is a
    // driver-OOM at 100× even when correct today (VERDICT r12). Hints are
    // legitimate only on fixed-size inputs: nation/region and single-row
    // (global) aggregates.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, ResolvedHint}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val scalingFiles = Seq("customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").map(n => s"$n.parquet")
    val relationalNames = (ops.Relational.defs ++ ops.Relational2.defs ++
      ops.Relational3.defs ++ ops.Relational4.defs).map(_.name)
    for (name <- relationalNames) {
      val analyzed = SparkEntry.queries(name)(spark, sfDir).queryExecution.analyzed
      analyzed.foreach {
        case h: ResolvedHint
            if h.hints.strategy.exists(_.toString.toUpperCase.contains("BROADCAST")) =>
          // a global aggregate pins the hinted frame to one row no matter
          // what its leaves scan — always broadcastable
          val globalAgg = h.child.exists {
            case a: Aggregate => a.groupingExpressions.isEmpty
            case _ => false
          }
          if (!globalAgg) {
            val scaling = h.child.collectLeaves().collect {
              case l: LogicalRelation => l.relation match {
                case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
                case _ => Seq.empty[String]
              }
            }.flatten.filter(p => scalingFiles.exists(p.endsWith))
            assert(scaling.isEmpty,
              s"$name: explicit broadcast hint on SF-scaling input(s) $scaling")
          }
        case _ => ()
      }
    }
  }

  test("hybrid RRF: both top-100 cuts are TakeOrdered, never a corpus sort") {
    val p = plan("sim_hybrid_rrf")
    assert(p.contains("TakeOrderedAndProject"), s"top-k fell back to a global sort:\n$p")
  }

  test("lm perplexity: the corpus is scanned and exploded exactly once") {
    ops.QueryScope.run {
      // the shared docBigrams intermediate must be served to every consumer
      // from ONE materialization — at 100 TB each un-shared consumer variant
      // is a full corpus scan + explode. r17 relied on exchange reuse
      // (byte-identical canonical subtrees), which proved brittle: the r21
      // bench session measured FOUR corpus passes. The frame is now an
      // explicit QueryScope persist, so the law is: the corpus-scale
      // Generate lives in exactly ONE distinct cached relation, and no
      // consumer branch re-runs it outside the cache.
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
      // each consumer holds a FRESH InMemoryRelation instance, but one cached
      // materialization = one shared CachedRDDBuilder — dedupe on that
      val cachedBuilders = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
      def expand(p: SparkPlan): Seq[SparkPlan] = {
        val nested = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case i: InMemoryTableScanExec =>
            // expand each DISTINCT cached materialization once: N scans of
            // one cache are one materialization, not N
            val b = i.relation.cacheBuilder
            if (cachedBuilders.exists(_ eq b)) Seq.empty
            else { cachedBuilders += b; Seq(i.relation.cachedPlan) }
          case _ => Seq.empty
        }
        p +: (p.children ++ nested ++ p.subqueries).flatMap(expand)
      }
      val df = SparkEntry.queries("text_lm_perplexity")(spark, sfDir)
      df.collect() // AQE finalizes stages only on execution
      val nodes = expand(df.queryExecution.executedPlan)
      val generates = nodes.count(_.nodeName.contains("Generate"))
      val cacheReads = nodes.count(_.isInstanceOf[InMemoryTableScanExec])
      assert(generates == 1,
        s"bigram explode materialized $generates times — a consumer branch fell " +
          s"off the shared cache:\n${df.queryExecution.executedPlan}")
      assert(cachedBuilders.size == 1 && cacheReads >= 2,
        s"expected every consumer to read ONE cached docBigrams materialization, " +
          s"found ${cachedBuilders.size} caches / $cacheReads cache reads:\n" +
          s"${df.queryExecution.executedPlan}")
    }
  }
}
