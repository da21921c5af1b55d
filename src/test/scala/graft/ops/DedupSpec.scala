package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Cross-checks the two exact jaccard algorithms (inverted-index count-join
  * vs PPJoin prefix filtering) — identical result sets — and basic
  * dedup/similarity determinism.
  */
class DedupSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("dedup-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("count-join and prefix-filtered jaccard agree exactly") {
    val a = Dedup.jaccardPairs(spark, sfDir, 0.5)
      .select("doc_a", "doc_b", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = Dedup.jaccardPairsPrefix(spark, sfDir, 0.5)
      .select("doc_a", "doc_b", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a.nonEmpty)
    assert(a == b)
    // the cost-based chooser returns the same exact set whichever plan wins
    val c = Dedup.jaccardPairsAdaptive(spark, sfDir, 0.5)
      .select("doc_a", "doc_b", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(c == a)
  }

  test("containment dominates jaccard and catches a planted excerpt jaccard misses") {
    val s = spark
    import s.implicits._
    QueryScope.run {
      // dominance on the real corpus: min(|A|,|B|) <= |A∪B|, so every
      // jaccard>=t pair is a containment>=t pair
      val jac = QueryScope.run {
        Dedup.jaccardPairs(spark, sfDir, 0.5)
          .select("doc_a", "doc_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      val cont = QueryScope.run {
        Dedup.containmentPairs(spark, sfDir, 0.5)
          .select("doc_a", "doc_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      assert(jac.nonEmpty && jac.subsetOf(cont))
      // planted excerpt: doc 2's word set is fully inside doc 1's, with
      // jaccard 4/12 (well under 0.9) but containment exactly 1.0
      val planted = Seq(
        (1L, "a b c d e f g h i j k l", "src"),
        (2L, "a b c d", "src"),
        (3L, "x y z w", "src")).toDF("doc_id", "text", "source")
      val found = Dedup.containmentPairsOver(planted, 0.9)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(found == Map((1L, 2L) -> 1.0))
    }
  }

  test("containment count-join and prefix-probe plans agree exactly") {
    val docs = QueryDef.t(spark, sfDir, "documents")
    QueryScope.run {
      for (t <- Seq(0.5, 0.9)) {
        val byCount = QueryScope.run {
          Dedup.containmentPairsOver(docs, t)
            .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
        }
        // force the prefix plan regardless of the corpus moment
        val byPrefix = QueryScope.run {
          Dedup.adaptiveContainment(docs, t, statsHint = Some(1e18))
            .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
        }
        assert(byCount.nonEmpty, s"no containment pairs at t=$t")
        assert(byPrefix == byCount, s"plans disagree at t=$t")
      }
    }
  }

  test("containment prefix-probe plan: doc-keyed ranking window, token-keyed candidate join") {
    // force the prefix plan regardless of the corpus moment and audit the
    // shape the 100 TB path relies on
    val docs = QueryDef.t(spark, sfDir, "documents")
    QueryScope.run {
      val p = Dedup.adaptiveContainment(docs, 0.9, statsHint = Some(1e18))
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"cartesian in prefix-probe plan:\n$p")
      // candidates come from a token-keyed join (prefix side vs full index)
      assert("(BroadcastHash|SortMerge)Join \\[tok".r.findFirstIn(p).nonEmpty ||
        "hashpartitioning\\([^)]*tok".r.findFirstIn(p).nonEmpty,
        s"candidate join not keyed on the token:\n$p")
      // the ONLY ranking window partitions by doc_id — per-document prefix
      // selection, never a corpus-wide single-key window
      val rnSpecs = """row_number\(\) windowspecdefinition\(([^,]+),"""
        .r.findAllMatchIn(p).map(_.group(1)).toList
      assert(rnSpecs.nonEmpty, s"prefix ranking window missing:\n$p")
      assert(rnSpecs.forall(_.contains("doc_id")),
        s"ranking window not keyed per-document: $rnSpecs\n$p")
    }
  }

  test("containment prefix plan survives the IEEE ceil hazard at the boundary") {
    val s = spark
    import s.implicits._
    // sz=10 docs with inter=9: 10*0.9 floats to 9.000000000000002, a naive
    // ceil(sz*t) would demand o=10 and shorten the prefix below the lemma's
    // bound — the epsilon keeps o=9 and the pair MUST surface. Filter side:
    // 9/10 >= 0.9 holds in doubles, so the pair qualifies
    val planted = Seq(
      (1L, "a b c d e f g h i j", "src"), // {a..j}
      (2L, "a b c d e f g h i k", "src"), // 9 shared of 10
      (3L, "z1 z2 z3 z4 z5", "src")).toDF("doc_id", "text", "source")
    QueryScope.run {
      val viaPrefix = Dedup.adaptiveContainment(planted, 0.9, statsHint = Some(1e18))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaPrefix == Set((1L, 2L)), s"boundary pair missed: $viaPrefix")
    }
  }

  test("a planted high-df token flips the containment chooser to the prefix plan") {
    val s = spark
    import s.implicits._
    // 21,000 docs sharing one stopword: Σ C(df,2) ≈ 2.2e8 clears the
    // CountJoinMaxPairs quadratic budget (the ONLY flip since r21 — the
    // high-threshold early flip was removed on the evidence recorded in
    // OPTIMIZATION_r21.md "Containment cost chooser"), so the SAMPLED estimate (no stats hint) must select the
    // prefix plan — the count-join would pay C(21000,2) joined rows for
    // that token alone. Two planted dups prove the result on this corpus.
    val docs = (0L until 21000L).map(i => (i, s"the uniq${i}a uniq${i}b", "src")) ++
      Seq((90000L, "p q r s t u v w x y", "src"), (90001L, "p q r s t u v w x y", "src"))
    val df = docs.toDF("doc_id", "text", "source")
    val beforePrefix = Dedup.containmentPrefixPlans.get()
    QueryScope.run {
      val pairs = Dedup.adaptiveContainment(df, 0.9, statsHint = None)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(Dedup.containmentPrefixPlans.get() == beforePrefix + 1,
        "high-df corpus did not engage the prefix plan")
      assert(pairs == Set((90000L, 90001L)), s"unexpected pair set: $pairs")
    }
  }

  test("row-capped joined-rows sampler is exact when the corpus fits the cap") {
    import org.apache.spark.sql.functions._
    val raw = QueryDef.t(spark, sfDir, "documents")
    val exact = raw
      .select(col("source"), explode(Dedup.wordSet(col("text"))).as("tok"))
      .groupBy("tok", "source").agg(count(lit(1)).as("df"))
      .agg(sum(col("df") * (col("df") - 1) / 2.0)).first().getDouble(0)
    // corpus (500 docs) is under the cap → p = 1, the estimate IS the sum
    assert(Dedup.sampleJoinedRows(raw) == exact)
    // capped run still lands the plan choice on the right side of the
    // budget (the estimator is unbiased; at this corpus size any 100-doc
    // sample stays orders of magnitude below CountJoinMaxPairs)
    val capped = Dedup.sampleJoinedRows(raw, cap = 100L)
    assert(capped >= 0.0 && capped <= Dedup.CountJoinMaxPairs)
  }

  test("duplicate clusters equal an independent union-find over the pair graph") {
    val pairs = Dedup.jaccardPairsAdaptive(spark, sfDir, 0.5)
    val ps = pairs.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(ps.nonEmpty, "fixture should contain near-dup pairs at J >= 0.5")
    // default budget routes this small graph through the single-task
    // union-find solve; forcing the budget to 0 exercises the iterative
    // pointer-jumping loop on the SAME graph — both must agree exactly
    val label = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val loopLabel = try {
      spark.conf.set("spark.graft.dedup.clusters.localSolveMaxPairs", "0")
      Dedup.duplicateClusters(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    } finally spark.conf.unset("spark.graft.dedup.clusters.localSolveMaxPairs")
    assert(loopLabel == label, "loop and local-solve paths disagree")
    // oracle: driver-side union-find with min-root union
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    ps.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = ps.flatMap(p => Seq(p._1, p._2)).distinct
      .map(d => d -> find(d)).toMap
    assert(label == expected)
  }

  test("duplicate clusters converge on a long chain in O(log n) rounds, not O(diameter)") {
    val s = spark
    import s.implicits._
    // a 300-node path: every doc near-dups only its neighbor. Plain min
    // propagation needs ~300 rounds; pointer jumping must finish inside the
    // loop's 64-round cap — and label everything with the chain head
    val n = 300L
    // a 300-pair graph fits the local-solve budget, so force the loop:
    // THIS test is about the iterative path's convergence behavior. The
    // set sits INSIDE the try — an assertion failure mid-test must not
    // leak the forced-loop conf into later suites sharing this session
    spark.conf.set("spark.graft.dedup.clusters.localSolveMaxPairs", "0")
    try {
      val chain = (1L until n).map(i => (i - 1, i)).toDF("doc_a", "doc_b")
      val labels = Dedup.duplicateClusters(chain).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels.size == n)
      assert(labels.values.forall(_ == 0L), "chain did not collapse to its min id")
      // two disjoint chains stay separate components
      val two = chain.union(Seq((1000L, 1001L), (1001L, 1002L)).toDF("doc_a", "doc_b"))
      val l2 = Dedup.duplicateClusters(two).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(l2(1002L) == 1000L && l2(299L) == 0L)
      // with a checkpoint dir configured the loop runs on RELIABLE
      // checkpoints (the cluster fault-tolerance path) — identical labels
      val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
      spark.sparkContext.setCheckpointDir(ckptDir)
      val l3 = Dedup.duplicateClusters(chain).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(l3 == labels)
      // superseded reliable checkpoints are deleted as the loop advances
      // (Spark never reclaims them itself): after the run the dir holds
      // exactly ONE rdd-* directory — the final round's labels, which the
      // returned frame reads from
      def rddDirs(f: java.io.File): Seq[java.io.File] = {
        val kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Nil)
        kids.filter(k => k.isDirectory && k.getName.startsWith("rdd-")) ++
          kids.filter(_.isDirectory).flatMap(rddDirs)
      }
      val remaining = rddDirs(new java.io.File(ckptDir))
      assert(remaining.size == 1,
        s"expected only the final round's checkpoint to survive, found " +
          remaining.map(_.getName).mkString(", "))
    } finally {
      spark.sparkContext.setCheckpointDir(null) // don't leak the
      // reliable-mode flag into later suites sharing this JVM's session
      spark.conf.unset("spark.graft.dedup.clusters.localSolveMaxPairs")
    }
  }

  test("shared-span stats match a driver-side inverted index, within-doc repeats excluded") {
    val got = Dedup.sharedSpanStats(spark, sfDir, 5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // independent oracle: distinct 5-gram sets per doc, df over DISTINCT
    // per-doc sets — a span repeated only inside one document has df == 1
    // and must not count as duplicated
    val texts = QueryDef.t(spark, sfDir, "documents")
      .selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val spansOf = texts.map { case (id, txt) =>
      val ws = txt.toLowerCase.replaceAll("\\s+", " ").split(" ", -1)
      id -> ws.sliding(5).filter(_.length == 5).map(_.mkString(" ")).toSet
    }.toMap
    val df = spansOf.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val expected = spansOf.collect { case (id, ss) if ss.nonEmpty =>
      id -> ((ss.size.toLong, ss.count(df(_) >= 2).toLong))
    }
    assert(got == expected)
    assert(got.values.exists(_._2 > 0), "fixture should contain cross-doc spans")
  }

  test("dedup verdict composes exact families and near-dup clusters into keep/drop") {
    val s = spark
    import s.implicits._
    // 1 and 2: byte-identical copies (exact family AND a jaccard-1.0
    // cluster); 3: near-dup of 1 (shares 3 of its 4 tokens — jaccard 0.6 —
    // but not byte-identical); 4: unique
    val planted = Seq(
      (1L, "alpha beta gamma delta", "src"),
      (2L, "alpha beta gamma delta", "src"),
      (3L, "alpha beta gamma zeta", "src"),
      (4L, "totally different words entirely", "src"))
      .toDF("doc_id", "text", "source")
    QueryScope.run {
      val clusters = Dedup.duplicateClusters(
        Dedup.jaccardPairsOverDocs(planted, 0.5))
      val got = Dedup.dedupVerdict(planted, clusters).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      // (exact_dup, near_dup, keep, rep_id)
      assert(got(1L) == ((0L, 0L, 1L, 1L)))
      assert(got(2L) == ((1L, 1L, 0L, 1L)))
      assert(got(3L) == ((0L, 1L, 0L, 1L)))
      assert(got(4L) == ((0L, 0L, 1L, 4L)))
      // law: every document's representative keeps itself
      val reps = got.values.map(_._4).toSet
      assert(reps.forall(r => got(r)._3 == 1L))
      // the curated corpus is exactly the keep set: the copy and the
      // near-dup are gone, their shared representative and the unique
      // document survive
      val curated = Dedup.applyVerdict(planted,
          Dedup.dedupVerdict(planted, clusters))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(curated == Set(1L, 4L))
    }
  }

  test("minhash LSH recall against exact jaccard at high threshold") {
    val exact = Dedup.jaccardPairs(spark, sfDir, 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashCandidates(spark, sfDir, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 16 bands x 4 rows at j>=0.9: detection probability ≈ 1 - (1-0.9^4)^16 ≈ 0.999
    val recalled = exact.count(lsh.contains).toDouble
    assert(exact.isEmpty || recalled / exact.size >= 0.9,
      s"recall ${recalled / exact.size} over ${exact.size} true pairs")
  }

  test("windowed streaming LSH emits exactly the batch pairs within the window") {
    QueryScope.run {
      val (wdf, batches) = StreamingOps.streamedMinhashLshWindowed(spark, sfDir)
      val windowed = wdf.select("doc_a", "doc_b", "est_jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // state survived micro-batch boundaries (3 staged files, 1 per trigger)
      assert(batches.size >= 3)
      // no testdata bucket nears the cap, so the window contract is exact:
      // a pair surfaces iff its docs are within StreamWindowDocs (the replay
      // clock is doc_id-linear) — i.e. the batch set filtered to the window
      val batch = Dedup.minhashCandidates(spark, sfDir, 0.5)
        .select("doc_a", "doc_b", "est_jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val expected = batch.filter(p => p._2 - p._1 <= StreamingOps.StreamWindowDocs)
      assert(windowed == expected)
      // the window genuinely splits the corpus (distances span 20..480 here):
      // eviction semantics are exercised, not vacuous
      assert(windowed.nonEmpty && windowed.size < batch.size)
    }
  }

  test("simhash is deterministic and identical docs collide") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "totally different words here entirely"))
      .toDF("doc_id", "text")
    val hashes = Dedup.simhashes(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashes(1L) == hashes(2L))
    assert(hashes(1L) != hashes(3L))
  }

  test("chunk-level dedup keeps each chunk at its first (doc_id, idx) occurrence") {
    val s = spark
    import s.implicits._
    // chunkWords=3: d1 owns both its chunks; d2 re-uses d1's first chunk;
    // d3 is entirely d1's second chunk twice; d4 repeats a chunk WITHIN the
    // doc (first instance kept, second dropped) and has a short tail chunk
    val docs = Seq(
      (1L, "a b c d e f", "src"),
      (2L, "a b c x y z", "src"),
      (3L, "d e f d e f", "src"),
      (4L, "p q r p q r p", "src")).toDF("doc_id", "text", "source")
    val out = Dedup.chunkDedupStats(docs, chunkWords = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((2L, 2L, 0L)))
    assert(out(2L) == ((2L, 1L, 1L)))
    assert(out(3L) == ((2L, 0L, 2L)))
    assert(out(4L) == ((3L, 2L, 1L)))
    // conservation: kept totals across docs = distinct chunks in the corpus
    // ({a b c, d e f, x y z, p q r, p} = 5), and kept+dup = chunks per doc
    assert(out.values.map(_._2).sum == 5L)
    assert(out.values.forall { case (n, k, d) => k + d == n })
  }

  test("chunk scrub rebuilds each doc from its kept chunks; fully-duplicated docs vanish") {
    val s = spark
    import s.implicits._
    // same corpus as the stats test: d3 is entirely d1's second chunk twice
    // -> zero kept chunks -> no output row (the doc dissolves)
    val docs = Seq(
      (1L, "a b c d e f", "src"),
      (2L, "a b c x y z", "src"),
      (3L, "d e f d e f", "src"),
      (4L, "p q r p q r p", "src")).toDF("doc_id", "text", "source")
    val out = Dedup.chunkScrub(docs, chunkWords = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((2L, 11L))) // "a b c d e f"
    assert(out(2L) == ((1L, 5L)))  // "x y z"
    assert(out(4L) == ((2L, 7L)))  // "p q r p" (kept idx 0 and the tail)
    assert(!out.contains(3L))
  }

  test("quality representatives pick the cleanest member, min-id on ties") {
    val s = spark
    import s.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("doc_id", "cluster_id")
    // cluster 1: only doc 2 passes the quality gate -> rep 2 despite id 1
    // cluster 4: both pass with equal length -> min id 4 wins the tie
    val quality = Seq((1L, 0L, 50L), (2L, 1L, 10L), (3L, 0L, 99L),
      (4L, 1L, 20L), (5L, 1L, 20L)).toDF("doc_id", "q_pass", "q_words")
    val out = Dedup.qualityRepresentatives(clusters, quality)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((3L, 2L)))
    assert(out(4L) == ((2L, 4L)))
    // among gate-passers, longer wins
    val q2 = Seq((4L, 1L, 20L), (5L, 1L, 21L)).toDF("doc_id", "q_pass", "q_words")
    val out2 = Dedup.qualityRepresentatives(
      clusters.where("cluster_id = 4"), q2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out2(4L) == 5L)
  }

  test("LongLongMap: every long is a valid key; capacity bounds fail loudly") {
    val m = new LongLongMap(4)
    m.put(0L, 10L)
    m.put(Long.MinValue, 20L)
    m.put(-1L, 30L)
    (1L to 100L).foreach(k => m.put(k, k * 2))
    assert(m.size == 103)
    assert(m.getOrDefault(0L, -1L) == 10L)
    assert(m.getOrDefault(Long.MinValue, -1L) == 20L)
    assert(m.getOrDefault(-1L, -1L) == 30L)
    assert(m.getOrDefault(55L, -1L) == 110L)
    assert(m.getOrDefault(101L, -1L) == -1L)
    m.put(0L, 99L) // overwrite
    assert(m.getOrDefault(0L, -1L) == 99L)
    // past 2^30 slots the power-of-two doubling would wrap negative
    // (infinite loop in pow2, negative allocation in grow) — must throw
    assertThrows[IllegalArgumentException] {
      new LongLongMap((1 << 30) + 1)
    }
  }
}
