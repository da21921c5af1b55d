package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the curation operators on synthetic corpora with
  * hand-computable answers (the registered queries are oracle-gated on the
  * driver's documents table; these pin the operator semantics themselves).
  */
class PipelineOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("pipeline-ops-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def docs(rows: (Long, String, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text", "source")
  }

  test("gopher rules: each rule isolated on a planted doc, boundaries inclusive") {
    def words(n: Int, len: Int, prefix: String) =
      (1 to n).map(i => (prefix + "%02d".format(i)).padTo(len, 'x')).mkString(" ")
    val d = docs(
      // A: 30 words (boundary), 2 stopwords, all distinct, mean len ok -> pass
      (1L, "the of " + words(28, 4, "aa"), "s"),
      // B: 3 words -> fails word count, mean len (8/3 < 3), AND max freq
      // (5*1 > 3: a 3-word doc can't keep any word under 20%)
      (2L, "the of cat", "s"),
      // C: no stopwords, everything else fine -> fails only r_stop_words
      (3L, words(30, 4, "cc"), "s"),
      // D: 'spam' x7 of 30 words -> 5*7 > 30 fails only max-word-freq
      (4L, "the of " + ("spam " * 7).trim + " " + words(21, 4, "dd"), "s"),
      // E: 'spam' x6 of 30 -> 5*6 = 30, boundary PASSES
      (5L, "the of " + ("spam " * 6).trim + " " + words(22, 4, "ee"), "s"),
      // F: 28 distinct 3-char words -> chars 3+2+84 = 89, one char under
      // the 3*30 floor: fails only mwl, at the tightest possible margin
      (6L, "the of " + words(28, 3, "f"), "s"))
    val out = PipelineOps.gopherRules(d, minWords = 30L, maxWords = 50000L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))).toMap
    assert(out(1L) == ((30L, 1L, 1L, 1L, 1L, 1L)))
    assert(out(2L) == ((3L, 0L, 0L, 1L, 0L, 0L)))
    assert(out(3L) == ((30L, 1L, 1L, 0L, 1L, 0L)))
    assert(out(4L) == ((30L, 1L, 1L, 1L, 0L, 0L)))
    assert(out(5L) == ((30L, 1L, 1L, 1L, 1L, 1L)))
    assert(out(6L) == ((30L, 1L, 0L, 1L, 1L, 0L)))
  }

  test("word entropy: uniform doc hits ln(n), constant doc hits 0, mix is exact") {
    val d = docs(
      (1L, "w1 w2 w3 w4", "s"),   // uniform over 4 -> round(ln 4 * 1e4)/1e4
      (2L, "x x x x", "s"),       // one type -> exactly 0
      (3L, "a a b b", "s"))       // hand-computed micro-nat arithmetic
    val out = TextOps.wordEntropy(d)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out(1L) == ((4L, 4L, math.round(math.log(4) * 1e4) / 1e4, 1.0)))
    assert(out(2L) == ((4L, 1L, 0.0, 0.25)))
    // s_micro = 2*round(ln 2 * 1e4)*2 = 27724; n*ln(n)_micro = 4*13863
    assert(out(3L) == ((4L, 2L, (4L * 13863L - 27724L).toDouble / 40000L, 0.5)))
    // bit-determinism across runs (the hash-exactness the oracle relies on)
    val again = TextOps.wordEntropy(d).collect()
      .map(r => (r.getLong(0), r.getDouble(3))).toMap
    assert(out.forall { case (id, (_, _, e, _)) => again(id) == e })
  }

  test("mixture weights split the budget uniformly, cap at maxEpochs, report shortfall") {
    // source a: 4 tokens inventory; b: 40; c: 400. budget 300 over 3
    // sources -> target 100 each. a caps at 4 epochs (16 tokens, shortfall
    // 84); b and c fill their targets (epochs 2.5 and 0.25).
    val d = docs(
      (1L, "w w w w", "a"),
      (2L, ("w " * 39).trim + " w", "b"),
      (3L, ("w " * 399).trim + " w", "c"))
    val out = PipelineOps.mixtureWeights(d, budget = 300L, maxEpochs = 4)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6), r.getDouble(7)))).toMap
    assert(out("a") == ((4L, 100L, 16L, 84L, 4.0, 16.0 / 216.0)))
    assert(out("b") == ((40L, 100L, 100L, 0L, 2.5, 100.0 / 216.0)))
    assert(out("c") == ((400L, 100L, 100L, 0L, 0.25, 100.0 / 216.0)))
    // a non-divisible budget hands the remainder to the lexicographically
    // first sources, keeping the total exactly the (fillable) budget
    val odd = PipelineOps.mixtureWeights(d, budget = 301L, maxEpochs = 100)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(odd == Map("a" -> 101L, "b" -> 100L, "c" -> 100L))
    // degenerate plan (zero effective tokens everywhere): shares must be
    // 0.0, never the NaN a raw 0/0 division would produce
    val zero = PipelineOps.mixtureWeights(d, budget = 0L, maxEpochs = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(7)).toMap
    assert(zero == Map("a" -> 0.0, "b" -> 0.0, "c" -> 0.0))
  }

  test("decontaminate flags exactly the docs sharing a 5-gram with the benchmark") {
    // doc 100 copies benchmark doc 1 verbatim (6 words -> two shared
    // 5-grams); doc 101 shares words but never 5 consecutive ones
    val d = docs(
      (1L, "alpha beta gamma delta epsilon zeta", "bench"),
      (100L, "alpha beta gamma delta epsilon zeta", "web"),
      (101L, "alpha beta gamma delta wrong epsilon zeta", "web"),
      (102L, "one two three four five six", "web"))
    val out = PipelineOps.decontaminate(d, benchMaxId = 50L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.keySet == Set(100L))
    assert(out(100L) == (2L, 1L)) // 2 shared 5-grams, 1 benchmark doc
  }

  test("repetition measures the duplicated-3-gram fraction") {
    val d = docs(
      (1L, "a b c a b c a b c", "s"), // 7 grams, 3 distinct -> 1 - 3/7
      (2L, "q w e r t y", "s"),       // 4 grams, all distinct -> 0.0
      (3L, "xy zz", "s"))             // < 3 words -> no grams, absent
    val out = PipelineOps.repetition(d, flagAbove = 0.2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == ((7L, 3L, 0.5714, true)))
    assert(out(2L) == ((4L, 4L, 0.0, false)))
  }

  test("sequence packing opens a new pack when the running budget is exhausted") {
    // each text = 4 whitespace tokens; budget 8 -> prev-cums 0,4,8 within
    // one source give packs 0,0,1; a second source restarts at pack 0
    val d = docs(
      (1L, "a b c d", "s1"), (2L, "a b c d", "s1"), (3L, "a b c d", "s1"),
      (10L, "a b c d", "s2"))
    val out = PipelineOps.sequencePacking(d, packBudget = 8)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(out == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 10L -> 0L))
    // greedy invariant: a pack's token total minus its last doc stays under
    // budget (the straddling doc is the one that closes the pack)
    val packs = PipelineOps.sequencePacking(d, packBudget = 8)
      .collect().groupBy(r => (r.getString(1), r.getLong(3)))
    packs.values.foreach { rows =>
      val toks = rows.map(_.getLong(2)).sum
      val last = rows.maxBy(_.getLong(0)).getLong(2)
      assert(toks - last < 8)
    }
  }

  test("pii scrub counts and redacts emails and phone numbers") {
    val d = docs(
      (1L, "reach me at jane.doe+x@mail.example.org or 555-123-4567 thanks", "s"),
      (2L, "no pii here at all", "s"),
      (3L, "two mails: a@b.io c@d.co and 111 222 3333", "s"))
    val out = PipelineOps.piiScrub(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((1L, 1L)))
    assert(out(2L) == ((0L, 0L)))
    assert(out(3L) == ((2L, 1L)))
    // redaction is verified through the fingerprint of the REDACTED text
    val s = spark
    import s.implicits._
    val redChars = PipelineOps.piiScrub(d).where($"doc_id" === 1L)
      .head.getLong(3)
    assert(redChars ==
      "reach me at <EMAIL> or <PHONE> thanks".length.toLong)
  }

  test("NB quality classifier separates a planted two-vocabulary corpus deterministically") {
    // class vocabularies are disjoint, so NB must separate perfectly;
    // the shared word appears in both and carries ~no signal
    val good = (1L to 20L).map(i => (i, s"alpha beta gamma shared w$i", "trusted"))
    val bad = (21L to 40L).map(i => (i, s"spam junk noise shared w$i", "crawl"))
    val d = docs(good ++ bad: _*)
    val out = PipelineOps.nbQualityScores(d, goodSources = Seq("trusted"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(out.size == 40)
    (1L to 20L).foreach(i => assert(out(i)._2 == 1L, s"doc $i misclassified: ${out(i)}"))
    (21L to 40L).foreach(i => assert(out(i)._2 == 0L, s"doc $i misclassified: ${out(i)}"))
    // deterministic to the bit under a different partitioning: micro-unit
    // integer sums make the reduction order irrelevant
    val repart = PipelineOps.nbQualityScores(d.repartition(7), Seq("trusted"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(repart == out)
  }

  test("bigram LM perplexity matches a hand-built model and is partition-stable") {
    QueryScope.run {
      // corpus: "a b" x3 docs and one outlier "x y" — the outlier's
      // transitions are rare under the corpus LM, so its nll must be highest
      val d = docs(
        (1L, "a b a b", "s"), (2L, "a b", "s"), (3L, "a b a b a b", "s"),
        (4L, "x y", "s"))
      val out = graft.ops.TextOps.lmPerplexity(d)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(out.size == 4)
      // driver-side model: bigram counts over ALL docs, Laplace over V
      val corpus = Seq("a b a b", "a b", "a b a b a b", "x y").map(_.split(" ").toSeq)
      val bgs = corpus.flatMap(ws => ws.zip(ws.tail))
      val bgC = bgs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val ctxC = bgs.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
      val v = bgs.map(_._2).distinct.size.toLong
      // mirror the engine's micro-unit rounding (nll values are positive, so
      // math.round == HALF_UP here) — the comparison stays exact
      def nllMicro(bg: (String, String)): Long =
        math.round((math.log(ctxC(bg._1) + v.toDouble) - math.log(bgC(bg) + 1.0)) * 1e4)
      corpus.zipWithIndex.foreach { case (ws, i) =>
        val pairs = ws.zip(ws.tail)
        val expected = pairs.map(nllMicro).sum.toDouble / (pairs.size * 10000.0)
        val (n, got) = out(i + 1L)
        assert(n == pairs.size)
        assert(math.abs(got - expected) < 1e-12, s"doc ${i + 1}: $got vs $expected")
      }
      assert(out(4L)._2 == out.values.map(_._2).max, "outlier doc not highest-nll")
      // partition-stability to the bit (sorted fold)
      val again = graft.ops.TextOps.lmPerplexity(d.repartition(5))
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(again == out.view.mapValues(_._2).toMap)
      // scale pin: the consumers of the per-doc bigram-count frame (bigram
      // counts → ctx/vocab, and the scoring join) must SHARE its
      // materialization. r21: sharing is an explicit QueryScope persist
      // (exchange reuse proved brittle — four corpus passes measured in the
      // bench session), so the executed plan must read the frame through
      // InMemoryTableScan in ≥ 2 places and run the corpus explode nowhere
      // outside the single cached subtree (PlanAuditSpec pins that half)
      val shared = graft.ops.TextOps.lmPerplexity(d)
      shared.collect()
      val plan = shared.queryExecution.executedPlan.toString
      val cacheReads = "InMemoryTableScan".r.findAllMatchIn(plan).size
      assert(cacheReads >= 2,
        s"per-doc bigram frame not shared across consumers ($cacheReads cache " +
          s"reads):\n${plan.take(3000)}")
    }
  }

  test("bloom decontamination has one-sided error against the exact join") {
    import graft.ops.QueryDef.t
    val sfDir = "/root/testdata/sf0.001"
    val d = t(spark, sfDir, "documents")
    val exact = PipelineOps.decontaminate(d, benchMaxId = 50L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val bloom = PipelineOps.decontaminateBloom(d, benchMaxId = 50L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exact.nonEmpty, "fixture should contain contaminated docs")
    // no false negatives, ever: a contaminated doc cannot hash to absent
    assert(exact.subsetOf(bloom), s"bloom missed: ${exact -- bloom}")
    // false positives are bounded: at the default per-gram fpp of 1e-4 a
    // ~100-gram doc is falsely flagged with probability ~1%, so the extra
    // docs stay a small fraction of the corpus (generous 10% bound — the
    // spec guards the MECHANISM, not the sketch's exact calibration)
    val corpus = d.where(org.apache.spark.sql.functions.col("doc_id") >= 50L).count()
    assert((bloom -- exact).size <= corpus / 10,
      s"implausible FP count: ${(bloom -- exact).size} of $corpus docs")
  }

  test("stratified sample equals per-stratum bottom-quota by md5, skewed strata included") {
    // heavily skewed strata (400 vs 7 docs) so both the full-bin fast path
    // and the boundary-bin residual window are exercised
    val d = docs((1L to 400L).map(i => (i, "x", "big")) ++
      (500L to 506L).map(i => (i, "x", "tiny")): _*)
    val got = PipelineOps.stratifiedSample(d, 0.1)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    def hex(id: Long): String = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = Seq(("big", 1L to 400L), ("tiny", 500L to 506L)).flatMap {
      case (src, ids) =>
        val quota = math.ceil(0.1 * ids.size).toLong
        ids.map(i => (hex(i), i)).sorted.take(quota.toInt).map(p => (p._2, src))
    }.toSet
    assert(got == expected)
    // quota is ceil: the 7-doc stratum still contributes one row
    assert(got.count(_._2 == "tiny") == 1L && got.count(_._2 == "big") == 40L)
  }

  test("source cap keeps the first N docs per source in doc_id order") {
    val d = docs(
      (5L, "a b", "s1"), (1L, "a b c", "s1"), (9L, "a", "s1"),
      (2L, "a b c d", "s2"))
    val out = PipelineOps.sourceCap(d, cap = 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // s1 keeps doc 1 (3 tokens) + doc 5 (2 tokens), drops doc 9
    assert(out("s1") == ((3L, 2L, 5L)))
    assert(out("s2") == ((1L, 1L, 4L)))
  }
}
