package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Cross-checks the embedding near-dup algorithms: the LSH-candidate plan
  * (registered scale path) must emit a subset of the exact label-blocked
  * join at the same threshold (its verify step is exact), with recall above
  * the analytic floor for 4 tables x 4 hyperplanes. All inputs and the
  * hyperplanes are deterministic, so the measured recall is a constant.
  */
final class SimilaritySpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("similarity-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("LSH near-dup pairs are an exactly-verified subset of the blocked join") {
    val exact = Similarity.embeddingNearDupExact(spark, sfDir, 0.2)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.embeddingNearDupLSH(spark, sfDir, 0.2)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain near-dup pairs at cos >= 0.2")
    assert(lsh.subsetOf(exact), s"LSH emitted unverified pairs: ${lsh -- exact}")
    val recall = lsh.size.toDouble / exact.size
    // analytic floor: a cos=0.2 pair shares a 4-plane bucket in >=1 of 4
    // tables with p ≈ 1-(1-(1-acos(0.2)/π)^4)^4 ≈ 0.35; higher-cos pairs
    // collide more often, so corpus recall sits above that
    assert(recall >= 0.25, s"LSH recall $recall below floor (|lsh|=${lsh.size}, |exact|=${exact.size})")
  }

  test("partial top-k matches an independent ranking on a LARGE query batch") {
    QueryScope.run {
      // the window formulation this aggregate replaced made nQueries
      // corpus-sized partitions — the failure mode only shows at batch
      // scale, so rank 200 queries (40% of the sf0.001 corpus) and compare
      // against a driver-side oracle that mirrors the codegen cosine
      // bit-for-bit (float→double, index-order accumulation, HALF_UP round)
      val k = 5
      val nQ = 200
      val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
        val n = math.min(a.length, b.length)
        while (i < n) {
          val x = a(i).toDouble; val y = b(i).toDouble
          dot += x * y; nx += x * x; ny += y * y; i += 1
        }
        BigDecimal(dot / (math.sqrt(nx) * math.sqrt(ny)))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val expected = (0L until nQ.toLong).flatMap { q =>
        vecs.keys.filter(_ != q).toSeq
          .map(n => (n, cos(vecs(q), vecs(n))))
          .sortBy { case (n, c) => (-c, n) }
          .take(k).zipWithIndex
          .map { case ((n, c), i) => (q, n, c, i + 1) }
      }.toSet
      val got = Similarity.bruteForceTopK(spark, sfDir, nQ, k).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      assert(got == expected, s"batch top-k diverged (${got.size} vs ${expected.size})")
    }
  }

  test("kNN graph: complete ranked per-vector output, recall vs exact on the query slice") {
    QueryScope.run {
      val g = Similarity.knnGraph(spark, sfDir, 5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      val byQ = g.groupBy(_._1)
      assert(byQ.nonEmpty)
      // ranks are 1..n gap-free and scores non-increasing per vector
      byQ.values.foreach { rows =>
        val sorted = rows.sortBy(_._4)
        assert(sorted.map(_._4).toSeq == (1 to sorted.length))
        assert(sorted.toSeq.sliding(2).forall {
          case Seq(a, b) => a._3 >= b._3
          case _ => true
        })
      }
      // recall vs the exact top-5 on the same query slice the ANN ops pin
      val exact = Similarity.bruteForceTopK(spark, sfDir, 5, 5).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = g.filter(_._1 < 5).map(t => (t._1, t._2)).toSet
      val recall = exact.count(got.contains).toDouble / exact.size
      assert(recall >= 0.25, s"kNN graph recall $recall")
    }
  }

  test("IVF-Flat ANN recall against the exact top-k") {
    val exact = Similarity.bruteForceTopK(spark, sfDir, 5, 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(spark, sfDir, 5, 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.nonEmpty && ivf.size <= exact.size)
    val recall = exact.count(ivf.contains).toDouble / exact.size
    // deterministic (hash-ordered sample + even-index init + fixed data):
    // probing 4 of 16 cells must recover a substantial share of the top-10
    assert(recall >= 0.3, s"IVF recall $recall (|ivf|=${ivf.size}, |exact|=${exact.size})")
  }

  test("int8-quantized ANN: high recall vs exact top-k, deterministic, bounded reconstruction error") {
    QueryScope.run {
      val exact = Similarity.bruteForceTopK(spark, sfDir, 5, 10)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val quant = QueryScope.run {
        Similarity.quantizedTopK(spark, sfDir, 5, 10)
          .select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      // 255 levels over the per-dimension range perturb cosine far less than
      // the 4x-oversampled candidate margin — near-total recall expected
      val recall = exact.count(quant.contains).toDouble / exact.size
      assert(recall >= 0.9, s"quantized recall $recall")
      // deterministic under repeat
      val again = Similarity.quantizedTopK(spark, sfDir, 5, 10)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(again == quant)
    }
  }

  test("int8 quantization reconstruction error is within qscale/2 per element") {
    val rows = Similarity.quantizeRoundTrip(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val orig = r.getSeq[Float](1)
      val qscale = r.getDouble(2)
      val deq = r.getSeq[Double](3)
      orig.indices.foreach { i =>
        val err = math.abs(orig(i).toDouble - deq(i))
        assert(err <= qscale / 2.0 + 1e-12,
          s"vec ${r.getLong(0)} dim $i error $err > ${qscale / 2.0}")
      }
    }
  }

  test("exact near-dup triangle grid bounds shuffle keys on a pathological label") {
    import org.apache.spark.sql.functions._
    import graft.ops.QueryDef.t
    // one hot label holding the whole corpus slice — the naive label join
    // would put all C(n,2) pairs on a single shuffle key
    val emb = t(spark, sfDir, "embeddings").limit(300)
      .withColumn("label", lit("hot"))
    val n = emb.count()
    val cap = 50
    val g = math.ceil(n / cap.toDouble).toInt
    val keyed = Similarity.gridKeyed(emb, cap)
    assert(keyed.count() == n * g, "each row replicates to exactly g keys")
    val maxKey = keyed.groupBy("label", "k1", "k2").count()
      .agg(max("count")).first().getLong(0)
    assert(maxKey <= 3L * cap,
      s"hot-label key population $maxKey not bounded by the grid (cap=$cap)")
    // every unordered pair meets on exactly one key → grid join == all-pairs
    val a = keyed.select(col("k1"), col("k2"), col("vec_id").as("vec_a"),
      col("gid").as("ga"))
    val b = keyed.select(col("k1"), col("k2"), col("vec_id").as("vec_b"),
      col("gid").as("gb"))
    val gridPairs = a.join(b, Seq("k1", "k2")).where(col("vec_a") < col("vec_b") &&
        least(col("ga"), col("gb")) === col("k1") &&
        greatest(col("ga"), col("gb")) === col("k2"))
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(gridPairs.length == gridPairs.toSet.size, "no pair surfaces twice")
    assert(gridPairs.length == n * (n - 1) / 2, "all pairs surface")
  }

  test("exact near-dup results are identical across grid granularities") {
    val fine = Similarity.embeddingNearDupExact(spark, sfDir, 0.2, blockCap = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    val coarse = Similarity.embeddingNearDupExact(spark, sfDir, 0.2, blockCap = 1 << 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(fine == coarse && fine.nonEmpty)
  }

  test("semantic dedup: planted exact duplicates always collapse, output is a total keep map") {
    import graft.ops.QueryDef.t
    import org.apache.spark.sql.functions.col
    val emb = t(spark, sfDir, "embeddings")
    // plant exact duplicates: clone vectors 3 and 7 under fresh ids. An
    // identical vector can NEVER split across IVF cells (same nearest
    // center), so cell blocking must find these pairs regardless of how
    // the codebook partitions the rest of the corpus.
    val clones = emb.where(col("vec_id").isin(3L, 7L))
      .select((col("vec_id") + 100000L).as("vec_id"),
        col("embedding"), col("label"))
    val corpus = emb.select("vec_id", "embedding", "label").unionByName(clones)
    val centers = Similarity.fitCodebook(corpus, 16)
    val out = Similarity.semanticDedupFrom(corpus, centers, 0.999999)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // one row per corpus vector, keep == (rep_id == vec_id), as BIGINT 0/1
    // per the oracle determinism contract (QueryDef scaladoc)
    assert(out.size == emb.count().toInt + 2)
    assert(out.forall { case (id, (rep, keep)) => (keep == 1L) == (rep == id) })
    // each planted clone pair collapsed to the original (minimum) id
    assert(out(100003L) == ((3L, 0L)) && out(3L)._1 == 3L)
    assert(out(100007L) == ((7L, 0L)) && out(7L)._1 == 7L)
    // determinism: a second run is bit-identical
    val again = Similarity.semanticDedupFrom(corpus, centers, 0.999999)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(again == out)
  }

  test("IVF codebook fit is deterministic and sample-capped") {
    import graft.ops.QueryDef.t
    val emb = t(spark, sfDir, "embeddings")
    val a = Similarity.fitCodebook(emb, 16)
    val b = Similarity.fitCodebook(emb, 16)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    assert(a.length == 16 && a.forall(_.length == 64))
    // a cap below the corpus still yields a full codebook (from fewer rows)
    val capped = Similarity.fitCodebook(emb, 16, sampleCap = 256)
    assert(capped.length == 16)
  }

  test("range search equals the threshold-filtered exhaustive scoring") {
    import org.apache.spark.sql.functions._
    val got = graft.SparkEntry.queries("sim_range_search")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // independent restatement: score every (query, neighbor) pair, filter
    val emb = graft.ops.QueryDef.t(spark, sfDir, "embeddings")
    val q = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val want = emb.crossJoin(q).where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(graft.functions.VectorExprs.cosineSim(col("qe"), col("embedding")), 4)
          .as("cos"))
      .where(col("cos") >= 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(want.nonEmpty, "fixture should contain in-radius pairs at cos >= 0.2")
    assert(got === want)
  }
}
