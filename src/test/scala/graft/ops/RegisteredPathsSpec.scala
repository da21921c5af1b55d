package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The REGISTERED `dedup_jaccard_pairs` and `sim_ann_ivf` queries must run
  * the table-backed zero-read paths: plan choice from the ANALYZE
  * token-moment blob (never a sampling job) and the Puffin-persisted IVF
  * codebook (fit at most once, loaded thereafter). The counters are the
  * proof — a regression back to per-invocation sampling/fitting trips them.
  */
final class RegisteredPathsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("registered-paths-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("registered jaccard runs on ANALYZE stats — no sampling job, rows match the raw variant") {
    val baseline = Dedup.jaccardPairsAdaptive(spark, sfDir, 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = Dedup.samplingJobs.get()
    val registered = SparkEntry.queries("dedup_jaccard_pairs")(spark, sfDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(registered == baseline, "table-backed plan changed the result set")
    assert(Dedup.samplingJobs.get() == before,
      "registered query sampled the corpus instead of reading ANALYZE stats")
    // repeat run: still zero sampling
    SparkEntry.queries("dedup_jaccard_pairs")(spark, sfDir).count()
    assert(Dedup.samplingJobs.get() == before)
  }

  test("registered containment runs on ANALYZE stats — no sampling job, set matches the raw variant") {
    val baseline = Dedup.containmentPairs(spark, sfDir, 0.9)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = Dedup.samplingJobs.get()
    val registered = graft.SparkEntry.queries("dedup_containment")(spark, sfDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(registered == baseline, "table-backed containment changed the result set")
    assert(Dedup.samplingJobs.get() == before,
      "registered containment sampled the corpus instead of reading ANALYZE stats")
  }

  test("registered clusters consume the materialized pair graph, labels unchanged") {
    // the artifact is the durable output of pair generation: reading it must
    // yield the exact pair set the stats-backed jaccard plan computes...
    val pairs = Dedup.jaccardPairsAdaptive(spark, sfDir, 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val artifact = IceQueries.pairGraph(spark, sfDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(artifact == pairs, "artifact pair set drifted from the live plan")
    // ...and the registered clustering over it must label identically to
    // clustering over the live pair frame
    val live = Dedup.duplicateClusters(
        Dedup.jaccardPairsAdaptive(spark, sfDir, 0.5)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val registered = graft.SparkEntry.queries("dedup_clusters")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(registered == live, "artifact-backed clustering changed the labels")
  }

  test("registered LSH clusters consume the materialized candidate set, labels unchanged") {
    QueryScope.run {
      val live = QueryScope.run {
        Dedup.minhashCandidates(spark, sfDir, 0.5)
          .select("doc_a", "doc_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      val artifact = IceQueries.lshCandidates(spark, sfDir)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(artifact == live, "LSH candidate artifact drifted from the live plan")
      val registered = graft.SparkEntry.queries("dedup_clusters_lsh")(spark, sfDir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val direct = Dedup.duplicateClusters(
          IceQueries.lshCandidates(spark, sfDir)
            .select(org.apache.spark.sql.functions.col("doc_a"),
              org.apache.spark.sql.functions.col("doc_b"))).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(registered == direct, "artifact-backed LSH clustering changed the labels")
    }
  }

  test("registered IVF ANN fits the codebook at most once, then loads the Puffin blob") {
    val first = SparkEntry.queries("sim_ann_ivf")(spark, sfDir).count()
    assert(first > 0)
    val fitsAfterFirst = Similarity.codebookFits.get()
    val second = SparkEntry.queries("sim_ann_ivf")(spark, sfDir).count()
    assert(second == first, "repeat run changed the (deterministic) ANN result")
    assert(Similarity.codebookFits.get() == fitsAfterFirst,
      "repeat run re-fit the codebook instead of loading the persisted blob")
  }

  test("registered SemDeDup fits the codebook at most once across invocations") {
    val first = SparkEntry.queries("dedup_semantic")(spark, sfDir).count()
    assert(first > 0)
    val fitsAfterFirst = Similarity.codebookFits.get()
    val second = SparkEntry.queries("dedup_semantic")(spark, sfDir).count()
    assert(second == first, "repeat run changed the (deterministic) dedup result")
    assert(Similarity.codebookFits.get() == fitsAfterFirst,
      "repeat SemDeDup re-fit the codebook instead of loading the persisted blob")
  }
}
