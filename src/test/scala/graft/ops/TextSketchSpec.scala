package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Misra-Gries heavy-hitter vocabulary: the sketch guarantee (no heavy
  * hitter is ever evicted, counters undercount by at most N/(capacity+1)),
  * the mergeable-summaries bound across partition merges, and the
  * end-to-end contract that sketch-then-verify returns the EXACT top-k the
  * full-vocabulary plan returns.
  */
final class TextSketchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("text-sketch-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Adversarial stream: a few heavy tokens drowned in a long tail of
    * singletons, shuffled deterministically — forces constant eviction.
    */
  private def adversarialStream: (Seq[String], Map[String, Long]) = {
    val heavy = (0 until 5).flatMap(i => Seq.fill(400)(s"heavy$i"))
    val tail = (0 until 3000).map(i => s"tail$i")
    val rnd = new scala.util.Random(42)
    val stream = rnd.shuffle(heavy ++ tail)
    val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    (stream, truth)
  }

  test("single-pass sketch never evicts a heavy hitter; counter error bounded") {
    val (stream, truth) = adversarialStream
    val capacity = 64
    val n = stream.size.toLong
    val bound = n / (capacity + 1)
    val sketch = TextOps.mgSketch(stream.iterator, capacity)
    assert(sketch.size <= capacity)
    truth.filter(_._2 > bound).foreach { case (tok, c) =>
      assert(sketch.contains(tok), s"heavy hitter $tok (count $c) evicted")
      assert(sketch(tok) <= c && sketch(tok) >= c - bound,
        s"$tok counter ${sketch(tok)} outside [${c - bound}, $c]")
    }
  }

  test("partition sketches merge within the mergeable-summaries bound") {
    val (stream, truth) = adversarialStream
    val capacity = 64
    val n = stream.size.toLong
    val bound = n / (capacity + 1)
    // split into 8 'partitions', sketch each, tree-merge pairwise
    val parts = stream.grouped(math.max(1, stream.size / 8 + 1)).toSeq
      .map(p => TextOps.mgSketch(p.iterator, capacity))
    val merged = parts.reduce(TextOps.mgMerge(_, _, capacity))
    assert(merged.size <= capacity)
    truth.filter(_._2 > bound).foreach { case (tok, c) =>
      assert(merged.contains(tok), s"heavy hitter $tok lost in merge")
      assert(merged(tok) <= c && merged(tok) >= c - bound,
        s"$tok merged counter ${merged(tok)} outside [${c - bound}, $c]")
    }
    // merge order must not matter for the guarantee: reversed merge order
    val mergedRev = parts.reverse.reduce(TextOps.mgMerge(_, _, capacity))
    truth.filter(_._2 > bound).keys.foreach(tok => assert(mergedRev.contains(tok)))
  }

  test("sketch-then-verify top-k equals the exact full-vocabulary top-k") {
    val exact = graft.SparkEntry.queries("text_vocab_topk")(spark, sfDir)
    val sketched = graft.SparkEntry.queries("text_vocab_sketch_topk")(spark, sfDir)
    QueryScope.run {
      assert(sketched.schema.fieldNames.sameElements(exact.schema.fieldNames))
      val a = exact.collect().map(_.toSeq).toSeq
      val b = sketched.collect().map(_.toSeq).toSeq
      assert(a == b, "sketch-verified top-k diverged from the exact plan")
    }
  }

  test("top-k stays exact under a capacity forcing constant eviction (Zipf skew)") {
    val s = spark
    import s.implicits._
    // Zipf-ish corpus: token i appears ~3000/i times — top-5 counts far
    // exceed N/(capacity+1) at capacity 32, so the guarantee applies even
    // though the 200-token vocabulary overflows the summary 6x
    val docs = (1 to 200).flatMap(i => Seq.fill(3000 / i)(s"tok$i"))
    val rnd = new scala.util.Random(7)
    val corpus = rnd.shuffle(docs).grouped(50).zipWithIndex
      .map { case (ws, id) => (id.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("sketch-zipf")
    QueryScope.run {
      corpus.write.parquet(dir.resolve("documents.parquet").toString)
      val k = 5
      val res = TextOps.sketchVocabTopK(spark, dir.toString, k, capacity = 32)
        .select("rank", "token", "occurrences").collect()
      val expected = (1 to k).map(i => (i, s"tok$i", (3000 / i).toLong))
      assert(res.map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq == expected)
    }
  }
}
