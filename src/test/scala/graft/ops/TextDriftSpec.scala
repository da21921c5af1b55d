package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Per-source total-variation drift: hand-computed distances on a tiny
  * corpus (including the missing-mass term for tokens a source never
  * emits), the zero-drift identity, and bit-determinism under
  * repartitioning (the numerators are exact integers by construction).
  */
final class TextDriftSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("text-drift-spec")
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

  test("TV distance matches the hand computation, missing mass included") {
    // a: {x:2, y:1} (N_a=3)  b: {y:1, z:1} (N_b=2)  corpus: {x:2, y:2, z:1}
    // TV(a) = 1/2(|2/3-2/5| + |1/3-2/5| + |0-1/5|) = 4/15
    // TV(b) = 1/2(|0-2/5| + |1/2-2/5| + |1/2-1/5|) = 2/5
    val d = docs((1L, "x x y", "a"), (2L, "y z", "b"))
    QueryScope.run {
      val out = TextOps.sourceDrift(d).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(out("a") == ((3L, 8.0 / 30.0)))
      assert(out("b") == ((2L, 8.0 / 20.0)))
    }
  }

  test("a source distributed exactly like the corpus has zero drift") {
    val d = docs((1L, "x x y", "a"), (2L, "x x y", "b"))
    QueryScope.run {
      val out = TextOps.sourceDrift(d).collect()
        .map(r => r.getString(0) -> r.getDouble(2)).toMap
      assert(out == Map("a" -> 0.0, "b" -> 0.0))
    }
  }

  test("drift is bit-stable under repartitioning") {
    val base = docs(
      (1L, "x x y q r s t u v w", "a"), (2L, "y z z q a b c d", "b"),
      (3L, "m n o p q r", "c"), (4L, "x y z m n o", "a"))
    QueryScope.run {
      val once = QueryScope.run {
        TextOps.sourceDrift(base).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
      }
      val again = TextOps.sourceDrift(base.repartition(7)).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
      assert(once == again)
    }
  }
}
