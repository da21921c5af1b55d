package graft.ops

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `QueryDef.t` infers a parquet file's schema once per session: a repeat
  * read of an unchanged file submits no Spark job, and a rewritten file is
  * inferred again.
  */
class SchemaCacheSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("schema-cache-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def jobsDuring[A](body: => A): (A, Int) = graft.JobCount.during(spark)(body)

  /** Write `sql`'s rows as the single parquet file `dir/name.parquet`. */
  private def writeSingle(dir: Path, name: String, sql: String): Unit = {
    val staging = Files.createTempDirectory("graft-schema-cache-stage")
    spark.sql(sql).coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = Files.list(staging).filter(_.toString.endsWith(".parquet")).findFirst().get
    Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("an unchanged file is read without inference; a rewritten one is inferred again") {
    val dir = Files.createTempDirectory("graft-schema-cache")
    writeSingle(dir, "tbl", "SELECT id, id * 2 AS v FROM range(10)")
    val (first, firstJobs) = jobsDuring(QueryDef.t(spark, dir.toString, "tbl"))
    assert(firstJobs > 0, "the first read must infer the schema")
    val (second, secondJobs) = jobsDuring(QueryDef.t(spark, dir.toString, "tbl"))
    assert(secondJobs == 0, "a repeat read of an unchanged file ran a Spark job")
    assert(second.schema == first.schema)
    assert(second.count() == 10)

    writeSingle(dir, "tbl", "SELECT id, CAST(id AS STRING) AS s, id + 1 AS w FROM range(5)")
    val (third, thirdJobs) = jobsDuring(QueryDef.t(spark, dir.toString, "tbl"))
    assert(thirdJobs > 0, "a rewritten file must be inferred again")
    assert(third.columns.toSeq == Seq("id", "s", "w"))
    assert(third.count() == 5)
  }
}
