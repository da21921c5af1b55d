package graft.table

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{IdentityTransform, Predicates => P, SchemaConv}
import graft.meta.{FileCatalog, PartitionSpec}

/** Merge-on-read deletes on data files whose paths need URI escaping. A
  * partition value is Hive-escaped into its directory name
  * (`PartitionSpec.partitionToPath`), so the directory of `a b/c:d` is
  * `k=a%20b%2Fc%3Ad`. Manifests record that name as written, while
  * Spark's `_metadata.file_path` is the URI, which encodes each `%` again:
  * every path join between the two — position deletes, deletion vectors,
  * and the per-file sequence map equality deletes scope by — must decode
  * first or the deletes silently stop applying.
  */
class EscapedPathSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var catalog: FileCatalog = _
  private val awkward = "a b/c:d"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("escaped-path-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    catalog = new FileCatalog(Files.createTempDirectory("graft-escaped").toString)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Ten rows (id 0..9) in one file under the escaped partition. */
  private def table(name: String): IceTable = {
    val s = spark
    import s.implicits._
    val df = (0L until 10L).map(i => (awkward, i, i * 10)).toDF("k", "id", "v")
    val schema = SchemaConv.fromSpark(df.schema)
    val t = IceTable.create(catalog, name, schema,
      PartitionSpec.of(0, ("k", IdentityTransform, "k"))(schema))
    t.append(df.coalesce(1))
    val paths = t.newScan().planFiles().map(_.file.filePath)
    assert(paths.nonEmpty && paths.forall(_.contains("%")),
      s"expected an escaped partition directory: $paths")
    t
  }

  private def ids(t: IceTable): Seq[Long] = {
    val s = spark
    import s.implicits._
    IceTable.load(catalog, t.name).scan(spark).select("id").as[Long].collect().toSeq.sorted
  }

  test("deleteWhere position deletes apply under an escaped partition path") {
    val t = table("escaped_pos")
    t.deleteWhere(spark, P.lt("id", 3L))
    assert(ids(t) == (3L until 10L))
  }

  test("deleteWhereDV deletion vectors apply under an escaped partition path") {
    val t = table("escaped_dv")
    t.deleteWhereDV(spark, P.lt("id", 5L))
    assert(ids(t) == (5L until 10L))
  }

  test("upsert retires the old versions under an escaped partition path") {
    val s = spark
    import s.implicits._
    val t = table("escaped_upsert")
    t.upsert(spark, (0L until 4L).map(i => (awkward, i, -i)).toDF("k", "id", "v"), Seq("id"))
    val got = IceTable.load(catalog, t.name).scan(spark).select("id", "v")
      .as[(Long, Long)].collect().toSeq.sorted
    assert(got == (0L until 4L).map(i => (i, -i)) ++ (4L until 10L).map(i => (i, i * 10)))
  }
}
