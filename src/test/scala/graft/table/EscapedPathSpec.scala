package graft.table

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{IdentityTransform, Predicates => P, SchemaConv}
import graft.meta.{FileCatalog, PartitionSpec}
import graft.streaming.Ingest

/** Merge-on-read deletes on data files whose manifest paths differ from
  * the URI Spark reads them by. A partition value is Hive-escaped into its
  * directory name (`PartitionSpec.partitionToPath`), so the directory of
  * `a b/c:d` is `k=a%20b%2Fc%3Ad`, which a URI encodes again; and
  * `addFiles` records a directory's files, or an explicit `file:///…`
  * path, as `file:` URIs rather than bare paths. Position deletes,
  * deletion vectors, the changelog's delete rows and v3 row ids must key
  * each row by the path the manifest records, or they silently stop
  * applying.
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

  /** Ten rows (id 0..9) in one Parquet file outside the warehouse, added
    * to a v3 table by `addFiles(register(dir))`.
    */
  private def added(name: String, register: String => Seq[String]): IceTable = {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory(s"graft-$name").toString
    val df = (0L until 10L).map(i => (i, i * 10)).toDF("id", "v")
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    val t = IceTable.create(catalog, name, SchemaConv.fromSpark(df.schema),
      properties = Map("format-version" -> "3"))
    t.addFiles(register(dir))
    t.refresh()
    val paths = t.newScan().planFiles().map(_.file.filePath)
    assert(paths.size == 1 && paths.forall(_.startsWith("file:/")),
      s"expected a file: URI in the manifest: $paths")
    t
  }

  private val registrations: Seq[(String, String, String => Seq[String])] = Seq(
    ("dir", "a directory", dir => Seq(dir)),
    ("uri", "an explicit file:/// URI",
      dir => DataWriter.listParquet(dir).map { case (p, _) => s"file://$p" }))

  registrations.foreach { case (tag, how, register) =>
    test(s"deleteWhere position deletes apply to a file added by $how") {
      val t = added(s"added_pos_$tag", register)
      t.deleteWhere(spark, P.lt("id", 3L))
      assert(ids(t) == (3L until 10L))
    }

    test(s"deleteWhereDV deletion vectors apply to a file added by $how") {
      val t = added(s"added_dv_$tag", register)
      t.deleteWhereDV(spark, P.lt("id", 5L))
      assert(ids(t) == (5L until 10L))
    }

    test(s"rewritePositionDeletes converts the deletes of a file added by $how") {
      val t = added(s"added_rewrite_$tag", register)
      t.deleteWhere(spark, P.lt("id", 3L))
      t.refresh()
      assert(t.rewritePositionDeletes(spark).isDefined)
      val tasks = IceTable.load(catalog, t.name).newScan().planFiles()
      assert(tasks.forall(t => t.deletes.isEmpty && t.dvDeletes.size == 1),
        s"expected one deletion vector and no parquet deletes: $tasks")
      assert(ids(t) == (3L until 10L))
    }

    test(s"v3 lineage numbers the rows of a file added by $how") {
      val s = spark
      import s.implicits._
      val t = added(s"added_lineage_$tag", register)
      val rowIds = IceTable.load(catalog, t.name).newScan(withRowId = true).toDF(spark)
        .select($"_row_id").as[Option[Long]].collect().toSeq
      assert(rowIds.forall(_.isDefined), s"rows without a _row_id: $rowIds")
      val sorted = rowIds.flatten.sorted
      assert(sorted == (sorted.head until sorted.head + 10L))
    }

    test(s"the changelog's D rows cover a file added by $how") {
      val s = spark
      import s.implicits._
      val t = added(s"added_changelog_$tag", register)
      val since = t.currentSnapshot.get.snapshotId
      t.deleteWhere(spark, P.lt("id", 3L))
      t.refresh()
      val got = Ingest.changelogSince(spark, t, since).select("id", "change_type")
        .as[(Long, String)].collect().toSeq.sorted
      assert(got == (0L until 3L).map(i => (i, "D")))
    }
  }
}
