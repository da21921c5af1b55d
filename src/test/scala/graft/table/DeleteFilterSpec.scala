package graft.table

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{BucketTransform, IceLong, IdentityTransform, Predicates => P, SchemaConv}
import graft.meta._

/** Merge-on-read deletes applied inside the scan task ([[DeleteFilter]]):
  * every delete kind and scoping rule, checked against a driver-side model
  * of the operations, plus the plan shape (no job to build, one scan
  * stage) and the JVM-wide delete-file cache.
  */
class DeleteFilterSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  private var spark: SparkSession = _
  private var catalog: FileCatalog = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("delete-filter-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    catalog = new FileCatalog(Files.createTempDirectory("graft-delete-filter").toString)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def fresh(t: IceTable): IceTable = IceTable.load(catalog, t.name)

  /** (id, v) rows of a fresh scan, sorted. */
  private def scanned(t: IceTable): Seq[(Long, String)] = {
    val s = spark
    import s.implicits._
    fresh(t).scan(spark, selected = Some(Seq("id", "v")))
      .select(col("id").cast("long"), col("v")).as[(Long, String)].collect().toSeq.sorted
  }

  /** A v3 table of (id, g, v) rows, g = id % 5, in one data file. */
  private def table(name: String, ids: Seq[Long],
      spec: graft.core.IceSchema => PartitionSpec = _ => PartitionSpec.Unpartitioned,
      props: Map[String, String] = Map.empty): IceTable = {
    val df = rowsOf(ids, "v0")
    val schema = SchemaConv.fromSpark(df.schema)
    val t = IceTable.create(catalog, name, schema, spec(schema),
      properties = Map("format-version" -> "3") ++ props)
    t.append(df.coalesce(1))
    t
  }

  private def rowsOf(ids: Seq[Long], v: String): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, i % 5, v)).toDF("id", "g", "v")
  }

  private def range(lo: Long, hi: Long) = P.and(P.gtEq("id", lo), P.lt("id", hi))

  test("parquet position deletes and deletion vectors on the same file") {
    val t = table("pos_dv", 0L until 100L)
    t.deleteWhere(spark, range(0, 10))
    t.deleteWhereDV(spark, range(50, 60))
    t.deleteWhere(spark, range(20, 25))
    t.deleteWhereDV(spark, range(55, 65)) // overlaps the first DV
    val tasks = fresh(t).newScan().planFiles()
    assert(tasks.size == 1)
    assert(tasks.head.deletes.size == 2 && tasks.head.dvDeletes.size == 2)
    val dead = (0L until 10L) ++ (20L until 25L) ++ (50L until 65L)
    assert(scanned(t) == (0L until 100L).filterNot(dead.toSet).map(i => (i, "v0")))
  }

  test("global and partition-scoped equality deletes") {
    val s = spark
    import s.implicits._
    val t = table("eq_scopes", 0L until 40L,
      schema => PartitionSpec.of(0, ("id", BucketTransform(4), "id_bucket"))(schema))
    var model = (0L until 40L).map(i => i -> (i % 5, "v0")).toMap
    // the partition derives from the key: the upsert's deletes are scoped
    t.upsert(spark, rowsOf(0L until 10L, "v1"), Seq("id"))
    model ++= (0L until 10L).map(i => i -> (i % 5, "v1"))
    // a delete on g has no partition source: global
    t.equalityDelete(spark, Seq(3L).toDF("g"), Seq("g"))
    model = model.filter(_._2._1 != 3L)
    // rows written after the global delete survive it
    t.upsert(spark, rowsOf(Seq(3L, 8L), "v2"), Seq("id"))
    model ++= Seq(3L, 8L).map(i => i -> (i % 5, "v2"))
    val eq = fresh(t).newScan().planFiles().flatMap(_.eqDeletes).map(_._1)
    assert(eq.exists(_.partition.nonEmpty) && eq.exists(_.partition.isEmpty),
      "expected both scoped and global equality deletes")
    assert(scanned(t) == model.toSeq.map { case (i, (_, v)) => (i, v) }.sorted)
  }

  test("two equality-id sets") {
    val s = spark
    import s.implicits._
    val t = table("eq_sets", 0L until 50L)
    t.equalityDelete(spark, Seq(1L, 2L, 30L).toDF("id"), Seq("id"))
    t.equalityDelete(spark, Seq((4L, "v0"), (3L, "nope")).toDF("g", "v"), Seq("g", "v"))
    val tasks = fresh(t).newScan().planFiles()
    assert(tasks.flatMap(_.eqDeletes).map(_._1.equalityIds).distinct.size == 2)
    val live = (0L until 50L).filterNot(i => Set(1L, 2L, 30L)(i) || i % 5 == 4)
    assert(scanned(t) == live.map(i => (i, "v0")))
  }

  test("an equality delete at the data's own sequence number does not apply") {
    val t = table("eq_same_seq", 0L until 20L)
    // the upsert's data files double as its equality deletes, committed at
    // one sequence number: they retire older rows only
    t.upsert(spark, rowsOf(5L until 10L, "v1"), Seq("id"))
    val tasks = fresh(t).newScan().planFiles()
    val upserted = tasks.filter(_.dataSeq == tasks.map(_.dataSeq).max)
    assert(upserted.nonEmpty && upserted.forall(_.eqDeletes.isEmpty))
    assert(scanned(t) == (0L until 20L).map(i => (i, if (i >= 5 && i < 10) "v1" else "v0")))
  }

  test("null keys, -0.0 and NaN match like Spark's null-safe equality") {
    val s = spark
    import s.implicits._
    val data = Seq[(Long, Option[Double])]((0L, None), (1L, Some(0.0)), (2L, Some(-0.0)),
      (3L, Some(Double.NaN)), (4L, Some(1.5)), (5L, Some(2.5)), (6L, None),
      (7L, Some(-0.0)), (8L, Some(java.lang.Double.longBitsToDouble(0x7ff8000000000123L))))
      .toDF("id", "d")
    val t = IceTable.create(catalog, "eq_nulls", SchemaConv.fromSpark(data.schema))
    t.append(data.coalesce(1))
    val keys = Seq[Option[Double]](None, Some(-0.0), Some(Double.NaN)).toDF("d")
    t.equalityDelete(spark, keys, Seq("d"))
    val got = fresh(t).scan(spark).select("id").as[Long].collect().toSeq.sorted
    // the model: null matches null, -0.0 matches 0.0, every NaN matches NaN
    assert(got == Seq(4L, 5L))
    val nullSafe = data.join(keys, data("d") <=> keys("d"), "left_anti")
      .select("id").as[Long].collect().toSeq.sorted
    assert(got == nullSafe)
  }

  test("an int key promoted to long matches delete files of both widths") {
    val s = spark
    import s.implicits._
    val df = (0 until 20).map(i => (i, s"v$i")).toDF("id", "v")
    val t = IceTable.create(catalog, "eq_promoted", SchemaConv.fromSpark(df.schema))
    t.append(df.coalesce(1))
    t.equalityDelete(spark, Seq(1, 2).toDF("id"), Seq("id")) // int32 delete file
    t.updateSchema().updateColumnType("id", IceLong).commit()
    t.refresh()
    t.append((100L until 110L).map(i => (i, s"v$i")).toDF("id", "v"))
    t.equalityDelete(spark, Seq(3L, 100L).toDF("id"), Seq("id")) // int64 delete file
    val live = ((0L until 20L) ++ (100L until 110L)).filterNot(Set(1L, 2L, 3L, 100L))
    assert(scanned(t) == live.map(i => (i, s"v$i")))
  }

  test("every delete kind applies under an escaped partition path") {
    val s = spark
    import s.implicits._
    val awkward = "a b/c:d"
    val df = (0L until 10L).map(i => (awkward, i, "v0")).toDF("k", "id", "v")
    val schema = SchemaConv.fromSpark(df.schema)
    val t = IceTable.create(catalog, "escaped_all", schema,
      PartitionSpec.of(0, ("k", IdentityTransform, "k"))(schema),
      properties = Map("format-version" -> "3"))
    t.append(df.coalesce(1))
    assert(t.newScan().planFiles().forall(_.file.filePath.contains("%")))
    t.deleteWhere(spark, range(0, 2))
    t.deleteWhereDV(spark, range(4, 6))
    t.upsert(spark, Seq((awkward, 8L, "v1")).toDF("k", "id", "v"), Seq("id"))
    t.equalityDelete(spark, Seq(9L).toDF("id"), Seq("id"))
    assert(scanned(t) == Seq((2L, "v0"), (3L, "v0"), (6L, "v0"), (7L, "v0"), (8L, "v1")))
  }

  test("a name-mapped, ID-less file takes every delete kind") {
    val s = spark
    import s.implicits._
    val foreignDir = Files.createTempDirectory("graft-delete-filter-foreign").toString
    (0L until 12L).map(i => (i, "v0")).toDF("f_id", "f_v")
      .coalesce(1).write.mode("overwrite").parquet(foreignDir)
    val canonical = SchemaConv.fromSpark((0L until 1L).map(i => (i, "")).toDF("id", "v").schema)
    val t = IceTable.create(catalog, "mapped_deletes", canonical,
      properties = Map("format-version" -> "3"))
    t.updateProperties(set = Map(NameMapping.PropertyKey -> NameMapping.toJson(
      canonical.fields.map(f => MappedField(Some(f.id), Seq(s"f_${f.name}"))))))
    t.addFiles(DataWriter.listParquet(foreignDir).map(_._1))
    t.refresh()
    assert(t.newScan().planFiles().forall(_.file.hasFieldIds.contains(false)))
    t.deleteWhere(spark, range(0, 2))
    t.deleteWhereDV(spark, range(3, 4))
    t.equalityDelete(spark, Seq(5L, 6L).toDF("id"), Seq("id"))
    t.upsert(spark, Seq((7L, "v1")).toDF("id", "v"), Seq("id"))
    val live = (0L until 12L).filterNot(Set(0L, 1L, 3L, 5L, 6L))
    assert(scanned(t) == live.map(i => (i, if (i == 7L) "v1" else "v0")))
  }

  test("a data file split across tasks keeps row positions file-global") {
    val s = spark
    import s.implicits._
    val ids = 0L until 20000L
    val t = table("split_file", ids, props = Map(
      "write.parquet.row-group-size-bytes" -> "8192",
      "write.parquet.page-size-bytes" -> "1024"))
    t.deleteWhere(spark, range(100, 200))
    t.deleteWhere(spark, range(9000, 9100))
    t.deleteWhereDV(spark, range(15000, 15050))
    t.deleteWhereDV(spark, P.gtEq("id", 19990L))
    t.equalityDelete(spark, Seq(5L, 5000L, 12345L, 19000L).toDF("id"), Seq("id"))
    val dead = ((100L until 200L) ++ (9000L until 9100L) ++ (15000L until 15050L) ++
      (19990L until 20000L) ++ Seq(5L, 5000L, 12345L, 19000L)).toSet
    val fileSize = fresh(t).newScan().planFiles().map(_.file.fileSizeInBytes).max
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, (fileSize / 4).toString)
    try {
      val df = fresh(t).scan(spark, selected = Some(Seq("id", "v")))
      val scans = collect(df.queryExecution.executedPlan) { case f: FileSourceScanExec => f }
      assert(scans.size == 1 && scans.head.inputRDD.getNumPartitions > 1,
        "the data file was not split across tasks")
      assert(scanned(t) == ids.filterNot(dead).map(i => (i, "v0")))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("building the scan runs no job, a count at most two, a repeat scan no cache miss") {
    val s = spark
    import s.implicits._
    val t = table("jobs_cache", 0L until 60L)
    t.deleteWhere(spark, range(0, 5))
    t.deleteWhereDV(spark, range(10, 15))
    t.equalityDelete(spark, Seq(20L, 21L).toDF("id"), Seq("id"))
    val (df, buildJobs) = graft.JobCount.during(spark)(fresh(t).scan(spark))
    assert(buildJobs == 0, s"building the scan ran $buildJobs jobs")
    val (n, countJobs) = graft.JobCount.during(spark)(df.count())
    assert(n == 60L - 12L)
    assert(countJobs <= 2, s"count ran $countJobs jobs")
    val (hitsBefore, missesBefore) = IceScan.deleteCacheStats
    assert(fresh(t).scan(spark).count() == 60L - 12L)
    val (hitsAfter, missesAfter) = IceScan.deleteCacheStats
    assert(missesAfter == missesBefore, "a repeat scan decoded a delete file again")
    assert(hitsAfter > hitsBefore)
  }
}
