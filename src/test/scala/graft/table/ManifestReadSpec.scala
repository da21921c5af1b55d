package graft.table

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Predicates => P, SchemaConv}
import graft.meta.FileCatalog

/** Merge-on-read scans read the files their manifests list: building the
  * DataFrame of a wide scan — more data files and more equality-delete
  * files than Spark's parallel-listing threshold (32), plus position
  * deletes and deletion vectors — submits no Spark job (no listing, no
  * schema inference), and the executed plan holds exactly one file scan,
  * the data's: every delete applies inside that scan's tasks.
  */
class ManifestReadSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("manifest-read-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def jobsDuring[A](body: => A): (A, Int) = graft.JobCount.during(spark)(body)

  test("a wide MOR scan builds with zero jobs and one file scan") {
    val s = spark
    import s.implicits._
    val catalog = new FileCatalog(Files.createTempDirectory("graft-manifest-read").toString)
    val rows = (0L until 400L).map(k => (k, s"v$k"))
    val df = rows.toDF("k", "txt")
    val t = IceTable.create(catalog, "wide_mor", SchemaConv.fromSpark(df.schema),
      properties = Map("format-version" -> "3"))
    // 40 data files of 10 consecutive keys
    t.updateProperties(set = Map("write.max-records-per-file" -> "10"))
    t.append(df.coalesce(1))
    // 36 single-row equality-delete files on k, 3 on txt
    t.updateProperties(set = Map("write.max-records-per-file" -> "1"))
    val eqKeys = (0L until 36L).map(_ * 10)
    t.equalityDelete(spark, eqKeys.toDF("k"), Seq("k"))
    val eqTxt = Seq("v1", "v2", "v3")
    t.equalityDelete(spark, eqTxt.toDF("txt"), Seq("txt"))
    // position deletes and deletion vectors, each inside two files
    t.deleteWhere(spark, P.and(P.gtEq("k", 105L), P.lt("k", 115L)))
    t.deleteWhereDV(spark, P.and(P.gtEq("k", 205L), P.lt("k", 215L)))

    val fresh = IceTable.load(catalog, "wide_mor")
    val tasks = fresh.newScan().planFiles()
    assert(tasks.size == 40)
    assert(tasks.flatMap(_.eqDeletes).map(_._1.filePath).distinct.size == 39)
    assert(tasks.exists(_.deletes.nonEmpty) && tasks.exists(_.dvDeletes.nonEmpty))

    val (scan, buildJobs) = jobsDuring(fresh.scan(spark))
    assert(buildJobs == 0, "building the scan ran Spark jobs (listing or inference)")

    val got = scan.select("k").as[Long].collect().toSeq.sorted
    val dead = eqKeys.toSet ++ Set(1L, 2L, 3L) ++ (105L until 115L) ++ (205L until 215L)
    assert(got == rows.map(_._1).filterNot(dead))

    val fileScans = collect(scan.queryExecution.executedPlan) {
      case f: FileSourceScanExec => f
    }
    // the data; position, DV and both equality sets apply inside its tasks
    assert(fileScans.size == 1, s"file scans:\n${fileScans.mkString("\n")}")
  }

  test("a manifest-backed read reports the manifest file sizes to the optimizer") {
    val s = spark
    import s.implicits._
    val catalog = new FileCatalog(Files.createTempDirectory("graft-manifest-size").toString)
    val df = (0L until 100L).map(k => (k, k * 2)).toDF("k", "v")
    val t = IceTable.create(catalog, "sized", SchemaConv.fromSpark(df.schema))
    t.updateProperties(set = Map("write.max-records-per-file" -> "25"))
    t.append(df.coalesce(1))
    val tasks = t.newScan().planFiles()
    val files = tasks.map(_.file)
    val mine = IceScan.readFiles(spark, t.schema.toSpark, tasks)
    val listed = spark.read.schema(t.schema.toSpark).parquet(files.map(_.filePath): _*)
    assert(mine.queryExecution.optimizedPlan.stats.sizeInBytes ==
      listed.queryExecution.optimizedPlan.stats.sizeInBytes)
    assert(mine.queryExecution.optimizedPlan.stats.sizeInBytes ==
      BigInt(files.map(_.fileSizeInBytes).sum))
    assert(mine.as[(Long, Long)].collect().toSeq.sorted == (0L until 100L).map(k => (k, k * 2)))
  }
}
