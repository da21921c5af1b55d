package graft.table

import java.nio.file.Files
import java.sql.Date
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{BoundLiteral, BoundLiteralExecution}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Predicates => P, _}
import graft.meta._

/** Table writes bind the literals of their filters and projections
  * ([[BoundLiteralExecution]]): a commit that differs from an earlier one
  * only in its key range or value compiles no generated class, the bound
  * values select exactly the rows Spark's own inlined literals select, and
  * the write's plan still prints the values.
  */
class CodegenReuseSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var catalog: FileCatalog = _
  private var source: DataFrame = _
  private val executions = new ConcurrentLinkedQueue[SparkListenerSQLExecutionStart]()
  private val Jan1 = 1704067200L // 2024-01-01T00:00:00Z

  /** A Parquet source: keys 0 until 4000, four rows each, and typed columns. */
  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("codegen-reuse-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case e: SparkListenerSQLExecutionStart => executions.add(e)
        case _ => ()
      }
    })
    val dir = Files.createTempDirectory("graft-codegen-spec")
    catalog = new FileCatalog(dir.resolve("wh").toString)
    val doubles = Seq(Double.NaN, -0.0, 0.0, 1.5, -2.5, Double.PositiveInfinity)
    val rows = spark.range(0, 16000, 1, 4).select(
      col("id"),
      (col("id") / 4).cast("long").as("k"),
      (col("id") % 7).cast("int").as("i"),
      element_at(typedLit(doubles), (col("id") % doubles.size).cast("int") + 1).as("d"),
      date_add(lit(Date.valueOf("2024-01-01")), (col("id") % 5).cast("int")).as("dt"),
      timestamp_seconds(lit(Jan1) + col("id") % 9 * 3600).as("ts"),
      (col("id") % 3 === 0).as("b"),
      (col("id") * 0.25).as("v"))
    val path = dir.resolve("source.parquet").toString
    rows.write.parquet(path)
    source = spark.read.parquet(path)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Generated classes compiled while `body` runs. Each test's key ranges
    * are its own: a range another test already ran would find its class
    * in the cache without any binding.
    */
  private def compilesDuring(body: => Any): Long = {
    val before = compiles
    body
    compiles - before
  }

  private def keys(lo: Long, hi: Long): DataFrame =
    source.where(col("k") >= lo && col("k") < hi)

  private def rangePred(lo: Long, hi: Long) = P.and(P.gtEq("k", lo), P.lt("k", hi))

  private lazy val schema = SchemaConv.fromSpark(source.schema)

  private def bucketed(name: String): IceTable = IceTable.create(catalog, name, schema,
    PartitionSpec.of(0, ("k", BucketTransform(4), "k_bucket"))(schema))

  /** One file per append: a delete's candidates are then the files of the
    * one append its range falls in, which no earlier delete touched.
    */
  private def flat(name: String): IceTable = {
    val t = IceTable.create(catalog, name, schema)
    Seq((0L, 1000L), (1000L, 2000L), (2000L, 3000L)).foreach { case (lo, hi) =>
      t.append(keys(lo, hi).coalesce(1))
    }
    t
  }

  test("an append of another key range compiles no class") {
    val t = bucketed("reuse_append")
    t.append(keys(0, 500))
    assert(compilesDuring(t.append(keys(500, 1100))) === 0L)
    assert(t.scan(spark).count() === 1100L * 4)
  }

  test("an upsert with another value literal compiles no class") {
    val t = bucketed("reuse_upsert")
    t.append(keys(0, 1000))
    def upserted(lo: Long, hi: Long, cycle: Int) =
      keys(lo, hi).withColumn("v", col("v") + cycle.toDouble)
    t.upsert(spark, upserted(100, 200, 1), Seq("id"))
    assert(compilesDuring(t.upsert(spark, upserted(300, 420, 2), Seq("id"))) === 0L)
    val v = t.scan(spark).where(col("k") >= 300 && col("k") < 420)
      .select((col("v") - col("id") * 0.25).as("delta")).distinct().collect()
    assert(v.map(_.getDouble(0)).toSeq === Seq(2.0))
  }

  test("a deleteWhere of another key range compiles no class") {
    val t = flat("reuse_delete")
    t.deleteWhere(spark, rangePred(100, 140))
    assert(compilesDuring(t.deleteWhere(spark, rangePred(1200, 1250))) === 0L)
    assert(t.scan(spark).count() === (3000L - 40 - 50) * 4)
  }

  test("a deleteWhereDV of another key range compiles no class") {
    val t = flat("reuse_delete_dv")
    t.deleteWhereDV(spark, rangePred(160, 190))
    assert(compilesDuring(t.deleteWhereDV(spark, rangePred(1310, 1370))) === 0L)
    assert(t.scan(spark).count() === (3000L - 30 - 60) * 4)
  }

  /** The rows a table written from `source.where(cond)` holds, against
    * the rows Spark's own filter keeps. Rows compare as text, so `-0.0`
    * and `0.0` stay distinct.
    */
  private def sameRowsThroughWrite(name: String, cond: Column): Unit = {
    val expected = source.where(cond).collect().map(_.toString).sorted.toSeq
    val t = IceTable.create(catalog, name, schema)
    t.append(source.where(cond))
    val got = t.scan(spark).select(source.columns.map(col): _*)
      .collect().map(_.toString).sorted.toSeq
    assert(expected.nonEmpty && expected.size < 16000, s"$name: filter keeps ${expected.size}")
    assert(got === expected, name)
  }

  test("int, long and boolean literals keep the rows of the unbound filter") {
    sameRowsThroughWrite("typed_int", col("i") === 3)
    sameRowsThroughWrite("typed_int_range", col("i") > 4 || col("i") < lit(1))
    sameRowsThroughWrite("typed_long", col("k") >= 3999L || col("k") === lit(7L))
    sameRowsThroughWrite("typed_bool", col("b") === true && col("i") =!= 0)
  }

  test("double literals keep the rows of the unbound filter, NaN and -0.0 included") {
    sameRowsThroughWrite("typed_nan", col("d") === Double.NaN)
    sameRowsThroughWrite("typed_below_nan", col("d") < Double.NaN)
    sameRowsThroughWrite("typed_neg_zero", col("d") === -0.0)
    sameRowsThroughWrite("typed_above_neg_zero", col("d") > -0.0)
    sameRowsThroughWrite("typed_inf", col("d") >= Double.PositiveInfinity)
  }

  test("date and timestamp literals keep the rows of the unbound filter") {
    sameRowsThroughWrite("typed_date", col("dt") === lit(Date.valueOf("2024-01-03")))
    sameRowsThroughWrite("typed_date_range", col("dt") > lit(Date.valueOf("2024-01-03")))
    sameRowsThroughWrite("typed_ts", col("ts") < timestamp_seconds(lit(Jan1 + 4 * 3600)))
    sameRowsThroughWrite("typed_ts_eq", col("ts") === timestamp_seconds(lit(Jan1 + 7200)))
  }

  test("projected literals are written as the values they bind, -0.0 and NaN included") {
    val frame = keys(0, 1).select(col("id"), lit(-0.0).as("z"), lit(Double.NaN).as("n"),
      lit(Date.valueOf("2024-02-29")).as("day"), lit(12345678901L).as("big"))
    val t = IceTable.create(catalog, "typed_project", SchemaConv.fromSpark(frame.schema))
    t.append(frame)
    val rows = t.scan(spark).collect()
    assert(rows.length === 4)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ===
        java.lang.Double.doubleToRawLongBits(-0.0))
      assert(r.getDouble(2).isNaN)
      assert(r.getDate(3) === Date.valueOf("2024-02-29"))
      assert(r.getLong(4) === 12345678901L)
    }
  }

  test("a write's plan binds its literals and still prints their values") {
    val frame = keys(3210, 3212).where(col("v") > 3210.5)
    val plan = BoundLiteralExecution(frame).executedPlan
    val bound = plan.flatMap(_.expressions.flatMap(_.collect { case b: BoundLiteral => b }))
    assert(bound.map(_.value).toSet === Set(3210L, 3212L, 3210.5))
    bucketed("explain_write").append(frame)
    val shown = Seq(">= 3210)", "< 3212)", "> 3210.5)")
    def writePlan = executions.asScala.map(_.physicalPlanDescription)
      .find(_.contains(shown.head))
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (writePlan.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    assert(writePlan.nonEmpty, "no write plan printed the key range")
    shown.foreach(v => assert(writePlan.get.contains(v), v))
  }
}
