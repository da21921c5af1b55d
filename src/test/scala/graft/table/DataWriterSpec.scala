package graft.table

import java.nio.file.{Files, Path => JPath, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Predicates => P, _}
import graft.meta._

/** The executor-side write path ([[DataWriter]]): partition tuples taken
  * from the rows' own transform values, stats folded from the writer's
  * footer, files written where they land (no staging, committer or
  * checksum leftovers), failed attempts cleaned up, and position deletes
  * cut into contiguous `file_path` ranges without a sampling job.
  */
class DataWriterSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var catalog: FileCatalog = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("data-writer-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    catalog = new FileCatalog(Files.createTempDirectory("graft-writer-spec").toString)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def liveFiles(t: IceTable, content: Int): Seq[DataFile] =
    t.currentSnapshot.toSeq.flatMap { s =>
      ManifestIO.readManifestList(s.manifestList).filter(_.content == content)
        .flatMap(m => ManifestIO.readManifest(m.path, t.metadata.specs, t.schema)._2
          .filter(_.status != ManifestEntryStatus.Deleted).map(_.dataFile))
    }

  private def filesUnder(dir: String): Seq[JPath] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** Scala-side equality over manifest literals: decimals by value. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) == 0
    case _ => a == b
  }

  test("partition tuples equal transform.apply of every row; files sit under partitionToPath") {
    val s = spark
    import s.implicits._
    val base = Seq(
      ("a b/c:d", 1, "2020-01-31", "12.34", "2020-01-31 23:59:59.999999"),
      ("a b/c:d", 17, "2021-07-04", "-0.05", "2021-07-04 00:00:00"),
      ("plain", -3, "1969-12-31", "100.00", "1969-12-31 23:30:00"),
      ("plain", 250, "2024-02-29", "7.00", "2024-02-29 12:00:00.5"),
      ("€uro", 0, "1970-01-01", "0.00", "1970-01-01 00:00:00"),
      (null, 42, "1999-12-31", "-99.99", "1999-12-31 01:02:03"))
    val df = base.toDF("s", "i", "d", "dec", "t")
      .select(col("s"), col("i"), col("d").cast("date").as("d"),
        col("dec").cast("decimal(10,2)").as("dec"),
        col("t").cast("timestamp").as("ts"), col("t").cast("timestamp_ntz").as("tsn"))
    val schema = SchemaConv.fromSpark(df.schema)
    val fields = Seq(
      ("s", IdentityTransform), ("i", IdentityTransform), ("d", IdentityTransform),
      ("dec", IdentityTransform), ("s", BucketTransform(4)), ("i", BucketTransform(3)),
      ("s", TruncateTransform(2)), ("i", TruncateTransform(10)),
      ("dec", TruncateTransform(50)),
      ("d", YearTransform), ("d", MonthTransform), ("d", DayTransform),
      ("ts", YearTransform), ("ts", MonthTransform), ("ts", DayTransform),
      ("ts", HourTransform), ("tsn", YearTransform), ("tsn", MonthTransform),
      ("tsn", DayTransform), ("tsn", HourTransform))
    val spec = PartitionSpec.of(0, fields.zipWithIndex.map { case ((src, tr), i) =>
      (src, tr, s"p${i}_${src}_${tr.name.takeWhile(_.isLetter)}")
    }: _*)(schema)
    val t = IceTable.create(catalog, "w_transforms", schema, spec)
    t.append(df)
    t.refresh()
    val files = liveFiles(t, 0)
    assert(files.size === base.size, "six distinct tuples, one file each")
    files.foreach { f =>
      assert(f.filePath.contains(s"/${spec.partitionToPath(f.partition, schema)}/"),
        s"${f.filePath} not under ${spec.partitionToPath(f.partition, schema)}")
      // the file's rows with their source values as manifest literals
      val rows = spark.read.schema(df.schema).parquet(f.filePath)
        .select(col("s"), col("i"), unix_date(col("d")).as("d"), col("dec"),
          unix_micros(col("ts")).as("ts"), unix_micros(col("tsn").cast("timestamp")).as("tsn"))
        .collect()
      assert(rows.length.toLong === f.recordCount)
      rows.foreach { r =>
        spec.fields.zip(f.partition).foreach { case (pf, got) =>
          val src = schema.findById(pf.sourceId).get
          val v = r.get(r.fieldIndex(src.name))
          val want = pf.transform.apply(src.tpe, v)
          assert(same(got, want), s"${pf.name}: manifest $got, rows give $want ($v)")
        }
      }
    }
    assert(t.scan(spark).count() === base.size.toLong)
    // an escaped identity value still filters to its own file
    assert(t.scan(spark, P.equalTo("s", "a b/c:d")).count() === 2L)
  }

  test("in-task stats equal a footer re-read of the same file, field by field") {
    val df = spark.range(0, 3000, 1, 3).select(
      col("id"),
      (col("id") % 7).cast("int").as("small"),
      when(col("id") % 5 === 0, lit(null)).otherwise(concat(lit("value-"), col("id")))
        .as("s"),
      (col("id") / 3.0).as("x"),
      col("id").cast("decimal(12,3)").as("dec"),
      date_add(lit("2020-01-01").cast("date"), (col("id") % 400).cast("int")).as("d"))
    val schema = SchemaConv.fromSpark(df.schema)
    val t = IceTable.create(catalog, "w_stats", schema,
      PartitionSpec.of(0, ("small", IdentityTransform, "small"))(schema),
      properties = Map(ParquetStats.ColumnModeKeyPrefix + "s" -> "truncate(4)"))
    t.append(df)
    t.refresh()
    val files = liveFiles(t, 0)
    assert(files.size >= 7)
    val nameToId = SchemaConv.sanitizeColumnNames(t.schema).idByName
    files.foreach { f =>
      val onDisk = Files.size(Paths.get(f.filePath))
      val reread = ParquetStats.toDataFile(f.filePath, onDisk, t.schema, f.partition,
        nameToId = Some(nameToId), props = t.metadata.properties)
      assert(f.fileSizeInBytes === onDisk)
      assert(f.recordCount === reread.recordCount)
      assert(f.columnSizes === reread.columnSizes)
      assert(f.valueCounts === reread.valueCounts)
      assert(f.nullValueCounts === reread.nullValueCounts)
      assert(f.lowerBounds.view.mapValues(_.toSeq).toMap ===
        reread.lowerBounds.view.mapValues(_.toSeq).toMap)
      assert(f.upperBounds.view.mapValues(_.toSeq).toMap ===
        reread.upperBounds.view.mapValues(_.toSeq).toMap)
      assert(f.splitOffsets === reread.splitOffsets)
      assert(f.hasFieldIds === reread.hasFieldIds)
      assert(f.hasFieldIds === Some(true))
    }
    assert(files.map(_.recordCount).sum === 3000L)
  }

  test("writes leave no _temporary, _SUCCESS, .crc or staging entry under the table") {
    val s = spark
    import s.implicits._
    val df = spark.range(0, 400, 1, 4).select(col("id"), (col("id") % 4).as("k"),
      concat(lit("v"), col("id")).as("v"))
    val schema = SchemaConv.fromSpark(df.schema)
    val t = IceTable.create(catalog, "w_leftovers", schema,
      PartitionSpec.of(0, ("k", IdentityTransform, "k"))(schema))
    t.append(df)
    t.upsert(spark, Seq((1L, 1L, "u1"), (2L, 2L, "u2")).toDF("id", "k", "v"), Seq("id"))
    t.deleteWhere(spark, P.lt("id", 50L))
    t.deleteWhereDV(spark, P.equalTo("id", 60L))
    t.equalityDelete(spark, Seq(70L, 71L).toDF("id"), Seq("id"))
    t.compact(spark, 2)
    t.refresh()
    assert(t.scan(spark).count() === 400L - 50 - 3)
    val uuidDir = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
    val bad = filesUnder(t.location).map(_.getFileName.toString).filter { n =>
      n == "_temporary" || n == "_SUCCESS" || n.endsWith(".crc") ||
        n.startsWith(".staging") || n.startsWith("deletes-") ||
        uuidDir.matches(n)
    }
    assert(bad.isEmpty, s"leftovers under ${t.location}: $bad")
  }

  test("tasks that get no rows open no file; an empty upsertCounted commits nothing") {
    val df = spark.range(0, 100, 1, 4).toDF()
    val t = IceTable.create(catalog, "w_empty", SchemaConv.fromSpark(df.schema))
    t.append(df)
    val dataDir = s"${t.location}/data"
    def parquetOnDisk = filesUnder(dataDir).count(_.toString.endsWith(".parquet"))
    val before = (parquetOnDisk, t.currentSnapshot.map(_.snapshotId))
    assert(before._1 === 4)
    assert(t.upsertCounted(spark, df.where("id < 0"), Seq("id")) === 0L)
    t.refresh()
    assert((parquetOnDisk, t.currentSnapshot.map(_.snapshotId)) === before)
    assert(DataWriter.write(df.where("id < 0"), t.location, t.schema, t.spec).isEmpty)
    assert(parquetOnDisk === 4)
  }

  test("a task failing mid-write leaves the old snapshot; orphan cleanup reclaims the rest") {
    val t = IceTable.create(catalog, "w_failure",
      SchemaConv.fromSpark(spark.range(1).schema))
    t.append(spark.range(0, 10).toDF())
    val before = t.currentSnapshot.map(_.snapshotId)
    val boom = udf { (x: Long) =>
      if (x == 3999L) throw new IllegalStateException("boom") else x
    }.asNondeterministic()
    // four write tasks over range partitions; the last fails on its last row
    val err = intercept[Exception](
      t.append(spark.range(0, 4000, 1, 4).select(boom(col("id")).as("id"))))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("boom")))
    t.refresh()
    assert(t.currentSnapshot.map(_.snapshotId) === before)
    assert(t.scan(spark).count() === 10L)
    val dataDir = s"${t.location}/data"
    def parquetOnDisk = filesUnder(dataDir).map(_.toString).filter(_.endsWith(".parquet")).toSet
    // the failed attempt deleted what it opened (task partition 3)
    assert(!parquetOnDisk.exists(p => Paths.get(p).getFileName.toString.matches("\\d{5}-3-.*")),
      s"failed attempt left files: $parquetOnDisk")
    t.deleteOrphanFiles(System.currentTimeMillis() + 100000)
    val referenced = liveFiles(t, 0).map(_.filePath).toSet
    assert(parquetOnDisk === referenced)
    assert(t.scan(spark).count() === 10L)
  }

  test("position deletes: one file per contiguous path range, no sampling job") {
    val df = spark.range(0, 800, 1, 8).select(col("id"), (col("id") % 2).as("v"))
    val t = IceTable.create(catalog, "w_ranges", SchemaConv.fromSpark(df.schema))
    t.append(df)
    val dataPaths = liveFiles(t, 0).map(_.filePath).sorted
    assert(dataPaths.size === 8)
    // 800 candidate rows at 200 per range: the record bound allows 4 ranges
    t.updateProperties(set = Map("write.max-records-per-file" -> "200"))
    val (_, jobs) = graft.JobCount.during(spark)(t.deleteWhere(spark, P.equalTo("v", 0L)))
    // the shuffle-map job and the write job; no range-sampling job
    assert(jobs <= 2, s"deleteWhere ran $jobs jobs")
    t.refresh()
    assert(t.scan(spark).count() === 400L)
    val deletes = liveFiles(t, 1)
    // 8 candidate files over 4 shuffle partitions: 4 ranges of 2 files
    assert(deletes.size === 4)
    val bounds = deletes.map { d =>
      (new String(d.lowerBounds(DeleteIndex.PathFieldId), "UTF-8"),
        new String(d.upperBounds(DeleteIndex.PathFieldId), "UTF-8"))
    }.sortBy(_._1)
    bounds.zip(bounds.drop(1)).foreach { case ((_, hi), (lo, _)) =>
      assert(hi < lo, s"delete files overlap: $bounds")
    }
    dataPaths.grouped(2).toSeq.zip(bounds).foreach { case (range, (lo, hi)) =>
      assert(lo === range.head && hi === range.last,
        s"delete file [$lo, $hi] must cover exactly the range $range")
    }
  }

  test("a small position delete writes one file in one job") {
    val df = spark.range(0, 800, 1, 8).select(col("id"), (col("id") % 2).as("v"))
    val t = IceTable.create(catalog, "w_one_range", SchemaConv.fromSpark(df.schema))
    t.append(df)
    val dataPaths = liveFiles(t, 0).map(_.filePath).sorted
    assert(dataPaths.size === 8)
    // 800 candidate rows are far below the default per-file record cap:
    // one range, sorted in one task with no exchange
    val (_, jobs) = graft.JobCount.during(spark)(t.deleteWhere(spark, P.equalTo("v", 0L)))
    assert(jobs === 1, s"deleteWhere ran $jobs jobs")
    t.refresh()
    assert(t.scan(spark).count() === 400L)
    val deletes = liveFiles(t, 1)
    assert(deletes.size === 1)
    val d = deletes.head
    assert(new String(d.lowerBounds(DeleteIndex.PathFieldId), "UTF-8") === dataPaths.head)
    assert(new String(d.upperBounds(DeleteIndex.PathFieldId), "UTF-8") === dataPaths.last)
  }
}
