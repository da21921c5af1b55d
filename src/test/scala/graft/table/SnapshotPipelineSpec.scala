package graft.table

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Predicates => P, _}
import graft.meta._

/** Invariants every snapshot-producing entry point keeps, checked after
  * each one on a v3 table: one metadata version per commit, summary totals
  * equal to a recount of the snapshot's manifests, `next-row-id` past every
  * assigned row-id range, and the commit's UUID on its manifest list and on
  * every manifest and deletion-vector file it wrote.
  */
class SnapshotPipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var catalog: FileCatalog = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("snapshot-pipeline-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    catalog = new FileCatalog(Files.createTempDirectory("graft-pipeline").toString)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** 25 nation-shaped rows, keys 0..24. */
  private def nation = spark.range(25).selectExpr("id AS n_nationkey",
    "concat('nation ', id) AS n_name", "id % 5 AS n_regionkey", "'comment' AS n_comment")

  private val ListName = """snap-(\d+)-1-(.+)\.avro""".r

  private def fileName(path: String) = new org.apache.hadoop.fs.Path(path).getName

  /** Run one commit and check the pipeline invariants on the snapshot it
    * returns. `uuid` pins the commit UUID when the caller minted it.
    */
  private def commitOnce(t: IceTable, what: String, uuid: Option[String] = None)(
      commit: => Snapshot): Snapshot = {
    val logBefore = t.metadata.metadataLog.size
    val versionBefore = catalog.currentVersion(t.name)
    val snap = commit
    assert(t.metadata.metadataLog.size == logBefore + 1, s"$what: metadata log")
    assert(catalog.currentVersion(t.name) == versionBefore + 1, s"$what: one CAS")

    val manifests = ManifestIO.readManifestList(snap.manifestList)
    val live = manifests.flatMap(m =>
      ManifestIO.readManifest(m.path, t.metadata.specs, t.schema)._2
        .filter(_.status != ManifestEntryStatus.Deleted).map(m -> _))
    val data = live.filter(_._1.content == 0).map(_._2.dataFile)
    val deletes = live.filter(_._1.content == 1).map(_._2.dataFile)
    assert(snap.summary("total-data-files").toLong == data.size, s"$what: data files")
    assert(snap.summary("total-records").toLong == data.map(_.recordCount).sum,
      s"$what: records")
    assert(snap.summary("total-delete-files").toLong == deletes.size, s"$what: delete files")

    val nextRowId = t.metadata.nextRowId.get
    manifests.filter(_.content == 0).foreach { m =>
      m.firstRowId.foreach(f =>
        assert(f + m.addedRowsCount <= nextRowId, s"$what: ${m.path} range past $nextRowId"))
    }
    data.foreach(f => f.firstRowId.foreach(r =>
      assert(r + f.recordCount <= nextRowId, s"$what: ${f.filePath} range past $nextRowId")))

    val listUuid = fileName(snap.manifestList) match {
      case ListName(id, u) => assert(id.toLong == snap.snapshotId, what); u
      case other => fail(s"$what: unexpected manifest list name $other")
    }
    uuid.foreach(u => assert(listUuid == u, s"$what: list UUID"))
    val written = manifests.filter(_.addedSnapshotId == snap.snapshotId)
    assert(written.nonEmpty, s"$what: no manifest stamped with the snapshot")
    written.foreach(m => assert(fileName(m.path).startsWith(listUuid), s"$what: ${m.path}"))
    live.filter { case (_, e) =>
      e.snapshotId == snap.snapshotId && e.dataFile.fileFormat == "puffin"
    }.foreach { case (_, e) =>
      assert(fileName(e.dataFile.filePath).startsWith(listUuid), s"$what: ${e.dataFile.filePath}")
    }
    snap
  }

  test("every snapshot-producing entry point commits through one pipeline") {
    val schema = SchemaConv.fromSpark(nation.schema)
    val t = IceTable.create(catalog, "pipeline", schema,
      properties = Map("format-version" -> "3"))

    commitOnce(t, "append")(t.append(nation.where("n_nationkey < 10").coalesce(1)))
    val foreign = DataWriter.write(
      nation.where("n_nationkey >= 10 AND n_nationkey < 15").coalesce(1),
      t.location, t.schema, t.spec)
    commitOnce(t, "addFiles")(t.addFiles(foreign.map(_.filePath)))
    commitOnce(t, "upsert")(t.upsert(spark,
      nation.where("n_nationkey IN (1, 2)").withColumn("n_comment", lit("upserted")),
      Seq("n_nationkey")))
    commitOnce(t, "equalityDelete")(t.equalityDelete(spark,
      nation.where("n_nationkey = 3").select("n_nationkey"), Seq("n_nationkey")))
    commitOnce(t, "deleteWhere (positions)")(
      t.deleteWhere(spark, P.equalTo("n_nationkey", 4L)).get)
    // the added file holds exactly keys 10..14: strict metrics drop it whole
    val dropped = commitOnce(t, "deleteWhere (whole-file drop)")(t.deleteWhere(spark,
      P.and(P.gtEq("n_nationkey", 10L), P.lt("n_nationkey", 15L))).get)
    assert(dropped.summary("deleted-data-files") == "1")
    commitOnce(t, "deleteWhereDV")(t.deleteWhereDV(spark, P.equalTo("n_nationkey", 5L)).get)
    commitOnce(t, "rewritePositionDeletes")(t.rewritePositionDeletes(spark).get)

    val staged = commitOnce(t, "appendToBranch")(
      t.appendToBranch(nation.where("n_nationkey >= 20").coalesce(1), "audit"))
    assert(t.metadata.refs("audit").snapshotId == staged.snapshotId)
    assert(t.currentSnapshot.get.snapshotId != staged.snapshotId, "a stage must not move main")
    commitOnce(t, "cherryPick")(t.cherryPick(staged.snapshotId))
    commitOnce(t, "append")(
      t.append(nation.where("n_nationkey >= 15 AND n_nationkey < 20").coalesce(1)))

    commitOnce(t, "compactSmallFiles")(t.compactSmallFiles(spark, 1L << 30).get)
    commitOnce(t, "overwriteWhere")(t.overwriteWhere(spark, P.lt("n_nationkey", 2L),
      nation.where("n_nationkey < 2").withColumn("n_comment", lit("overwritten"))))
    commitOnce(t, "rewriteManifests")(t.rewriteManifests())

    val ds = t.beginDistributedSnapshot()
    val workerFiles = DataWriter.write(nation.where("n_nationkey < 5").coalesce(1),
      t.location, t.schema, t.spec)
    val worker = ManifestIO.writeManifest(s"${t.location}/metadata/${ds.commitUuid}-m0.avro",
      workerFiles.map(f => ManifestEntry(ManifestEntryStatus.Added, ds.snapshotId, None, None, f)),
      t.spec, t.schema, formatVersion = 3)
    commitOnce(t, "commitDistributedSnapshot", Some(ds.commitUuid))(
      t.commitDistributedSnapshot(ds, Seq(worker)))

    // the table still reads back what the operations wrote: keys 0..24 with
    // 3 and 4 deleted and 5 DV-deleted before the overwrite re-added 0..1,
    // 10..14 dropped, and the distributed append's second copy of 0..4
    val keys = t.scan(spark).select("n_nationkey").collect()
      .map(_.getAs[Number](0).longValue()).sorted.toSeq
    val expected = ((0L until 25L).filterNot(k => k >= 3 && k <= 5 || k >= 10 && k < 15) ++
      (0L until 5L)).sorted
    assert(keys == expected)
  }
}
