package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Predicates => P, _}
import graft.meta._
import graft.table._

/** CDC changelog ([[Ingest.changelogBetween]]): inserts and deletes in a
  * snapshot range reconstruct exactly, deletion-vector deletes surface the
  * same as parquet positional deletes, and unrepresentable ranges
  * (equality-delete overwrite, compaction) abort instead of lying.
  */
class ChangelogSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var catalog: FileCatalog = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("changelog-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    catalog = new FileCatalog(Files.createTempDirectory("graft-cdc-spec").toString)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def nation = spark.read.parquet(s"$sfDir/nation.parquet")

  /** A name-mapped table whose data comes from one file of `rows` written
    * without field ids under `f_`-prefixed names.
    */
  private def mappedTable(name: String, rows: DataFrame): (IceTable, String) = {
    val canonical = SchemaConv.fromSpark(nation.schema)
    val dir = Files.createTempDirectory(s"graft-$name").toString
    rows.select(rows.columns.map(c => col(c).as(s"f_$c")).toSeq: _*)
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val t = IceTable.create(catalog, name, canonical)
    t.updateProperties(set = Map(NameMapping.PropertyKey -> NameMapping.toJson(
      canonical.fields.map(f => MappedField(Some(f.id), Seq(s"f_${f.name}"))))))
    (t, DataWriter.listParquet(dir).head._1)
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def rowsOf(df: DataFrame, kind: String) =
    df.where(s"change_type = '$kind'").drop("change_type", "change_seq")

  private def changes(t: IceTable, since: Long) =
    Ingest.changelogSince(spark, t, since)
      .select("n_nationkey", "change_type", "change_seq")
      .collect().map(r => (r.getAs[Number](0).longValue(), r.getString(1),
        r.getAs[Number](2).longValue())).toSet

  test("append + positional delete reconstruct as I and D rows") {
    val t = IceTable.create(catalog, "cdc_basic", SchemaConv.fromSpark(nation.schema))
    val s1 = t.append(nation.where("n_nationkey < 10"))
    t.append(nation.where("n_nationkey >= 10"))          // seq 2 → I
    t.deleteWhere(spark, P.lt("n_nationkey", 3L))  // seq 3 → D
    t.refresh()
    val expect =
      (10L until 25L).map(k => (k, "I", 2L)).toSet ++
        (0L until 3L).map(k => (k, "D", 3L)).toSet
    assert(changes(t, s1.snapshotId) === expect)
  }

  test("deletion-vector deletes surface identically to parquet deletes") {
    val t = IceTable.create(catalog, "cdc_dv", SchemaConv.fromSpark(nation.schema),
      properties = Map("format-version" -> "3"))
    val s1 = t.append(nation.where("n_nationkey < 10"))
    t.deleteWhereDV(spark, P.lt("n_nationkey", 4L)) // seq 2 → D via DV
    t.refresh()
    assert(changes(t, s1.snapshotId) === (0L until 4L).map(k => (k, "D", 2L)).toSet)
  }

  test("equality-delete upsert in range aborts — no pre-image to emit") {
    val t = IceTable.create(catalog, "cdc_upsert", SchemaConv.fromSpark(nation.schema))
    val s1 = t.append(nation)
    t.upsert(spark, nation.where("n_nationkey = 0"), Seq("n_nationkey"))
    t.refresh()
    val e = intercept[IllegalStateException](
      Ingest.changelogSince(spark, t, s1.snapshotId).collect())
    assert(e.getMessage.contains("changelog cannot represent"))
  }

  test("compaction in range aborts — append diff is unreconstructable") {
    val t = IceTable.create(catalog, "cdc_compact", SchemaConv.fromSpark(nation.schema))
    val s1 = t.append(nation.where("n_nationkey < 5"))
    t.append(nation.where("n_nationkey >= 5"))
    t.compact(spark, targetFileCount = 1)
    t.refresh()
    val e = intercept[IllegalStateException](
      Ingest.changelogSince(spark, t, s1.snapshotId).collect())
    assert(e.getMessage.contains("changelog cannot represent"))
  }

  test("WAP branch stage never surfaces as a changelog insert — main ancestry only") {
    // the branch-staged snapshot lands in meta.snapshots with the HIGHEST
    // sequence number but never moves main; resolving `until` over all
    // snapshots (pre-fix) emitted its rows as phantom 'I's that main never
    // published (ADVICE r12 high)
    val t = IceTable.create(catalog, "cdc_wap", SchemaConv.fromSpark(nation.schema))
    val s1 = t.append(nation.where("n_nationkey < 10"))
    t.append(nation.where("n_nationkey >= 10 AND n_nationkey < 20"))
    t.appendToBranch(nation.where("n_nationkey >= 20"), "audit")
    t.refresh()
    val expect = (10L until 20L).map(k => (k, "I", 2L)).toSet
    assert(changes(t, s1.snapshotId) === expect,
      "branch-staged rows must not appear until published")
    // incremental append read honors the same ancestry bound
    val inc = Ingest.changesSince(spark, t, s1.snapshotId)
      .select("n_nationkey").collect().map(_.getAs[Number](0).longValue()).toSet
    assert(inc === (10L until 20L).toSet)
    // publishing the branch then surfaces the rows
    t.fastForwardMain("audit")
    t.refresh()
    assert(changes(t, s1.snapshotId) ===
      expect ++ (20L until 25L).map(k => (k, "I", 3L)).toSet)
  }

  test("overlapping delete predicates emit each position once, at first deletion") {
    // deleteWhere matches raw parquet without subtracting prior deletes, so
    // keys 0-2 appear in BOTH delete snapshots' files — the changelog must
    // emit them only at seq 2 (ADVICE r12 medium)
    val t = IceTable.create(catalog, "cdc_overlap", SchemaConv.fromSpark(nation.schema))
    val s1 = t.append(nation.where("n_nationkey < 10"))
    t.deleteWhere(spark, P.lt("n_nationkey", 3L)) // seq 2: kills 0-2
    t.deleteWhere(spark, P.lt("n_nationkey", 5L)) // seq 3: 0-2 again + 3-4
    t.refresh()
    val expect =
      (0L until 3L).map(k => (k, "D", 2L)).toSet ++
        (3L until 5L).map(k => (k, "D", 3L)).toSet
    assert(changes(t, s1.snapshotId) === expect)
  }

  test("whole-file drops surface as D rows, skipping positions already dead") {
    // strict-metrics deleteWhere drops fully-matched files as Deleted
    // manifest entries with NO delete rows to invert — the changelog must
    // reconstruct their live rows, and only their live rows, as D
    val schema = SchemaConv.fromSpark(nation.schema)
    val t = IceTable.create(catalog, "cdc_drop", schema,
      PartitionSpec.of(0, ("n_regionkey", IdentityTransform, "region"))(schema))
    val s1 = t.append(nation)
    def keysOf(region: Int) = nation.where(s"n_regionkey = $region")
      .select("n_nationkey").collect().map(_.getAs[Number](0).longValue()).toSet
    val r0 = keysOf(0)
    val first = r0.min
    val k1 = keysOf(1).min
    // seq 2: partial positional kill inside partition 0
    t.deleteWhere(spark,
      P.and(P.equalTo("n_regionkey", 0L), P.equalTo("n_nationkey", first)))
    // seq 3: MIXED — drops partition 0's file whole + position-deletes one
    // row of partition 1, in ONE snapshot
    t.deleteWhere(spark, P.or(P.equalTo("n_regionkey", 0L),
      P.and(P.equalTo("n_regionkey", 1L), P.equalTo("n_nationkey", k1))))
    t.refresh()
    val s3 = t.metadata.currentSnapshot.get
    val list = ManifestIO.readManifestList(s3.manifestList)
    // the drop really was metadata-only for partition 0 (a Deleted entry
    // exists) while partition 1 got a positional-delete file
    assert(list.filter(_.content == 0).exists(m =>
      ManifestIO.readManifest(m.path, t.metadata.specs, t.schema)._2
        .exists(e => e.status == ManifestEntryStatus.Deleted &&
          e.snapshotId == s3.snapshotId)))
    assert(list.exists(m => m.content == 1 && m.sequenceNumber == s3.sequenceNumber))
    val expect = Set((first, "D", 2L)) ++
      (r0 - first).map(k => (k, "D", 3L)) + ((k1, "D", 3L))
    assert(changes(t, s1.snapshotId) === expect)
  }

  test("a position dead before the range start is not re-emitted") {
    // the second predicate's delete file re-records 0-2, but they died at
    // seq 2 — before this consumer's start — so only 3-4 are news
    val t = IceTable.create(catalog, "cdc_predead", SchemaConv.fromSpark(nation.schema))
    t.append(nation.where("n_nationkey < 10"))
    t.deleteWhere(spark, P.lt("n_nationkey", 3L)) // seq 2, pre-range
    t.refresh()
    val s2 = t.metadata.currentSnapshot.get
    t.deleteWhere(spark, P.lt("n_nationkey", 5L)) // seq 3, in range
    t.refresh()
    assert(changes(t, s2.snapshotId) === (3L until 5L).map(k => (k, "D", 3L)).toSet)
  }

  test("merge-append inside the range keeps merged-away appends visible") {
    // a merge-append commit demotes prior Added entries to Existing in the
    // merged manifest; entry-level seq/snapshotId survive, and both the
    // incremental read and the changelog must select by THOSE, not by
    // Added status (ADVICE r13)
    val t = IceTable.create(catalog, "cdc_merge", SchemaConv.fromSpark(nation.schema),
      properties = Map(
        "commit.manifest-merge.enabled" -> "true",
        "commit.manifest.min-count-to-merge" -> "3"))
    val s1 = t.append(nation.where("n_nationkey < 5").coalesce(1))   // seq 1
    t.append(nation.where("n_nationkey >= 5 and n_nationkey < 10").coalesce(1)) // seq 2
    t.append(nation.where("n_nationkey >= 10").coalesce(1))          // seq 3 → merge fires
    t.refresh()
    assert(t.manifestsDF(spark).count() == 1, "merge-append should have packed to one manifest")
    // incremental read over (s1, head] sees seq-2 and seq-3 rows even
    // though their entries are now Existing in the merged manifest
    val inc = Ingest.changesSince(spark, t, s1.snapshotId)
      .select("n_nationkey").collect().map(_.getAs[Number](0).longValue()).toSet
    assert(inc === (5L until 25L).toSet)
    // and NOT the seq-1 rows (entry seq still bounds the range)
    assert(changes(t, s1.snapshotId) ===
      (5L until 10L).map(k => (k, "I", 2L)).toSet ++
        (10L until 25L).map(k => (k, "I", 3L)).toSet)
  }

  test("inserts over more than 32 files build from the manifests, with no Spark job") {
    // past spark.sql.sources.parallelPartitionDiscovery.threshold (32) a
    // path-based read lists the files in a Spark job
    val t = IceTable.create(catalog, "cdc_wide",
      SchemaConv.fromSpark(spark.range(1).toDF("id").schema))
    val s1 = t.append(spark.range(0, 10).toDF("id"))
    val wide = t.append(spark.range(10, 410, 1, 40).toDF("id"))
    assert(wide.summary("added-data-files").toInt > 32)
    t.refresh()
    val (inserts, insertJobs) =
      graft.JobCount.during(spark)(Ingest.changesSince(spark, t, s1.snapshotId))
    val (changelog, changelogJobs) =
      graft.JobCount.during(spark)(Ingest.changelogSince(spark, t, s1.snapshotId))
    assert(insertJobs == 0 && changelogJobs == 0, s"$insertJobs / $changelogJobs jobs")
    assert(inserts.count() == 400)
    assert(changelog.where("change_type = 'I' AND change_seq = 2").count() == 400)
  }

  test("empty range yields an empty, correctly-shaped frame") {
    val t = IceTable.create(catalog, "cdc_empty", SchemaConv.fromSpark(nation.schema))
    val s1 = t.append(nation)
    val df = Ingest.changelogSince(spark, t, s1.snapshotId)
    assert(df.count() === 0)
    assert(df.columns.takeRight(2) === Array("change_type", "change_seq"))
  }

  test("inserts from an ID-less file carry their values, in the changelog and changesSince") {
    val (t, foreign) = mappedTable("cdc_idless_insert", nation.where("n_nationkey >= 10"))
    val s1 = t.append(nation.where("n_nationkey < 10"))
    t.addFiles(Seq(foreign))
    t.refresh()
    assert(changes(t, s1.snapshotId) === (10L until 25L).map(k => (k, "I", 2L)).toSet)
    val expect = nation.where("n_nationkey >= 10")
    assert(sameRows(rowsOf(Ingest.changelogSince(spark, t, s1.snapshotId), "I"), expect))
    assert(sameRows(Ingest.changesSince(spark, t, s1.snapshotId), expect))
  }

  test("deletes from an ID-less file carry their values") {
    val (t, foreign) = mappedTable("cdc_idless_delete", nation)
    val s1 = t.addFiles(Seq(foreign))
    t.deleteWhere(spark, P.lt("n_nationkey", 3L))
    t.refresh()
    assert(changes(t, s1.snapshotId) === (0L until 3L).map(k => (k, "D", 2L)).toSet)
    assert(sameRows(rowsOf(Ingest.changelogSince(spark, t, s1.snapshotId), "D"),
      nation.where("n_nationkey < 3")))
  }

  test("an equality delete surfaces as D rows at its sequence number") {
    val t = IceTable.create(catalog, "cdc_eq", SchemaConv.fromSpark(nation.schema))
    val s1 = t.append(nation.where("n_nationkey < 10"))
    t.equalityDelete(spark, nation.where("n_nationkey IN (2, 5)").select("n_nationkey"),
      Seq("n_nationkey"))
    t.refresh()
    assert(t.scan(spark).count() == 8)
    assert(changes(t, s1.snapshotId) === Set((2L, "D", 2L), (5L, "D", 2L)))
  }

  test("building a changelog over parquet and DV deletes submits no Spark job") {
    val t = IceTable.create(catalog, "cdc_jobs", SchemaConv.fromSpark(nation.schema),
      properties = Map("format-version" -> "3"))
    val s1 = t.append(nation.where("n_nationkey < 10"))
    t.deleteWhere(spark, P.lt("n_nationkey", 3L))
    t.deleteWhereDV(spark, P.and(P.gtEq("n_nationkey", 5L), P.lt("n_nationkey", 7L)))
    t.refresh()
    val (df, jobs) =
      graft.JobCount.during(spark)(Ingest.changelogSince(spark, t, s1.snapshotId))
    assert(jobs == 0, s"$jobs jobs while building the changelog")
    assert(df.select("n_nationkey", "change_type", "change_seq").collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getString(1), r.getLong(2))).toSet ===
      (0L until 3L).map(k => (k, "D", 2L)).toSet ++ (5L until 7L).map(k => (k, "D", 3L)))
  }

  test("a delete snapshot whose parent expired fails the changelog, naming it") {
    val t = IceTable.create(catalog, "cdc_expired_parent", SchemaConv.fromSpark(nation.schema))
    val s1 = t.append(nation.where("n_nationkey < 10"))
    t.createTag("start", s1.snapshotId)
    val s2 = t.append(nation.where("n_nationkey >= 10"))
    t.deleteWhere(spark, P.lt("n_nationkey", 3L))
    t.refresh()
    val s3 = t.metadata.currentSnapshot.get
    t.expireSnapshots(olderThanMs = System.currentTimeMillis() + 1000000L)
    t.refresh()
    assert(t.metadata.snapshotById(s2.snapshotId).isEmpty, "fixture must expire the parent")
    val e = intercept[IllegalStateException](
      Ingest.changelogSince(spark, t, s1.snapshotId).collect())
    assert(e.getMessage.contains(s3.snapshotId.toString) &&
      e.getMessage.contains(s2.snapshotId.toString), e.getMessage)
  }

  test("changesSince fills a v3 column's initial default in files that predate it") {
    val t = IceTable.create(catalog, "cdc_default", SchemaConv.fromSpark(nation.schema),
      properties = Map("format-version" -> "3"))
    val s1 = t.append(nation.where("n_nationkey < 10"))
    t.append(nation.where("n_nationkey >= 10"))
    t.updateSchema().addColumnWithDefault("score", IceInt, 7).commit()
    assert(t.scan(spark).where("score = 7").count() == 25)
    val scores = Ingest.changesSince(spark, t, s1.snapshotId).select("score")
      .collect().map(r => Option(r.get(0)))
    assert(scores.length == 15 && scores.forall(_.contains(7)), scores.mkString(","))
  }
}
