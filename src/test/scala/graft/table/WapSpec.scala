package graft.table

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.meta._

/** Write-audit-publish: branch-staged appends ([[IceTable.appendToBranch]])
  * must be invisible to main until [[IceTable.fastForwardMain]] publishes
  * them, survive snapshot expiry while the branch ref lives, chain their
  * lineage off the branch head, and refuse a fast-forward that would drop
  * main-only commits.
  */
class WapSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var catalog: FileCatalog = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("wap-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    catalog = new FileCatalog(Files.createTempDirectory("graft-wap-spec").toString)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def region = spark.read.parquet(s"$sfDir/region.parquet")

  test("stage is invisible to main; branch sees it; publish makes it current") {
    val t = IceTable.create(catalog, "wap_basic", SchemaConv.fromSpark(region.schema))
    val base = t.append(region.where("r_regionkey < 3"))
    val staged = t.appendToBranch(region.where("r_regionkey >= 3"), "audit")

    assert(t.scan(spark).count() === 3, "main must not see the staged rows")
    assert(t.metadata.currentSnapshotId === Some(base.snapshotId))
    assert(t.newScan(ref = Some("audit")).toDF(spark).count() === 5,
      "the audit branch must see base + staged")
    // lineage: staged chains off the branch parent (= main head here)
    assert(staged.parentSnapshotId === Some(base.snapshotId))
    assert(staged.sequenceNumber === base.sequenceNumber + 1)

    t.fastForwardMain("audit")
    t.refresh()
    assert(t.metadata.currentSnapshotId === Some(staged.snapshotId))
    assert(t.scan(spark).count() === 5)
    // publish is metadata-only: same snapshot object, new snapshot-log tail
    assert(t.metadata.snapshotLog.last.snapshotId === staged.snapshotId)
  }

  test("second stage on the same branch chains off the branch head, not main") {
    val t = IceTable.create(catalog, "wap_chain", SchemaConv.fromSpark(region.schema))
    t.append(region.where("r_regionkey = 0"))
    val s1 = t.appendToBranch(region.where("r_regionkey = 1"), "audit")
    val s2 = t.appendToBranch(region.where("r_regionkey = 2"), "audit")
    assert(s2.parentSnapshotId === Some(s1.snapshotId))
    assert(t.scan(spark).count() === 1)
    assert(t.newScan(ref = Some("audit")).toDF(spark).count() === 3)
    t.fastForwardMain("audit")
    t.refresh()
    assert(t.scan(spark).count() === 3)
  }

  test("fast-forward refuses when main advanced past the branch point") {
    val t = IceTable.create(catalog, "wap_diverged", SchemaConv.fromSpark(region.schema))
    t.append(region.where("r_regionkey = 0"))
    t.appendToBranch(region.where("r_regionkey = 1"), "audit")
    // main moves on independently — the branch head no longer descends
    // from main's head, so a fast-forward would drop this commit
    t.append(region.where("r_regionkey = 2"))
    val e = intercept[IllegalArgumentException](t.fastForwardMain("audit"))
    assert(e.getMessage.contains("fast-forward would drop commits"))
    assert(t.scan(spark).count() === 2, "failed publish must not change main")
  }

  test("cherry-pick publishes a staged append after main diverged") {
    val t = IceTable.create(catalog, "wap_cherry", SchemaConv.fromSpark(region.schema))
    t.append(region.where("r_regionkey = 0"))
    val staged = t.appendToBranch(region.where("r_regionkey = 1"), "audit")
    t.append(region.where("r_regionkey = 2")) // main moves on — ff refused
    intercept[IllegalArgumentException](t.fastForwardMain("audit"))
    val picked = t.cherryPick(staged.snapshotId)
    t.refresh()
    assert(t.scan(spark).count() === 3)
    assert(t.metadata.currentSnapshotId === Some(picked.snapshotId))
    // the cherry-picked files live at the NEW sequence number
    assert(picked.sequenceNumber > staged.sequenceNumber)
    // only appends are representable
    val e = intercept[IllegalArgumentException] {
      t.deleteWhere(spark, graft.core.Predicates.equalTo("r_regionkey", 0L))
      t.refresh()
      t.cherryPick(t.metadata.currentSnapshotId.get)
    }
    assert(e.getMessage.contains("only append snapshots"))
  }

  test("cherry-pick refuses a duplicate publish of the same staged snapshot") {
    val t = IceTable.create(catalog, "wap_cherry_dup", SchemaConv.fromSpark(region.schema))
    t.append(region.where("r_regionkey = 0"))
    val staged = t.appendToBranch(region.where("r_regionkey = 1"), "audit")
    t.append(region.where("r_regionkey = 2"))
    val picked = t.cherryPick(staged.snapshotId)
    t.refresh()
    assert(picked.summary.get(IceTable.SourceSnapshotIdKey)
      === Some(staged.snapshotId.toString),
      "cherry-picked commit must record its source snapshot")
    assert(t.scan(spark).count() === 3)
    // a retried/repeated pick of the same stage must refuse, not double rows
    val e = intercept[IllegalArgumentException](t.cherryPick(staged.snapshotId))
    assert(e.getMessage.contains("refusing duplicate publish"))
    assert(t.scan(spark).count() === 3, "refused pick must not change main")
  }

  test("cherry-pick refuses a snapshot already published to main by fast-forward") {
    val t = IceTable.create(catalog, "wap_cherry_ff", SchemaConv.fromSpark(region.schema))
    t.append(region.where("r_regionkey = 0"))
    val staged = t.appendToBranch(region.where("r_regionkey = 1"), "audit")
    t.fastForwardMain("audit")
    t.refresh()
    assert(t.scan(spark).count() === 2)
    val e = intercept[IllegalArgumentException](t.cherryPick(staged.snapshotId))
    assert(e.getMessage.contains("already on main"))
    assert(t.scan(spark).count() === 2)
  }

  test("expiry keeps the staged snapshot alive while the branch ref exists") {
    val t = IceTable.create(catalog, "wap_expiry", SchemaConv.fromSpark(region.schema))
    t.append(region.where("r_regionkey = 0"))
    val staged = t.appendToBranch(region.where("r_regionkey > 0"), "audit")
    t.expireSnapshots(olderThanMs = System.currentTimeMillis() + 1000000)
    t.refresh()
    assert(t.metadata.snapshotById(staged.snapshotId).isDefined,
      "branch-referenced staged snapshot must survive expiry")
    assert(t.newScan(ref = Some("audit")).toDF(spark).count() === 5)
    // after publish + ref removal the WAP cycle closes cleanly
    t.fastForwardMain("audit")
    t.removeRef("audit")
    t.refresh()
    assert(t.scan(spark).count() === 5)
  }
}
