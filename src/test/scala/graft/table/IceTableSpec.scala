package graft.table

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Predicates => P, _}
import graft.meta._

/** End-to-end vertical slice (SURVEY §7 M5): create → append → scan through
  * our metadata plane, checked against direct parquet reads; plus pruning
  * counts (mirroring `scanner_test.go:74-113`-style exact task-count
  * assertions), time travel, MOR deletes, and the distributed snapshot
  * commit protocol with its concurrent-commit conflict.
  */
class IceTableSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var warehouse: String = _
  private var catalog: FileCatalog = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("icetable-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    warehouse = Files.createTempDirectory("graft-wh").toString
    catalog = new FileCatalog(warehouse)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def lineitemSchema: IceSchema = SchemaConv.fromSpark(
    spark.read.parquet(s"$sfDir/lineitem.parquet").schema)

  private def lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")

  test("create + append + filtered scan matches a direct parquet read") {
    val t = IceTable.create(catalog, "li_basic", lineitemSchema)
    t.append(lineitem)
    val mine = t.scan(spark,
      P.gtEq("l_shipdate", "2001-01-01"),
      Some(Seq("l_orderkey", "l_extendedprice")))
    val direct = lineitem
      .where("l_shipdate >= TIMESTAMP '2001-01-01'")
      .select("l_orderkey", "l_extendedprice")
    assert(mine.schema.fieldNames.toSeq == Seq("l_orderkey", "l_extendedprice"))
    assert(mine.count() == direct.count())
    assert(mine.exceptAll(direct).isEmpty && direct.exceptAll(mine).isEmpty)
  }

  test("metadata JSON + manifest round-trip through catalog reload") {
    val t = IceTable.load(catalog, "li_basic")
    assert(t.metadata.formatVersion == 2)
    assert(t.currentSnapshot.isDefined)
    val snap = t.currentSnapshot.get
    assert(snap.summary("operation") == "append")
    val manifests = ManifestIO.readManifestList(snap.manifestList)
    assert(manifests.nonEmpty)
    val (_, entries) = ManifestIO.readManifest(manifests.head.path, t.metadata.specs, t.schema)
    assert(entries.nonEmpty)
    val df0 = entries.head.dataFile
    assert(df0.recordCount > 0 && df0.lowerBounds.nonEmpty && df0.upperBounds.nonEmpty)
    assert(t.scan(spark).count() == lineitem.count())
  }

  test("file skipping: stats prune appends outside the predicate range") {
    val t = IceTable.create(catalog, "li_pruned", lineitemSchema)
    // three appends with disjoint quantity ranges → one file each
    t.append(lineitem.where("l_quantity <= 15").coalesce(1))
    t.append(lineitem.where("l_quantity > 15 AND l_quantity <= 35").coalesce(1))
    t.append(lineitem.where("l_quantity > 35").coalesce(1))
    assert(t.newScan().planFiles().size == 3)
    val pruned = t.newScan(P.gt("l_quantity", 40.0)).planFiles()
    assert(pruned.size == 1, s"expected 1 planned file, got ${pruned.size}")
    // correctness of the pruned scan
    val cnt = t.scan(spark, P.gt("l_quantity", 40.0)).count()
    assert(cnt == lineitem.where("l_quantity > 40").count())
    // always-false filter plans zero files
    assert(t.newScan(P.and(P.lt("l_quantity", 1.0), P.gt("l_quantity", 60.0)))
      .planFiles().isEmpty)
  }

  test("maxConcurrency bounds a scan's planner pool; concurrent bounded scans plan identically") {
    val t = IceTable.create(catalog, "li_bounded_scan", lineitemSchema)
    (0 until 6).foreach(i => t.append(lineitem.where(s"pmod(l_orderkey, 6) = $i")))
    t.refresh()
    val unbounded = t.newScan().planFiles().map(_.file.filePath).sorted
    assert(unbounded.nonEmpty)
    // two scans with a 2-thread planner pool each, racing: same plan as
    // the shared-pool default (reference WithMaxConcurrency table.go:369)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val plans = Await.result(Future.sequence(Seq(
      Future(t.newScan(maxConcurrency = Some(2)).planFiles()),
      Future(t.newScan(maxConcurrency = Some(2)).planFiles()))), 60.seconds)
    plans.foreach(p => assert(p.map(_.file.filePath).sorted == unbounded))
    intercept[IllegalArgumentException](
      t.newScan(maxConcurrency = Some(0)).planFiles())
    // bounded scans read data identically too
    assert(t.newScan(maxConcurrency = Some(1)).toDF(spark).count() == lineitem.count())
  }

  test("time travel by snapshot id and by timestamp") {
    val t = IceTable.load(catalog, "li_pruned")
    val snaps = t.metadata.snapshots.sortBy(_.sequenceNumber)
    assert(snaps.size == 3)
    val firstCount = t.newScan(snapshotId = Some(snaps.head.snapshotId))
      .toDF(spark).count()
    assert(firstCount == lineitem.where("l_quantity <= 15").count())
    val secondCount = t.newScan(snapshotId = Some(snaps(1).snapshotId)).toDF(spark).count()
    assert(secondCount == lineitem.where("l_quantity <= 35").count())
    val asOf = t.newScan(asOfTimestampMs = Some(snaps(1).timestampMs)).toDF(spark).count()
    assert(asOf == secondCount)
    assert(t.scan(spark).count() == lineitem.count())
  }

  test("partitioned table: transform pruning plans fewer files") {
    val schema = lineitemSchema
    val spec = PartitionSpec.of(0,
      ("l_shipdate", YearTransform, "ship_year"),
      ("l_orderkey", BucketTransform(4), "ok_bucket"))(schema)
    val t = IceTable.create(catalog, "li_part", schema, spec)
    t.append(lineitem)
    val all = t.newScan().planFiles()
    assert(all.nonEmpty)
    // year filter prunes to a subset of files without reading any data
    val y2001 = t.newScan(P.gtEq("l_shipdate", "2001-01-01")).planFiles()
    assert(y2001.nonEmpty && y2001.size < all.size,
      s"${y2001.size} vs ${all.size}")
    // partition tuples round-tripped through the path encoding
    assert(all.head.file.partition.size == 2)
    // scan correctness on the partitioned layout
    val cnt = t.scan(spark, P.gtEq("l_shipdate", "2001-01-01")).count()
    assert(cnt == lineitem.where("l_shipdate >= TIMESTAMP '2001-01-01'").count())
    val bucketScan = t.newScan(P.equalTo("l_orderkey", 1L)).planFiles()
    assert(bucketScan.size < all.size)
    val cnt2 = t.scan(spark, P.equalTo("l_orderkey", 1L)).count()
    assert(cnt2 == lineitem.where("l_orderkey = 1").count())
  }

  test("MOR positional deletes: deleted rows disappear from scans") {
    val t = IceTable.create(catalog, "li_mor", lineitemSchema)
    t.append(lineitem.coalesce(2))
    val before = t.scan(spark).count()
    val toDelete = lineitem.where("l_returnflag = 'R'").count()
    assert(toDelete > 0)
    val snap = t.deleteWhere(spark, P.equalTo("l_returnflag", "R"))
    assert(snap.isDefined && snap.get.summary("operation") == "delete")
    val after = t.scan(spark).count()
    assert(after == before - toDelete, s"$after != $before - $toDelete")
    // delete applies inside filtered scans too
    assert(t.scan(spark, P.equalTo("l_returnflag", "R")).count() == 0)
    assert(t.scan(spark, P.equalTo("l_returnflag", "N")).count() ==
      lineitem.where("l_returnflag = 'N'").count())
  }

  test("MOR equality deletes: key-matched rows vanish, later appends survive") {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val t = IceTable.create(catalog, "ord_eqdel",
      SchemaConv.fromSpark(orders.schema))
    val batch1 = orders.where("o_orderkey % 2 = 0")
    val batch2 = orders.where("o_orderkey % 2 = 1")
    t.append(batch1)
    // delete by KEY VALUES — no scan of existing data at write time
    val delKeys = batch1.where("o_orderstatus = 'F'").select("o_orderkey")
    val nDel = delKeys.count()
    assert(nDel > 0)
    val snap = t.equalityDelete(spark, delKeys, Seq("o_orderkey"))
    assert(snap.summary("operation") == "delete")
    t.refresh()
    assert(t.scan(spark).count() == batch1.count() - nDel)
    // the upsert pattern: re-append some deleted keys at a LATER sequence —
    // strictly-older scoping must keep the new versions
    val reinserted = batch1.where("o_orderstatus = 'F'").limit(50)
    t.append(reinserted.unionAll(batch2))
    t.refresh()
    val expected = batch1.count() - nDel + 50 + batch2.count()
    assert(t.scan(spark).count() == expected)
    // filtered scans see the delete too, and the filter still pushes down
    assert(t.scan(spark, P.equalTo("o_orderstatus", "O")).count() ==
      orders.where("o_orderstatus = 'O'").count())
    // a second equality delete on a two-column key
    val dk2 = t.scan(spark).where("o_orderpriority = '1-URGENT'")
      .select("o_orderkey", "o_custkey")
    val n2 = dk2.count()
    t.equalityDelete(spark, dk2, Seq("o_orderkey", "o_custkey"))
    t.refresh()
    assert(t.scan(spark).count() == expected - n2)
    // compaction applies accumulated equality deletes and drops them
    val compacted = t.compact(spark, 2)
    assert(compacted.summary("operation") == "replace")
    t.refresh()
    assert(t.scan(spark).count() == expected - n2)
    // projection that excludes the key columns still honors the delete
    assert(t.newScan(selected = Some(Seq("o_totalprice"))).toDF(spark).count() == expected - n2)
  }

  test("upsert: one row-delta snapshot retires old key versions, keeps its own inserts") {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val t = IceTable.create(catalog, "ord_upsert", SchemaConv.fromSpark(orders.schema))
    t.append(orders)
    // updated versions of the urgent orders + brand-new keys (negated ids)
    val updates = orders.where("o_orderpriority = '1-URGENT'")
      .withColumn("o_totalprice", org.apache.spark.sql.functions.lit(0.0))
    // keys shifted before negation: o_orderkey 0 exists, and -0 would
    // collide with it (making that "insert" a genuine update)
    val inserts = orders.orderBy("o_orderkey").limit(25)
      .withColumn("o_orderkey",
        -(org.apache.spark.sql.functions.col("o_orderkey") + 1))
    val batch = updates.unionAll(inserts)
    val snap = t.upsert(spark, batch, Seq("o_orderkey"))
    assert(snap.summary("operation") == "overwrite")
    t.refresh()
    // row count: every key exists exactly once, plus the 25 new keys
    assert(t.scan(spark).count() == orders.count() + 25)
    // updated rows carry the new values (negative keys are inserted COPIES
    // of source rows — they keep their original price by construction)
    assert(t.scan(spark, P.equalTo("o_orderpriority", "1-URGENT"))
      .where("o_orderkey >= 0 AND o_totalprice <> 0.0").count() == 0)
    // untouched keys keep their original values, bit for bit
    val untouchedScan = t.scan(spark)
      .where("o_orderkey >= 0 AND o_orderpriority <> '1-URGENT'")
    assert(untouchedScan.count() ==
      orders.where("o_orderpriority <> '1-URGENT'").count())
    assert(untouchedScan
      .exceptAll(orders.where("o_orderpriority <> '1-URGENT'")).count() == 0)
    // a second upsert of the same keys replaces the first's versions
    t.upsert(spark, updates.withColumn("o_totalprice",
      org.apache.spark.sql.functions.lit(1.0)), Seq("o_orderkey"))
    t.refresh()
    assert(t.scan(spark).count() == orders.count() + 25)
    assert(t.scan(spark, P.equalTo("o_orderpriority", "1-URGENT"))
      .where("o_orderkey >= 0 AND o_totalprice <> 1.0").count() == 0)
  }

  test("rollback and cherry-pick: history surgery is metadata-only") {
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val t = IceTable.create(catalog, "nat_rb", SchemaConv.fromSpark(nation.schema))
    val s1 = t.append(nation.where("n_nationkey < 10"))
    val s2 = t.append(nation.where("n_nationkey >= 10 AND n_nationkey < 20"))
    val s3 = t.append(nation.where("n_nationkey >= 20"))
    val fullCount = nation.count()
    assert(t.scan(spark).count() == fullCount)
    // rollback to s1: reads see only the first batch; later snapshots remain
    t.rollbackTo(s1.snapshotId)
    t.refresh()
    assert(t.currentSnapshot.get.snapshotId == s1.snapshotId)
    assert(t.scan(spark).count() == nation.where("n_nationkey < 10").count())
    assert(t.metadata.snapshotById(s3.snapshotId).isDefined) // still time-travelable
    // cherry-pick s2's files back onto the rolled-back head
    val picked = t.cherryPick(s2.snapshotId)
    t.refresh()
    assert(picked.parentSnapshotId.contains(s1.snapshotId))
    assert(t.scan(spark).count() == nation.where("n_nationkey < 20").count())
    // re-picking a snapshot already in the head's ancestry would duplicate
    // its rows — rejected (picked is now an ancestor, as is s1)
    intercept[IllegalArgumentException] { t.cherryPick(picked.snapshotId) }
    intercept[IllegalArgumentException] { t.cherryPick(s1.snapshotId) }
    // picking the SOURCE snapshot again must also refuse: the pick commit
    // has a new id, so only the stamped source-snapshot-id can see it
    intercept[IllegalArgumentException] { t.cherryPick(s2.snapshotId) }
    assert(t.scan(spark).count() == nation.where("n_nationkey < 20").count())
    // only append snapshots are pickable
    t.deleteWhere(spark, P.equalTo("n_nationkey", 3L))
    t.refresh()
    val delSnap = t.currentSnapshot.get
    intercept[IllegalArgumentException] { t.cherryPick(delSnap.snapshotId) }
    // rollback requires a known snapshot
    intercept[IllegalArgumentException] { t.rollbackTo(999999L) }
  }

  test("deleteWhere matching no row commits nothing") {
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val t = IceTable.create(catalog, "nation_delete_none",
      SchemaConv.fromSpark(nation.schema))
    // key 7 lies inside the file's bounds but in no row
    t.append(nation.where("n_nationkey <> 7").coalesce(1))
    val before = t.metadata
    assert(t.deleteWhere(spark, P.equalTo("n_nationkey", 7L)).isEmpty)
    assert(t.deleteWhereDV(spark, P.equalTo("n_nationkey", 7L)).isEmpty)
    val after = IceTable.load(catalog, "nation_delete_none").metadata
    assert(after.snapshots == before.snapshots)
    assert(after.currentSnapshot.map(_.manifestList) == before.currentSnapshot.map(_.manifestList))
    assert(t.scan(spark).count() == nation.count() - 1)
  }

  test("v3 deletion vectors: puffin bitmaps delete rows; rewrite collapses to one DV per file") {
    // puffin + DV blob codec round-trips with CRC validation
    val bm = new org.roaringbitmap.longlong.Roaring64NavigableMap()
    Seq(0L, 7L, 1L << 33, 999999L).foreach(bm.addLong)
    val decoded = Puffin.decodeDV(Puffin.encodeDV(bm))
    assert(decoded.getLongCardinality == 4L && decoded.contains(1L << 33))

    val t = IceTable.create(catalog, "li_dv", lineitemSchema)
    t.append(lineitem.coalesce(4))
    val before = t.scan(spark).count()
    // mix the delete representations: parquet positional, then a DV
    t.deleteWhere(spark, P.equalTo("l_returnflag", "R"))
    t.refresh()
    val dv = t.deleteWhereDV(spark, P.equalTo("l_linestatus", "F"))
    assert(dv.isDefined && dv.get.summary("operation") == "delete")
    t.refresh()
    val expected = lineitem
      .where("l_returnflag <> 'R' AND l_linestatus <> 'F'").count()
    assert(t.scan(spark).count() == expected)
    // filtered scan through the DV path
    assert(t.scan(spark, P.equalTo("l_returnflag", "A")).count() ==
      lineitem.where("l_returnflag = 'A' AND l_linestatus <> 'F'").count())
    // maintenance: collapse parquet + DV deletes into ONE DV per data file
    val rewritten = t.rewritePositionDeletes(spark)
    assert(rewritten.isDefined && rewritten.get.summary("operation") == "replace")
    t.refresh()
    assert(t.scan(spark).count() == expected)
    val deleteManifests = ManifestIO
      .readManifestList(t.currentSnapshot.get.manifestList).filter(_.content == 1)
    assert(deleteManifests.size == 1)
    val (_, entries) = ManifestIO.readManifest(deleteManifests.head.path,
      t.metadata.specs, t.schema)
    assert(entries.nonEmpty && entries.forall(e =>
      e.dataFile.fileFormat == "puffin" && e.dataFile.isDeletionVector))
    // one DV per referenced file (shards may spread over several containers)
    assert(entries.map(_.dataFile.referencedDataFile.get).distinct.size == entries.size)
    // every shard's puffin footer agrees with the manifest pointers into it
    entries.groupBy(_.dataFile.filePath).foreach { case (shard, es) =>
      val blobs = Puffin.readFooter(shard)
      assert(blobs.size == es.size && blobs.forall(_.blobType == "deletion-vector-v1"))
      val pointers = es.map(e =>
        (e.dataFile.contentOffset.get, e.dataFile.contentSizeInBytes.get)).toSet
      assert(blobs.map(b => (b.offset, b.length)).toSet == pointers)
    }
    // compaction through the DV-applying scan stays exact
    t.compact(spark, 2)
    t.refresh()
    assert(t.scan(spark).count() == expected)
  }

  test("DV shards: a multi-file delete writes >1 executor-side puffin shard with exact pointers") {
    val t = IceTable.create(catalog, "li_dv_shards", lineitemSchema)
    // 32 files over 4 shuffle partitions: P(all hash to one partition)
    // ~ 4^-31 — the >1-shard assertion is deterministic in practice even
    // though path hashes change with the per-run temp warehouse
    t.append(lineitem.repartition(32))
    val before = t.scan(spark).count()
    // AQE rightly coalesces this KB-sized shuffle to one partition; disable
    // it here to observe the multi-executor shard shape a real corpus gets
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val snap =
      try t.deleteWhereDV(spark, P.equalTo("l_returnflag", "N"))
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(snap.isDefined && snap.get.summary("operation") == "delete")
    t.refresh()
    val expected = lineitem.where("l_returnflag <> 'N'").count()
    assert(t.scan(spark).count() == expected)
    val deleteManifests = ManifestIO
      .readManifestList(t.currentSnapshot.get.manifestList).filter(_.content == 1)
    val entries = deleteManifests.flatMap(m =>
      ManifestIO.readManifest(m.path, t.metadata.specs, t.schema)._2)
    // 8 data files hash across 4 shuffle partitions: bitmaps never funneled
    // through one driver-written container
    val shardPaths = entries.map(_.dataFile.filePath).distinct
    assert(shardPaths.size > 1, s"expected >1 puffin shard, got $shardPaths")
    // manifest pointers are exact: each blob decodes from ITS shard at ITS
    // offset and the cardinalities re-add to the deleted-row count
    assert(entries.map(_.dataFile.recordCount).sum == before - expected)
    entries.foreach { e =>
      val bm = Puffin.decodeDV(Puffin.readBlob(e.dataFile.filePath,
        e.dataFile.contentOffset.get, e.dataFile.contentSizeInBytes.get))
      assert(bm.getLongCardinality == e.dataFile.recordCount)
    }
  }

  test("distributed snapshot: begin/worker-manifests/commit, conflict loses") {
    val t = IceTable.create(catalog, "li_dist", lineitemSchema)
    t.append(lineitem.where("l_quantity <= 25"))
    val ds = t.beginDistributedSnapshot()
    // two "workers" each write data files + a manifest fragment
    val manifests = (0 until 2).map { w =>
      val part = lineitem.where(s"l_quantity > 25 AND pmod(l_orderkey, 2) = $w")
      val files = DataWriter.write(part, t.location, t.schema, t.spec)
      val path = s"${t.location}/metadata/${ds.commitUuid}-m${w + 1}.avro"
      val entries = files.map(f => ManifestEntry(ManifestEntryStatus.Added,
        ds.snapshotId, None, None, f))
      ManifestIO.writeManifest(path, entries, t.spec, t.schema)
    }
    val committed = t.commitDistributedSnapshot(ds, manifests)
    assert(committed.snapshotId == ds.snapshotId)
    assert(t.scan(spark).count() == lineitem.count())

    // a snapshot begun against a now-stale parent must fail to commit
    val stale = DistributedSnapshot(t.metadata.reserveSnapshotId(),
      parentSnapshotId = Some(-1L), commitUuid = "stale")
    intercept[CommitConflictException] {
      t.commitDistributedSnapshot(stale, manifests)
    }
  }

  test("refs: tags pin snapshots through expiry, scans resolve by ref") {
    val t = IceTable.create(catalog, "li_refs", lineitemSchema)
    val snap1 = t.append(lineitem.where("l_quantity <= 10"))
    t.append(lineitem.where("l_quantity > 10"))
    t.createTag("v1", snap1.snapshotId)
    assert(t.newScan(ref = Some("v1")).toDF(spark).count() ==
      lineitem.where("l_quantity <= 10").count())
    assert(t.newScan(ref = Some("main")).toDF(spark).count() == lineitem.count())
    // tagged snapshot survives expiry of everything old
    t.expireSnapshots(System.currentTimeMillis() + 1000, retainLast = 1)
    assert(t.metadata.snapshots.exists(_.snapshotId == snap1.snapshotId))
    assert(t.newScan(ref = Some("v1")).toDF(spark).count() ==
      lineitem.where("l_quantity <= 10").count())
    t.removeRef("v1")
    intercept[IllegalArgumentException] { t.newScan(ref = Some("v1")) }
    intercept[IllegalArgumentException] { t.removeRef("main") }
  }

  test("snapshot expiry keeps current, drops old") {
    val t = IceTable.load(catalog, "li_pruned")
    val before = t.metadata.snapshots.size
    assert(before == 3)
    t.expireSnapshots(olderThanMs = System.currentTimeMillis() + 1000, retainLast = 1)
    val after = t.metadata.snapshots
    assert(after.size == 1)
    assert(after.head.snapshotId == t.metadata.currentSnapshotId.get)
    assert(t.scan(spark).count() == lineitem.count())
  }

  test("metadata tables: files/snapshots/manifests DataFrames") {
    val t = IceTable.load(catalog, "li_basic")
    assert(t.snapshotsDF(spark).count() >= 1)
    assert(t.manifestsDF(spark).count() >= 1)
    val files = t.filesDF(spark)
    assert(files.count() >= 1)
    assert(files.columns.contains("record_count"))
    // partition rollup: counts reconcile with the live files
    val parts = t.partitionsDF(spark).collect()
    assert(parts.map(_.getLong(2)).sum ==
      files.select("record_count").collect().map(_.getLong(0)).sum)
    val tp = IceTable.load(catalog, "li_part")
    assert(tp.partitionsDF(spark).count() > 1) // one row per partition tuple
  }

  test("metadata tables: refs/history/entries/all_files/metadata_log DataFrames") {
    val t = IceTable.load(catalog, "li_basic")
    t.createTag("mt_tag", t.metadata.currentSnapshotId.get)
    try {
      val refs = t.refsDF(spark).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(refs.get("main").contains("branch") && refs.get("mt_tag").contains("tag"))

      // linear history: every logged snapshot is a current ancestor
      val hist = t.historyDF(spark).collect()
      assert(hist.length == t.metadata.snapshotLog.size && hist.forall(_.getBoolean(3)))

      // entries: live (non-DELETED) data entries reconcile with the scan plan
      val files = t.filesDF(spark)
      assert(t.entriesDF(spark).where("status != 2 and content = 0").count() ==
        files.count())

      // all_files spans every retained snapshot ⊇ the current snapshot's files
      val all = t.allFilesDF(spark).select("file_path").collect()
        .map(_.getString(0)).toSet
      assert(files.select("file_path").collect().map(_.getString(0)).toSet.subsetOf(all))

      // metadata-log: populated by commits, newest entry is the version the
      // tag commit superseded, and the recorded file is readable
      val log = t.metadata.metadataLog
      assert(log.nonEmpty)
      assert(t.metadataLogDF(spark).count() == log.size)
      assert(t.catalog.readMetadataFile(log.last.metadataFile).nonEmpty)

      // all_manifests: one row per (snapshot, manifest); the current
      // snapshot's rows equal the manifests table
      val am = t.allManifestsDF(spark)
      assert(am.count() >= t.manifestsDF(spark).count())
      assert(am.where(s"reference_snapshot_id = ${t.metadata.currentSnapshotId.get}")
        .count() == t.manifestsDF(spark).count())
    } finally t.removeRef("mt_tag")
  }

  test("metadata tables: delete_files lists MOR debt by content type") {
    val t = IceTable.load(catalog, "li_mor") // fixture with positional deletes
    val df = t.deleteFilesDF(spark).collect()
    assert(df.nonEmpty)
    assert(df.forall(_.getInt(0) != 0)) // only delete content
    // positional delete files carry no equality ids and no DV pointer
    assert(df.exists(r => r.getInt(0) == 1 && r.getString(6) == null))
    // an equality-delete table surfaces its key ids (ord_eqdel ends
    // compacted with its deletes applied, so build a live-debt one)
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val eq = IceTable.create(catalog, "ord_eqdel_meta",
      SchemaConv.fromSpark(orders.schema))
    eq.append(orders)
    eq.equalityDelete(spark,
      orders.where("o_orderstatus = 'F'").select("o_orderkey"), Seq("o_orderkey"))
    eq.refresh()
    val eqRows = eq.deleteFilesDF(spark).where("content = 2").collect()
    assert(eqRows.nonEmpty && eqRows.forall(_.getString(6) != null))
  }

  test("limit 0 yields empty frame with the projected schema") {
    val t = IceTable.load(catalog, "li_basic")
    val df = t.newScan(selected = Some(Seq("l_orderkey")), limit = Some(0)).toDF(spark)
    assert(df.schema.fieldNames.toSeq == Seq("l_orderkey"))
    assert(df.count() == 0)
  }

  test("nested struct columns: create/append/scan with nested filters and stats") {
    import org.apache.spark.sql.functions._
    val base = spark.range(100).toDF("id")
      .withColumn("loc", struct(
        (col("id") % 10).cast("double").as("lat"),
        (col("id") % 7).cast("double").as("lon")))
      .withColumn("tags", array(concat(lit("t"), col("id") % 3), lit("x")))
    val schema = SchemaConv.fromSpark(base.schema)
    assert(schema.findByName("loc.lat").isDefined)
    val t = IceTable.create(catalog, "nested", schema)
    t.append(base)
    assert(t.scan(spark).count() == 100)
    // filter on a nested field through the predicate ADT
    val hit = t.scan(spark, P.equalTo("loc.lat", 3.0))
    assert(hit.count() == base.where("loc.lat = 3.0").count())
    // nested leaf stats were collected from footers (dotted column paths)
    val file = t.newScan().planFiles().head.file
    val latId = t.schema.idByName("loc.lat")
    assert(file.lowerBounds.contains(latId) && file.upperBounds.contains(latId))
    // stats prune a nested-field predicate outside the value range
    assert(t.newScan(P.gt("loc.lat", 99.0)).planFiles().isEmpty)
  }

  test("addFiles: foreign parquet without field ids registers and scans via name mapping") {
    // a foreign file with NO parquet field ids and DIFFERENT column names
    val foreignDir = Files.createTempDirectory("graft-foreign").toString
    spark.read.parquet(s"$sfDir/region.parquet")
      .selectExpr("r_regionkey AS regionkey", "r_name AS name")
      .coalesce(1).write.mode("overwrite").parquet(foreignDir)
    val foreignPath = DataWriter.listParquet(foreignDir).head._1

    val canonical = SchemaConv.fromSpark(spark.read.parquet(s"$sfDir/region.parquet").schema)
    val t = IceTable.create(catalog, "region_ext", canonical)
    val mapping = Seq(
      MappedField(Some(canonical.idByName("r_regionkey")), Seq("regionkey")),
      MappedField(Some(canonical.idByName("r_name")), Seq("name")))
    t.updateProperties(set = Map(NameMapping.PropertyKey -> NameMapping.toJson(mapping)))
    t.addFiles(Seq(foreignPath))

    // footer stats keyed to the table's field IDs through the mapping
    val file = t.newScan().planFiles().head.file
    val keyId = canonical.idByName("r_regionkey")
    assert(file.lowerBounds.contains(keyId) && file.upperBounds.contains(keyId))
    // scan returns canonical names and exact rows, filter included
    val mine = t.scan(spark, P.gtEq("r_regionkey", 2), Some(Seq("r_regionkey", "r_name")))
    val direct = spark.read.parquet(s"$sfDir/region.parquet")
      .where("r_regionkey >= 2").select("r_regionkey", "r_name")
    assert(mine.schema.fieldNames.toSeq == Seq("r_regionkey", "r_name"))
    assert(mine.exceptAll(direct).isEmpty && direct.exceptAll(mine).isEmpty)
    // stats prune through the mapping: predicate outside the value range
    assert(t.newScan(P.gt("r_regionkey", 1000)).planFiles().isEmpty)
    // ID-less routing reads the manifest's hasFieldIds stamp — planning
    // opens zero data-file footers even for a name-mapped table
    assert(t.newScan().planFiles().head.file.hasFieldIds.contains(false))
    val before = ParquetStats.footerReads.get()
    assert(t.scan(spark, P.gtEq("r_regionkey", 0)).count() == 5)
    assert(ParquetStats.footerReads.get() == before,
      "plan-time footer sniff detected for a stamped name-mapped table")
  }

  test("addFiles: a directory registers its data files and trips the duplicate guard") {
    // a multi-file parquet write IS a directory — registering it must pick
    // up every part file (and skip _SUCCESS / hidden files), and a later
    // re-registration of the directory OR a member file must trip the guard
    val dir = Files.createTempDirectory("graft-dir-add").toString
    spark.read.parquet(s"$sfDir/nation.parquet")
      .repartition(3).write.mode("overwrite").parquet(dir)
    val members = DataWriter.listParquet(dir).map(_._1)
    assert(members.size == 3)
    val canonical = SchemaConv.fromSpark(spark.read.parquet(s"$sfDir/nation.parquet").schema)
    val t = IceTable.create(catalog, "nation_dir_ext", canonical)
    t.addFiles(Seq(dir))
    assert(t.newScan().planFiles().size == 3)
    assert(t.scan(spark).count() ==
      spark.read.parquet(s"$sfDir/nation.parquet").count())
    intercept[IllegalArgumentException](t.addFiles(Seq(dir)))
    intercept[IllegalArgumentException](t.addFiles(Seq(members.head)))
    // ignoreDuplicates: the directory re-registration is a no-op, not a dup
    val snapBefore = t.currentSnapshot.get.snapshotId
    t.addFiles(Seq(dir), ignoreDuplicates = true)
    assert(t.currentSnapshot.get.snapshotId == snapBefore)

    // Hive-layout (nested value dirs) on a PARTITIONED table: the recursive
    // expansion finds the leaf files and footer-stat inference assigns each
    // file its partition tuple — registering a whole Hive table is one call
    import org.apache.spark.sql.functions.col
    val src = spark.read.parquet(s"$sfDir/nation.parquet")
    // Hive layout with the partition column kept IN the data (Iceberg
    // registration needs it there): one value subdirectory per region
    val flat = Files.createTempDirectory("graft-hive-add").toString
    (0L until 5L).foreach { rk =>
      src.where(col("n_regionkey") === rk)
        .coalesce(1).write.mode("overwrite").parquet(s"$flat/rk=$rk")
    }
    val hSchema = SchemaConv.fromSpark(spark.read.parquet(s"$flat/rk=0").schema)
    val ht = IceTable.create(catalog, "nation_hive_ext", hSchema,
      PartitionSpec.of(0, ("n_regionkey", IdentityTransform, "n_regionkey"))(hSchema))
    ht.addFiles(Seq(flat)) // one nested directory, five leaf files
    assert(ht.newScan().planFiles().size == 5)
    assert(ht.scan(spark).count() == src.count())
    // partition pruning works off the inferred tuples
    assert(ht.newScan(P.equalTo("n_regionkey", 2L)).planFiles().size == 1)
  }

  test("addFiles: duplicate-registration guard and snapshot props (transaction.go:499-564)") {
    val foreignDir = Files.createTempDirectory("graft-foreign-dup").toString
    spark.read.parquet(s"$sfDir/region.parquet")
      .coalesce(1).write.mode("overwrite").parquet(foreignDir)
    val foreignPath = DataWriter.listParquet(foreignDir).head._1
    val canonical = SchemaConv.fromSpark(spark.read.parquet(s"$sfDir/region.parquet").schema)
    val t = IceTable.create(catalog, "region_dup", canonical)
    // non-unique input list is rejected outright
    intercept[IllegalArgumentException](t.addFiles(Seq(foreignPath, foreignPath)))
    val snap = t.addFiles(Seq(foreignPath), snapshotProps = Map("ingest-id" -> "batch-7"))
    assert(snap.summary.get("ingest-id") === Some("batch-7"),
      "snapshot props must ride the commit summary")
    assert(t.scan(spark).count() === 5)
    // re-register: default raises and changes nothing
    val e = intercept[IllegalArgumentException](t.addFiles(Seq(foreignPath)))
    assert(e.getMessage.contains("already referenced"))
    t.refresh()
    assert(t.scan(spark).count() === 5)
    // ignoreDuplicates=true no-ops instead of doubling rows
    val before = t.metadata.snapshots.size
    t.addFiles(Seq(foreignPath), ignoreDuplicates = true)
    t.refresh()
    assert(t.scan(spark).count() === 5)
    assert(t.metadata.snapshots.size === before, "no-op must not commit")
  }

  test("addFiles: partitioned registration infers partition values from footer stats") {
    // reference arrow_utils.go:1235-1252: one partition value per file,
    // proven by footer min == max under an order-preserving transform
    val stage = Files.createTempDirectory("graft-extpart-spec").toString
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val schema = SchemaConv.fromSpark(nation.schema)
    val paths = (0L until 5L).map { rk =>
      val d = s"$stage/rk=$rk"
      nation.where(s"n_regionkey = $rk").coalesce(1).write.mode("overwrite").parquet(d)
      DataWriter.listParquet(d).head._1
    }
    val spec = PartitionSpec.of(0, ("n_regionkey", IdentityTransform, "rk"))(schema)
    val t = IceTable.create(catalog, "nation_ext_part", schema, spec)
    t.addFiles(paths)
    // every row back, and a partition predicate prunes to exactly one file
    assert(t.scan(spark).count() === nation.count())
    val planned = t.newScan(P.equalTo("n_regionkey", 2L)).planFiles()
    assert(planned.size === 1, s"partition pruning planned ${planned.size} files")
    assert(t.scan(spark, P.equalTo("n_regionkey", 2L)).count() ===
      nation.where("n_regionkey = 2").count())
    // the inferred tuple is recorded on the manifest entry
    assert(planned.head.file.partition === Seq(2L))

    // a file spanning two partition values cannot be registered
    val mixedDir = s"$stage/mixed"
    nation.where("n_regionkey <= 1").coalesce(1).write.mode("overwrite").parquet(mixedDir)
    val t2 = IceTable.create(catalog, "nation_ext_part2", schema, spec)
    val e = intercept[IllegalArgumentException](
      t2.addFiles(Seq(DataWriter.listParquet(mixedDir).head._1)))
    assert(e.getMessage.contains("more than one value"))

    // non-linear transforms cannot infer a value from bounds at all
    val bSpec = PartitionSpec.of(0,
      ("n_nationkey", BucketTransform(4), "nk_bucket"))(schema)
    val t3 = IceTable.create(catalog, "nation_ext_part3", schema, bSpec)
    val e2 = intercept[IllegalArgumentException](t3.addFiles(Seq(paths.head)))
    assert(e2.getMessage.contains("non-linear"))
  }

  test("addFiles partition inference: null handling and binary content equality") {
    import org.apache.spark.sql.functions._
    val stage = Files.createTempDirectory("graft-extpart-null").toString

    // mixed null + value in the partition source: min==max would lie about
    // the null rows' partition, so registration must refuse (footer bounds
    // exclude nulls; the reference silently misattributes here)
    val mixed = spark.range(10).select(
      col("id"),
      when(col("id") < 3, lit(null: String)).otherwise(lit("F")).as("st"))
    mixed.coalesce(1).write.mode("overwrite").parquet(s"$stage/mixed")
    val schema = SchemaConv.fromSpark(mixed.schema)
    val spec = PartitionSpec.of(0, ("st", IdentityTransform, "st"))(schema)
    val t = IceTable.create(catalog, "ext_part_nulls", schema, spec)
    val e = intercept[IllegalArgumentException](
      t.addFiles(Seq(DataWriter.listParquet(s"$stage/mixed").head._1)))
    assert(e.getMessage.contains("nulls and values"))

    // a provably ALL-null column registers under the null partition exactly
    val allNull = spark.range(10).select(col("id"), lit(null).cast("string").as("st"))
    allNull.coalesce(1).write.mode("overwrite").parquet(s"$stage/allnull")
    t.addFiles(Seq(DataWriter.listParquet(s"$stage/allnull").head._1))
    t.refresh()
    assert(t.newScan().planFiles().head.file.partition === Seq(null))
    assert(t.scan(spark, P.isNull("st")).count() === 10)

    // binary partition source: single-valued file must register — the
    // min==max proof needs CONTENT equality on byte arrays, not reference
    // equality (reference compares Literal values, utils.go:229)
    val bin = spark.range(8).select(col("id"), lit(Array[Byte](1, 2, 3)).as("bk"))
    bin.coalesce(1).write.mode("overwrite").parquet(s"$stage/bin")
    val bSchema = SchemaConv.fromSpark(bin.schema)
    val bSpec = PartitionSpec.of(0, ("bk", IdentityTransform, "bk"))(bSchema)
    val tb = IceTable.create(catalog, "ext_part_bin", bSchema, bSpec)
    tb.addFiles(Seq(DataWriter.listParquet(s"$stage/bin").head._1))
    tb.refresh()
    assert(tb.scan(spark).count() === 8)
    assert(tb.newScan().planFiles().head.file.partition.head
      .asInstanceOf[Array[Byte]].toSeq === Seq[Byte](1, 2, 3))
  }

  test("addFiles: scheme-qualified duplicate paths are caught by the guard") {
    val foreignDir = Files.createTempDirectory("graft-foreign-scheme").toString
    spark.read.parquet(s"$sfDir/region.parquet")
      .coalesce(1).write.mode("overwrite").parquet(foreignDir)
    val foreignPath = DataWriter.listParquet(foreignDir).head._1
    val canonical = SchemaConv.fromSpark(spark.read.parquet(s"$sfDir/region.parquet").schema)
    val t = IceTable.create(catalog, "region_scheme_dup", canonical)
    t.addFiles(Seq(foreignPath))
    // file:// flavor of the same path must not re-register (ADVICE r13)
    val qualified = s"file://$foreignPath"
    val e = intercept[IllegalArgumentException](t.addFiles(Seq(qualified)))
    assert(e.getMessage.contains("already referenced"))
    t.addFiles(Seq(qualified), ignoreDuplicates = true)
    t.refresh()
    assert(t.scan(spark).count() === 5, "scheme-qualified dup doubled rows")
  }

  test("addFiles: nested aliased foreign schema resolves through the full-tree name mapping") {
    import org.apache.spark.sql.functions._
    // canonical: id, loc struct<lat,lon>, tags list<string>
    val canonicalDf = spark.range(20).toDF("id")
      .withColumn("loc", struct((col("id") % 10).cast("double").as("lat"),
        (col("id") % 7).cast("double").as("lon")))
      .withColumn("tags", array(concat(lit("t"), col("id") % 3)))
    val canonical = SchemaConv.fromSpark(canonicalDf.schema)
    // the foreign file uses DIFFERENT names at every level (field-id-free)
    val foreignDir = Files.createTempDirectory("graft-foreign-nested").toString
    canonicalDf.selectExpr(
      "id AS ident",
      "named_struct('latitude', loc.lat, 'longitude', loc.lon) AS position",
      "tags AS labels")
      .coalesce(1).write.mode("overwrite").parquet(foreignDir)
    val foreignPath = DataWriter.listParquet(foreignDir).head._1

    val t = IceTable.create(catalog, "nested_ext", canonical)
    val locId = canonical.idByName("loc")
    val latId = canonical.idByName("loc.lat")
    val lonId = canonical.idByName("loc.lon")
    val tagsId = canonical.idByName("tags")
    val elemId = canonical.findByName("tags").get.tpe
      .asInstanceOf[IceListType].elementId
    val mapping = Seq(
      MappedField(Some(canonical.idByName("id")), Seq("ident")),
      MappedField(Some(locId), Seq("position"), Seq(
        MappedField(Some(latId), Seq("latitude")),
        MappedField(Some(lonId), Seq("longitude")))),
      MappedField(Some(tagsId), Seq("labels"),
        Seq(MappedField(Some(elemId), Seq("element")))))
    t.updateProperties(set = Map(NameMapping.PropertyKey -> NameMapping.toJson(mapping)))
    t.addFiles(Seq(foreignPath))

    // nested struct leaf stats resolved through the mapped dotted path
    val file = t.newScan().planFiles().head.file
    assert(file.lowerBounds.contains(latId) && file.upperBounds.contains(latId),
      s"nested mapped stats missing: ${file.lowerBounds.keySet}")
    // scan reads nested aliased names back into canonical shape, hash-exact
    val mine = t.scan(spark).select("id", "loc.lat", "loc.lon", "tags")
    val want = canonicalDf.select("id", "loc.lat", "loc.lon", "tags")
    assert(mine.exceptAll(want).isEmpty && want.exceptAll(mine).isEmpty)
    // nested predicate filters correctly through the alias read
    assert(t.scan(spark, P.equalTo("loc.lat", 3.0)).count()
      === canonicalDf.where("loc.lat = 3.0").count())
    // and nested stats PRUNE through the mapping
    assert(t.newScan(P.gt("loc.lat", 99.0)).planFiles().isEmpty)
  }

  test("rewritePositionDeletes converts equality-delete debt into deletion vectors") {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val t = IceTable.create(catalog, "eq_to_dv",
      SchemaConv.fromSpark(orders.schema),
      properties = Map("format-version" -> "3"))
    t.append(orders)
    // accumulate equality debt: an upsert re-writing some keys, plus a
    // bare key-set delete — two eq-delete files at different sequences
    val upd = orders.where("o_orderstatus = 'F'").limit(200)
      .withColumn("o_totalprice", org.apache.spark.sql.functions.expr("o_totalprice * 2"))
    t.upsert(spark, upd, Seq("o_orderkey"))
    t.refresh()
    val dropKeys = orders.where("o_orderstatus = 'P'")
      .select("o_orderkey").limit(100)
    t.equalityDelete(spark, dropKeys, Seq("o_orderkey"))
    t.refresh()
    assert(t.newScan().planFiles().exists(_.eqDeletes.nonEmpty),
      "fixture must carry equality debt")
    val before = t.scan(spark).orderBy("o_orderkey", "o_totalprice")
      .collect().map(_.toSeq).toSeq
    val snap = t.rewritePositionDeletes(spark)
    assert(snap.isDefined)
    t.refresh()
    // all equality debt converted: scans identical, planning sees only DVs
    val tasks = t.newScan().planFiles()
    assert(tasks.forall(_.eqDeletes.isEmpty), "equality debt must be spent")
    assert(tasks.forall(_.deletes.isEmpty), "parquet positional debt collapses too")
    assert(tasks.exists(_.dvDeletes.nonEmpty), "the kill set must survive as DVs")
    val after = t.scan(spark).orderBy("o_orderkey", "o_totalprice")
      .collect().map(_.toSeq).toSeq
    assert(after == before, "conversion changed the visible rows")
    // converted-but-empty debt still gets released: a delete of absent keys
    val sOrders = spark.createDataFrame(spark.sparkContext.parallelize(
        Seq(org.apache.spark.sql.Row(Long.box(-1L)))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("o_orderkey",
          org.apache.spark.sql.types.LongType))))
    t.equalityDelete(spark, sOrders, Seq("o_orderkey"))
    t.refresh()
    assert(t.newScan().planFiles().exists(_.eqDeletes.nonEmpty))
    val snap2 = t.rewritePositionDeletes(spark)
    assert(snap2.isDefined, "spent debt must still be released")
    t.refresh()
    assert(t.newScan().planFiles().forall(_.eqDeletes.isEmpty))
    assert(t.scan(spark).count() == before.size)
  }

  test("strict-metrics delete: partition-aligned deleteWhere is metadata-only (zero data reads)") {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val schema = SchemaConv.fromSpark(orders.schema)
    val spec = PartitionSpec.of(0, ("o_orderstatus", IdentityTransform, "status"))(schema)
    val t = IceTable.create(catalog, "del_meta_only", schema, spec)
    t.append(orders)
    t.refresh()
    val fTasks = t.newScan(P.equalTo("o_orderstatus", "F")).planFiles()
    assert(fTasks.nonEmpty)
    val total = orders.count()
    val fCount = orders.where("o_orderstatus = 'F'").count()
    // prove ZERO data-file reads: clobber the to-be-dropped files so any
    // read attempt fails loudly — the metadata-only path must not notice
    val hconf = spark.sparkContext.hadoopConfiguration
    fTasks.map(_.file.filePath).foreach { p =>
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(p), hconf)
      val out = fs.create(new org.apache.hadoop.fs.Path(p), true)
      out.write("not a parquet file".getBytes("UTF-8")); out.close()
    }
    val snap = t.deleteWhere(spark, P.equalTo("o_orderstatus", "F")).get
    assert(snap.summary("operation") == "delete")
    t.refresh()
    val list = ManifestIO.readManifestList(snap.manifestList)
    // no positional-delete file was written in this commit
    assert(!list.exists(m => m.content == 1 && m.sequenceNumber == snap.sequenceNumber),
      "partition-aligned delete must not write delete files")
    // the matched files were dropped as whole-file Deleted entries
    val dropped = list.filter(_.content == 0).flatMap(m =>
      ManifestIO.readManifest(m.path, t.metadata.specs, t.schema)._2
        .filter(e => e.status == ManifestEntryStatus.Deleted &&
          e.snapshotId == snap.snapshotId)
        .map(_.dataFile.filePath)).toSet
    assert(dropped == fTasks.map(_.file.filePath).toSet)
    assert(snap.summary("deleted-data-files").toLong == fTasks.size.toLong)
    assert(t.scan(spark).count() == total - fCount)
    assert(t.scan(spark, P.equalTo("o_orderstatus", "F")).count() == 0)
  }

  test("strict-metrics delete: mixed predicate drops full files, position-deletes partial") {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val schema = SchemaConv.fromSpark(orders.schema)
    val spec = PartitionSpec.of(0, ("o_orderstatus", IdentityTransform, "status"))(schema)
    val t = IceTable.create(catalog, "del_mixed", schema, spec)
    t.append(orders)
    t.refresh()
    val oKeys = orders.where("o_orderstatus = 'O'")
      .select("o_orderkey").collect().map(_.getLong(0)).sorted
    val cut = oKeys(oKeys.length / 2) // strictly inside O's key range → partial
    val fPaths = t.newScan(P.equalTo("o_orderstatus", "F")).planFiles()
      .map(_.file.filePath).toSet
    val pred = P.or(P.equalTo("o_orderstatus", "F"),
      P.and(P.equalTo("o_orderstatus", "O"), P.lt("o_orderkey", cut)))
    val snap = t.deleteWhere(spark, pred).get
    t.refresh()
    val list = ManifestIO.readManifestList(snap.manifestList)
    // F files dropped whole; a positional-delete file covers the O slice
    val dropped = list.filter(_.content == 0).flatMap(m =>
      ManifestIO.readManifest(m.path, t.metadata.specs, t.schema)._2
        .filter(e => e.status == ManifestEntryStatus.Deleted &&
          e.snapshotId == snap.snapshotId)
        .map(_.dataFile.filePath)).toSet
    assert(dropped == fPaths)
    assert(list.exists(m => m.content == 1 && m.sequenceNumber == snap.sequenceNumber),
      "partial-match files still need positional deletes")
    val survivors = orders.where(
      s"NOT (o_orderstatus = 'F' OR (o_orderstatus = 'O' AND o_orderkey < $cut))")
    assert(t.scan(spark).count() == survivors.count())
    assert(t.scan(spark, P.equalTo("o_orderstatus", "P")).count() ==
      orders.where("o_orderstatus = 'P'").count())
  }

  test("strict-metrics delete rewrites only the touched manifests") {
    // at 100 TB a partition-aligned retention delete must be O(touched
    // manifests), not O(live manifests): untouched manifests carry forward
    // as the SAME file, byte-identical path, not an Existing-entry rewrite
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val schema = SchemaConv.fromSpark(orders.schema)
    val spec = PartitionSpec.of(0, ("o_orderstatus", IdentityTransform, "status"))(schema)
    val t = IceTable.create(catalog, "del_touch", schema, spec)
    // one append per partition → one manifest per partition
    Seq("F", "O", "P").foreach(st => t.append(orders.where(s"o_orderstatus = '$st'")))
    t.refresh()
    val before = ManifestIO.readManifestList(t.currentSnapshot.get.manifestList)
      .filter(_.content == 0).map(_.path).toSet
    assert(before.size == 3)
    val snap = t.deleteWhere(spark, P.equalTo("o_orderstatus", "F")).get
    t.refresh()
    val after = ManifestIO.readManifestList(snap.manifestList).filter(_.content == 0)
    // the two untouched partitions' manifests survive as the SAME files
    assert(after.count(m => before.contains(m.path)) == 2,
      s"untouched manifests must carry forward as-is: ${after.map(_.path)}")
    // the touched partition's manifest was rewritten to Deleted tombstones
    val rewritten = after.filter(m => !before.contains(m.path))
    assert(rewritten.size == 1)
    val entries = ManifestIO.readManifest(rewritten.head.path, t.metadata.specs, t.schema)._2
    assert(entries.nonEmpty && entries.forall(e =>
      e.status == ManifestEntryStatus.Deleted && e.snapshotId == snap.snapshotId))
    assert(t.scan(spark).count() == orders.where("o_orderstatus != 'F'").count())
  }

  test("strict-metrics delete: deleteWhereDV takes the same metadata-only path") {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val schema = SchemaConv.fromSpark(orders.schema)
    val spec = PartitionSpec.of(0, ("o_orderstatus", IdentityTransform, "status"))(schema)
    val t = IceTable.create(catalog, "del_meta_dv", schema, spec,
      properties = Map("format-version" -> "3"))
    t.append(orders)
    t.refresh()
    val fTasks = t.newScan(P.equalTo("o_orderstatus", "F")).planFiles()
    val hconf = spark.sparkContext.hadoopConfiguration
    fTasks.map(_.file.filePath).foreach { p =>
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(p), hconf)
      val out = fs.create(new org.apache.hadoop.fs.Path(p), true)
      out.write("still not parquet".getBytes("UTF-8")); out.close()
    }
    val snap = t.deleteWhereDV(spark, P.equalTo("o_orderstatus", "F")).get
    t.refresh()
    val list = ManifestIO.readManifestList(snap.manifestList)
    assert(!list.exists(m => m.content == 1 && m.sequenceNumber == snap.sequenceNumber),
      "aligned DV delete must not write deletion vectors")
    assert(t.scan(spark).count() ==
      orders.count() - orders.where("o_orderstatus = 'F'").count())
    // a follow-up MIXED DV delete writes puffin shards only for partial files
    val oKeys = orders.where("o_orderstatus = 'O'")
      .select("o_orderkey").collect().map(_.getLong(0)).sorted
    val cut = oKeys(oKeys.length / 2)
    val pred2 = P.or(P.equalTo("o_orderstatus", "P"),
      P.and(P.equalTo("o_orderstatus", "O"), P.lt("o_orderkey", cut)))
    val snap2 = t.deleteWhereDV(spark, pred2).get
    t.refresh()
    val list2 = ManifestIO.readManifestList(snap2.manifestList)
    val newDeletes = list2.filter(m => m.content == 1 &&
        m.sequenceNumber == snap2.sequenceNumber)
      .flatMap(m => ManifestIO.readManifest(m.path, t.metadata.specs, t.schema)._2
        .filter(_.status == ManifestEntryStatus.Added).map(_.dataFile))
    assert(newDeletes.nonEmpty && newDeletes.forall(_.fileFormat == "puffin"))
    // DV blob snapshot stamp matches the committing snapshot
    assert(newDeletes.forall(_.content == 1))
    val survivors = orders.where(
      s"""NOT (o_orderstatus = 'F' OR o_orderstatus = 'P'
         |  OR (o_orderstatus = 'O' AND o_orderkey < $cut))""".stripMargin)
    assert(t.scan(spark).count() == survivors.count())
  }

  test("catalog CAS: stale writer loses the race") {
    val t1 = IceTable.load(catalog, "li_basic")
    val t2 = IceTable.load(catalog, "li_basic")
    t1.append(lineitem.limit(10))
    // t2 holds the old version; its commit retries refresh and then succeed
    t2.append(lineitem.limit(5))
    val reloaded = IceTable.load(catalog, "li_basic")
    assert(reloaded.metadata.snapshots.size == t1.metadata.snapshots.size + 1)
  }

  test("a regressed version hint never serves stale metadata or strands writers") {
    // the hint file is advisory last-writer-wins: two racing CAS winners
    // can leave it pointing one version BACK. currentVersion must probe
    // forward to the real head (the v{N} lock files are the truth), or a
    // loaded handle would see stale metadata and every subsequent commit
    // would conflict forever against the existing lock
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    val t = IceTable.create(catalog, "hint_regress",
      SchemaConv.fromSpark(region.schema))
    t.append(region)
    t.append(region) // v3 now (create=1, two appends)
    val real = catalog.currentVersion("hint_regress")
    // simulate the regression: force the hint back to 1
    val hint = java.nio.file.Paths.get(
      s"$warehouse/hint_regress/metadata/version-hint.text")
    java.nio.file.Files.write(hint, "1".getBytes("UTF-8"))
    assert(catalog.currentVersion("hint_regress") == real,
      "currentVersion must probe past a regressed hint")
    val fresh = IceTable.load(catalog, "hint_regress")
    assert(fresh.metadata.snapshots.size == 2,
      "a load through a regressed hint lost a snapshot")
    // and commits from the freshly-loaded handle still land first try
    fresh.append(region.limit(1))
    assert(IceTable.load(catalog, "hint_regress").metadata.snapshots.size == 3)
  }
}
