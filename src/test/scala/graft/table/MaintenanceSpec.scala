package graft.table

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Predicates => P, _}
import graft.meta._

/** Overwrite/replace/compaction, merge-append packing, sort-order writes,
  * the strict metrics evaluator, orphan cleanup, views, and the CLI verbs.
  */
class MaintenanceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var catalog: FileCatalog = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("maintenance-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    catalog = new FileCatalog(Files.createTempDirectory("graft-maint").toString)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")

  test("compactSmallFiles rewrites only the small tail and absorbs its MOR debt") {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val schema = SchemaConv.fromSpark(orders.schema)
    val spec = PartitionSpec.of(0, ("o_orderstatus", IdentityTransform, "status"))(schema)
    val t = IceTable.create(catalog, "small_compact", schema, spec)
    // one BIG file per partition…
    t.append(orders)
    t.refresh()
    val bigPaths = t.newScan().planFiles().map(_.file.filePath).toSet
    val bigMin = t.newScan().planFiles().map(_.file.fileSizeInBytes).min
    // …then an ingest tail of many small files per partition
    t.updateProperties(set = Map("write.max-records-per-file" -> "40"))
    val tail = orders.where("o_orderkey < 300")
    t.append(tail)
    t.refresh()
    val smallBefore = t.newScan().planFiles()
      .count(tsk => !bigPaths.contains(tsk.file.filePath))
    assert(smallBefore >= 6, s"fixture needs a small tail, got $smallBefore")
    // MOR debt: one deleted key — it exists once in the big append and
    // once in the tail, so the positional delete kills BOTH copies
    val delKey = tail.select("o_orderkey").limit(1).collect().head.getLong(0)
    t.deleteWhere(spark, P.equalTo("o_orderkey", delKey))
    t.refresh()
    val expect = orders.count() + tail.count() - 2
    assert(t.scan(spark).count() == expect)
    // the ingest-time small-file cap must not re-shred the rewrite
    t.updateProperties(remove = Seq("write.max-records-per-file"))
    // threshold strictly below the big files: only the tail qualifies
    val snap = t.compactSmallFiles(spark, smallerThanBytes = bigMin)
    assert(snap.isDefined)
    t.refresh()
    val after = t.newScan().planFiles()
    assert(bigPaths.subsetOf(after.map(_.file.filePath).toSet),
      "big files must stay byte-identical, untouched")
    val smallAfter = after.count(tsk => !bigPaths.contains(tsk.file.filePath))
    assert(smallAfter < smallBefore,
      s"tail must shrink: $smallBefore -> $smallAfter")
    // rows unchanged; the deleted key stays deleted (debt baked in, not
    // resurrected by the rewrite)
    assert(t.scan(spark).count() == expect)
    assert(t.scan(spark, P.equalTo("o_orderkey", delKey)).count() == 0)
    // nothing left to do: a second pass with the same threshold may only
    // fire for partitions still over the input minimum — and never loops
    // on its own output when the rewrite produced one file per partition
    val again = t.compactSmallFiles(spark, smallerThanBytes = bigMin)
    again.foreach { _ =>
      t.refresh()
      assert(t.scan(spark).count() == expect)
    }
  }

  test("a v3 compactSmallFiles of 12 single-file appends is one Spark job and keeps lineage") {
    val s = spark
    import s.implicits._
    val t = IceTable.create(catalog, "small_compact_v3",
      SchemaConv.fromSpark(Seq((0L, 0L)).toDF("k", "v").schema),
      properties = Map("format-version" -> "3"))
    (0 until 12).foreach { i =>
      t.append((i * 500L until (i + 1) * 500L).map(k => (k, k * 2)).toDF("k", "v").coalesce(1))
    }
    t.refresh()
    def lineage(): Seq[(Long, Long, Long)] = IceTable.load(catalog, t.name)
      .newScan(withRowId = true).toDF(spark)
      .select($"k", $"_row_id", $"_last_updated_sequence_number")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val before = lineage()
    assert(before.map(_._2).distinct.size == 6000)
    val (snap, jobs) = graft.JobCount.during(spark)(t.compactSmallFiles(spark, Long.MaxValue))
    assert(snap.isDefined)
    assert(jobs == 1, s"$jobs Spark jobs for the v3 compaction")
    assert(IceTable.load(catalog, t.name).newScan().planFiles().size < 12)
    assert(lineage() == before)
  }

  test("eq->DV conversion resolves key columns through the name mapping") {
    // an UPSERTED name-mapped table: foreign id-less files under aliased
    // names + our id-ful upsert files, equality debt across both — the
    // conversion's key read must resolve per-file like the scan does
    // (r18 verdict item 3: these tables previously kept their debt forever)
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val canonical = SchemaConv.fromSpark(nation.schema)
    val foreignDir = Files.createTempDirectory("graft-mapped-conv").toString
    nation.select(nation.columns.map(c =>
        org.apache.spark.sql.functions.col(c).as(s"f_$c")).toSeq: _*)
      .coalesce(2).write.mode("overwrite").parquet(foreignDir)
    val t = IceTable.create(catalog, "nation_mapped_conv", canonical)
    t.updateProperties(set = Map(NameMapping.PropertyKey -> NameMapping.toJson(
      canonical.fields.map(f => MappedField(Some(f.id), Seq(s"f_${f.name}"))))))
    t.addFiles(DataWriter.listParquet(foreignDir).map(_._1))
    t.refresh()
    val updated = nation.where("n_nationkey % 3 = 0")
      .withColumn("n_name", org.apache.spark.sql.functions.lit("upd"))
    t.upsert(spark, updated, Seq("n_nationkey"))
    t.refresh()
    assert(t.newScan().planFiles().exists(_.eqDeletes.nonEmpty))
    def state() = t.scan(spark, selected = Some(Seq("n_nationkey", "n_name")))
      .collect().map(r => (r.get(0).toString, r.getString(1))).sortBy(_._1).toSeq
    val before = state()
    // conversion must run (not skip) and spend the debt
    assert(t.rewritePositionDeletes(spark).isDefined,
      "name-mapped conversion skipped despite equality debt")
    t.refresh()
    val tasks = t.newScan().planFiles()
    assert(tasks.forall(_.eqDeletes.isEmpty), "eq debt survived conversion")
    assert(tasks.exists(_.dvDeletes.nonEmpty), "no DVs written")
    val after = state()
    assert(after == before, "conversion changed scan results")
    // the kill set was RIGHT: updated keys carry the new name once each
    val got = t.scan(spark).where("n_nationkey % 3 = 0")
      .select("n_nationkey", "n_name").collect()
    assert(got.nonEmpty && got.forall(_.getString(1) == "upd"))
    assert(got.map(_.get(0).toString).distinct.length == got.length)
  }

  test("compaction of name-mapped ID-less files with no deletes keeps every value") {
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    val canonical = SchemaConv.fromSpark(region.schema)
    val foreignDir = Files.createTempDirectory("graft-mapped-compact").toString
    region.select(region.columns.map(c =>
        org.apache.spark.sql.functions.col(c).as(s"f_$c")).toSeq: _*)
      .coalesce(2).write.mode("overwrite").parquet(foreignDir)
    val t = IceTable.create(catalog, "region_mapped_compact", canonical)
    t.updateProperties(set = Map(NameMapping.PropertyKey -> NameMapping.toJson(
      canonical.fields.map(f => MappedField(Some(f.id), Seq(s"f_${f.name}"))))))
    t.addFiles(DataWriter.listParquet(foreignDir).map(_._1))
    t.refresh()
    assert(t.newScan().planFiles().forall(t =>
      t.file.hasFieldIds.contains(false) && t.deletes.isEmpty))
    def same = { val s = t.scan(spark); s.exceptAll(region).isEmpty && region.exceptAll(s).isEmpty }
    assert(same)
    t.compact(spark, 1)
    t.refresh()
    assert(t.newScan().planFiles().forall(_.file.hasFieldIds.contains(true)))
    assert(same, "compaction changed the rows of a name-mapped table")
  }

  test("artifact GC: expired-snapshot artifacts deleted, live ones untouchable") {
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    val t = IceTable.create(catalog, "li_artifact_gc",
      SchemaConv.fromSpark(region.schema))
    val s1 = t.append(region.limit(1))
    t.refresh()
    Thread.sleep(5)
    val cutoff = System.currentTimeMillis()
    val s2 = t.append(region.limit(2))
    t.refresh()
    // one derived artifact per snapshot (the pairGraph naming convention),
    // plus a non-conforming directory that must never be touched
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(t.location), graft.meta.FileIO.conf)
    def mk(name: String): org.apache.hadoop.fs.Path = {
      val p = new org.apache.hadoop.fs.Path(s"${t.location}/artifacts/$name")
      fs.mkdirs(p)
      fs.create(new org.apache.hadoop.fs.Path(p, "part-0.parquet")).close()
      p
    }
    val dead = mk(s"jaccard-pairs-t0.5-s${s1.snapshotId}")
    val live = mk(s"jaccard-pairs-t0.5-s${s2.snapshotId}")
    val foreign = mk("scratch-notes")
    // nothing expired yet → dry run reports nothing, both snapshots live
    assert(t.expireArtifacts(dryRun = true).isEmpty)
    t.expireSnapshots(olderThanMs = cutoff, retainLast = 1)
    t.refresh()
    assert(t.metadata.snapshots.map(_.snapshotId) == Seq(s2.snapshotId))
    val deleted = t.expireArtifacts()
    assert(deleted == Seq(dead.toUri.getPath), s"deleted: $deleted")
    assert(!fs.exists(dead))
    assert(fs.exists(live), "live-snapshot artifact must survive GC")
    assert(fs.exists(foreign), "non-snapshot-keyed directory must survive GC")
  }

  test("ref retention policies drive expiry (refs.go:40-45)") {
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    val t = IceTable.create(catalog, "li_ref_retention",
      SchemaConv.fromSpark(region.schema))
    val s1 = t.append(region.limit(1))
    val s2 = t.append(region.limit(1))
    val s3 = t.append(region.limit(1))
    val s4 = t.append(region.limit(1))
    // a tag past its own max-ref-age is dropped by expiry
    t.createTag("old_tag", s1.snapshotId)
    t.setRefRetention("old_tag", maxRefAgeMs = Some(0L))
    // a branch's own policy overrides the expire call: keep >= 2 ancestors
    // even though its max-snapshot-age says everything is stale
    t.createBranch("dev", s3.snapshotId)
    t.setRefRetention("dev", minSnapshotsToKeep = Some(2),
      maxSnapshotAgeMs = Some(0L))
    // policies round-trip through the metadata JSON
    val reloaded = IceTable.load(catalog, "li_ref_retention")
    assert(reloaded.metadata.refs("dev").minSnapshotsToKeep.contains(2))
    assert(reloaded.metadata.refs("old_tag").maxRefAgeMs.contains(0L))

    t.expireSnapshots(System.currentTimeMillis() + 1000, retainLast = 1)
    val after = t.metadata
    assert(!after.refs.contains("old_tag")) // aged out with its pin
    assert(after.refs.contains("dev") && after.refs.contains("main"))
    val ids = after.snapshots.map(_.snapshotId).toSet
    assert(ids == Set(s2.snapshotId, s3.snapshotId, s4.snapshotId),
      s"expected dev to pin s3+s2 and main to keep s4; got $ids")
    assert(!ids.contains(s1.snapshotId))
  }

  test("rollback keeps main's retention policy") {
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    val t = IceTable.create(catalog, "li_rollback_retention",
      SchemaConv.fromSpark(region.schema))
    val snaps = (1 to 5).map(_ => t.append(region.limit(1)))
    t.setRefRetention("main", minSnapshotsToKeep = Some(3))
    t.rollbackTo(snaps(3).snapshotId)
    val reloaded = IceTable.load(catalog, "li_rollback_retention")
    val main = reloaded.metadata.refs("main")
    assert(main.snapshotId == snaps(3).snapshotId)
    assert(main.minSnapshotsToKeep.contains(3), s"policy lost by rollback: $main")
    reloaded.expireSnapshots(System.currentTimeMillis() + 1000, retainLast = 1)
    val ids = reloaded.metadata.snapshots.map(_.snapshotId).toSet
    // main's policy keeps 3 ancestors of the rolled-back head (s4, s3, s2);
    // retainLast keeps the newest snapshot (s5)
    assert(ids == snaps.drop(1).map(_.snapshotId).toSet, s"got $ids")
  }

  test("rewriteManifests packs manifests per spec without touching data or deletes") {
    val t = IceTable.create(catalog, "li_rw_manifests",
      SchemaConv.fromSpark(lineitem.schema))
    (0 until 5).foreach(i => t.append(lineitem.where(s"pmod(l_orderkey, 5) = $i")))
    t.deleteWhere(spark, P.equalTo("l_returnflag", "R"))
    val expected = t.scan(spark).count()
    val parentSummary = t.currentSnapshot.get.summary
    val before = ManifestIO.readManifestList(t.currentSnapshot.get.manifestList)
    assert(before.count(_.content == 0) == 5)
    val filesBefore = t.newScan().planFiles().map(_.file.filePath).toSet

    val snap = t.rewriteManifests()
    assert(snap.summary("operation") == "replace")
    val after = ManifestIO.readManifestList(t.currentSnapshot.get.manifestList)
    assert(after.count(_.content == 0) == 1, s"data manifests not packed: $after")
    assert(after.count(_.content == 1) == before.count(_.content == 1))
    // identical plan inputs and results: same files, same MOR-deleted rows
    assert(t.newScan().planFiles().map(_.file.filePath).toSet == filesBefore)
    assert(t.scan(spark).count() == expected)
    // totals unchanged in the snapshot summary (metadata-only operation);
    // zero deltas are OMITTED per the reference's setWhenPositive
    assert(!snap.summary.contains("added-data-files")
      && !snap.summary.contains("deleted-data-files"))
    assert(snap.summary("total-data-files") == parentSummary("total-data-files")
      && snap.summary("total-records") == parentSummary("total-records"))
  }

  test("compaction: many files become few, data identical, old files orphaned") {
    val t = IceTable.create(catalog, "li_compact",
      SchemaConv.fromSpark(lineitem.schema))
    (0 until 4).foreach(i => t.append(lineitem.where(s"pmod(l_orderkey, 4) = $i")))
    val before = t.newScan().planFiles().size
    assert(before >= 4)
    val snap = t.compact(spark, targetFileCount = 2)
    assert(snap.summary("operation") == "replace")
    assert(t.newScan().planFiles().size == 2)
    assert(t.scan(spark).count() == lineitem.count())
    // every live file is referenced (replaced files stay referenced through
    // the rewrite manifest's Deleted entries) → nothing to collect
    assert(t.deleteOrphanFiles(System.currentTimeMillis() + 1000, dryRun = true).isEmpty)
    // a stray file no manifest knows about IS an orphan
    val stray = java.nio.file.Paths.get(
      t.location.stripPrefix("file:"), "data", "stray-abandoned.parquet")
    java.nio.file.Files.write(stray, Array[Byte](1, 2, 3))
    val orphans = t.deleteOrphanFiles(System.currentTimeMillis() + 1000)
    assert(orphans == Seq(stray.toString))
    assert(!java.nio.file.Files.exists(stray))
    assert(t.scan(spark).count() == lineitem.count())
  }

  test("compaction of a PARTITIONED table keeps real partition tuples") {
    // regression: rewriteAllFiles wrote replacement files under
    // Unpartitioned, so a partitioned table's compacted files carried
    // all-null tuples and partition-filtered scans silently pruned them
    val schema = SchemaConv.fromSpark(lineitem.schema)
    val pSpec = PartitionSpec.of(0,
      ("l_returnflag", IdentityTransform, "rf"))(schema)
    val t = IceTable.create(catalog, "li_part_compact", schema, pSpec)
    (0 until 3).foreach(i => t.append(lineitem.where(s"pmod(l_orderkey, 3) = $i")))
    val beforeR = t.scan(spark, P.equalTo("l_returnflag", "R")).count()
    assert(beforeR > 0)
    t.compact(spark, targetFileCount = 2)
    t.refresh()
    // every live file carries its real tuple, never null
    assert(t.newScan().planFiles().forall(_.file.partition.head != null))
    // the partition-filtered scan still plans files and returns all rows
    val planned = t.newScan(P.equalTo("l_returnflag", "R")).planFiles()
    assert(planned.nonEmpty, "partition pruning dropped every compacted file")
    assert(t.scan(spark, P.equalTo("l_returnflag", "R")).count() === beforeR)
    assert(t.scan(spark).count() === lineitem.count())
  }

  test("orphan cleanup on a scheme-qualified warehouse: no false orphans, strays still found") {
    // manifests record "file:/wh/data/x" while the filesystem walk yields
    // its own form — raw string membership false-orphaned every LIVE file
    // of a scheme-qualified warehouse (and deleted them)
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    val dir = Files.createTempDirectory("graft-maint-scheme")
    val qualified = new FileCatalog("file:" + dir.toString)
    val t = IceTable.create(qualified, "region_scheme",
      SchemaConv.fromSpark(region.schema))
    t.append(region)
    t.refresh()
    assert(t.location.startsWith("file:"))
    // every live file survives a dry run...
    assert(t.deleteOrphanFiles(System.currentTimeMillis() + 1000, dryRun = true).isEmpty)
    // ...and a real run deletes nothing the scan needs
    assert(t.deleteOrphanFiles(System.currentTimeMillis() + 1000).isEmpty)
    assert(t.scan(spark).count() == region.count())
    // a stray is still collected through the canonical comparison
    val stray = java.nio.file.Paths.get(
      t.location.stripPrefix("file:"), "data", "stray-scheme.parquet")
    java.nio.file.Files.write(stray, Array[Byte](7))
    val orphans = t.deleteOrphanFiles(System.currentTimeMillis() + 1000)
    assert(orphans == Seq(stray.toString))
    assert(t.scan(spark).count() == region.count())
  }

  test("canonicalPath collapses scheme aliases and missing schemes") {
    import graft.meta.FileIO.canonicalPath
    assert(canonicalPath("/wh/data/x.parquet") == canonicalPath("file:/wh/data/x.parquet"))
    assert(canonicalPath("file:///wh/data/x.parquet") == canonicalPath("/wh/data/x.parquet"))
    assert(canonicalPath("s3a://bucket/k/x") == canonicalPath("s3://bucket/k/x"))
    assert(canonicalPath("abfss://c@acct/k") == canonicalPath("abfs://c@acct/k"))
    // different buckets / authorities must NOT collapse
    assert(canonicalPath("s3a://a/k/x") != canonicalPath("s3a://b/k/x"))
    assert(canonicalPath("s3://bucket/x") != canonicalPath("gs://bucket/x"))
  }

  test("referenced-path membership: schemeless refs match any scheme, never guess a default") {
    // manifests written under a non-local fs.defaultFS record SCHEMELESS
    // paths that are not local files; resolving them to file:// classifies
    // every live file as an orphan (the r16 hard-map). A schemeless side
    // instead matches the same path under ANY scheme — false-retain, the
    // safe direction for a deleter.
    val refs = new graft.meta.ReferencedPaths(Seq(
      "/wh/data/a.parquet", // schemeless (written under defaultFS)
      "hdfs://nn/wh/data/b.parquet", // scheme-qualified
      "s3a://bucket/k/c.parquet"))
    // schemeless ref vs the orphan walk's scheme-qualified form
    assert(refs.contains("hdfs://nn/wh/data/a.parquet"))
    assert(refs.contains("file:/wh/data/a.parquet"))
    assert(refs.contains("/wh/data/a.parquet"))
    // scheme-qualified ref vs a schemeless walked path
    assert(refs.contains("/wh/data/b.parquet"))
    // scheme aliases still collapse; exact canonical matches still hold
    assert(refs.contains("s3://bucket/k/c.parquet"))
    assert(refs.contains("hdfs://nn/wh/data/b.parquet"))
    // both sides scheme-qualified and DIFFERENT: no path-only fallback
    assert(!refs.contains("gs://bucket/k/c.parquet"))
    assert(!refs.contains("hdfs://nn/wh/data/zzz.parquet"))
    assert(!refs.contains("s3a://other-bucket/k/c.parquet"))
  }

  test("orphan cleanup reclaims expired snapshots' manifest lists under metadata/") {
    val t = IceTable.create(catalog, "li_orphan_meta",
      SchemaConv.fromSpark(lineitem.schema))
    t.append(lineitem.where("pmod(l_orderkey, 2) = 0"))
    val expiredList = t.currentSnapshot.get.manifestList
    t.append(lineitem.where("pmod(l_orderkey, 2) = 1"))
    val liveList = t.currentSnapshot.get.manifestList
    t.expireSnapshots(System.currentTimeMillis() + 1000, retainLast = 1)
    assert(t.metadata.snapshots.size == 1)
    val exists = (p: String) =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(p.stripPrefix("file:")))
    assert(exists(expiredList)) // expiry is metadata-only; the file lingers...
    val orphans = t.deleteOrphanFiles(System.currentTimeMillis() + 1000)
    assert(orphans.exists(_.endsWith(expiredList.split('/').last)),
      s"expired manifest list not collected: $orphans")
    assert(!exists(expiredList) && exists(liveList))
    // data + manifests of the first snapshot are carried forward by the
    // second's manifest list → still referenced, still scannable
    assert(t.scan(spark).count() == lineitem.count())
  }

  test("column names invalid in Avro are sanitized in the file, not the table") {
    val df = spark.range(10).toDF("id")
      .withColumn("letter/abc", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("v"), org.apache.spark.sql.functions.col("id")))
    val t = IceTable.create(catalog, "sanitized", SchemaConv.fromSpark(df.schema))
    t.append(df)
    // table-visible name is the original; scan resolves by field ID
    val back = t.scan(spark)
    assert(back.columns.toSeq == Seq("id", "letter/abc"))
    assert(back.count() == 10)
    // the parquet FILE carries the sanitized name (reference `_x%X` encoding)
    val file = t.newScan().planFiles().head.file
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.filePath), new org.apache.hadoop.conf.Configuration()))
    val names = try reader.getFooter.getFileMetaData.getSchema.getFields
      .asInstanceOf[java.util.List[org.apache.parquet.schema.Type]]
      .toArray.map(_.asInstanceOf[org.apache.parquet.schema.Type].getName).toSeq
    finally reader.close()
    assert(names == Seq("id", "letter_x2Fabc"))
    // footer stats still key to the table's field IDs through the rename
    val colId = t.schema.idByName("letter/abc")
    assert(file.lowerBounds.contains(colId) && file.upperBounds.contains(colId))
  }

  test("renameTable: identifier moves, location and data stay") {
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    val t = IceTable.create(catalog, "rn_before", SchemaConv.fromSpark(region.schema))
    t.append(region)
    val loc = t.location
    catalog.renameTable("rn_before", "rn_after")
    assert(!catalog.tableExists("rn_before"))
    assert(catalog.tableExists("rn_after"))
    assert(catalog.listTables().contains("rn_after"))
    val renamed = IceTable.load(catalog, "rn_after")
    assert(renamed.location == loc) // files did not move
    assert(renamed.scan(spark).count() == region.count())
    // the renamed handle keeps committing (CAS via the redirected location)
    renamed.append(region.limit(1))
    assert(IceTable.load(catalog, "rn_after").scan(spark).count() == region.count() + 1)
  }

  test("rename: chains, crash-resume, and concurrent-rename conflict") {
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    val t = IceTable.create(catalog, "rn_a", SchemaConv.fromSpark(region.schema))
    t.append(region)
    catalog.renameTable("rn_a", "rn_b")
    // renaming the renamed identifier again must work (the tombstone is not
    // the CAS point, so the second rename of the same location is legal)
    catalog.renameTable("rn_b", "rn_c")
    assert(!catalog.tableExists("rn_a") && !catalog.tableExists("rn_b"))
    assert(IceTable.load(catalog, "rn_c").scan(spark).count() == region.count())
    // re-running a completed rename is an idempotent no-op (the intent file
    // is deleted as the rename's final step, so no residue poisons `rn_b`)
    catalog.renameTable("rn_b", "rn_c")
    assert(catalog.tableExists("rn_c"))
    assert(!Files.exists(java.nio.file.Paths.get(
      s"${catalog.warehouse}/rename-rn_b.intent")))
    // the retired identifier is immediately reusable: a NEW table named rn_b
    // can be created and renamed without tripping over the old rename's state
    val tReuse = IceTable.create(catalog, "rn_b", SchemaConv.fromSpark(region.schema))
    tReuse.append(region.limit(2))
    catalog.renameTable("rn_b", "rn_b2")
    assert(IceTable.load(catalog, "rn_b2").scan(spark).count() == 2)
    assert(IceTable.load(catalog, "rn_c").scan(spark).count() == region.count())
    // crash simulation: the intent landed but no other step ran
    val t2 = IceTable.create(catalog, "rn_crash", SchemaConv.fromSpark(region.schema))
    t2.append(region.limit(3))
    val loc = catalog.tableLocation("rn_crash")
    Files.write(java.nio.file.Paths.get(s"${catalog.warehouse}/rename-rn_crash.intent"),
      s"rn_done\n$loc".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // the losing side of a concurrent rename (same source, different target)
    intercept[CommitConflictException] { catalog.renameTable("rn_crash", "rn_z") }
    assert(!catalog.tableExists("rn_z"))
    // re-running the recorded rename completes it
    catalog.renameTable("rn_crash", "rn_done")
    assert(!catalog.tableExists("rn_crash") && catalog.tableExists("rn_done"))
    assert(IceTable.load(catalog, "rn_done").scan(spark).count() == 3)
    // a stale intent whose recorded location no longer hosts the table is
    // refused (and cleared) instead of clobbering the live target's pointer
    Files.write(java.nio.file.Paths.get(s"${catalog.warehouse}/rename-rn_stale.intent"),
      s"rn_done\n${catalog.warehouse}/gone".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    intercept[CommitConflictException] { catalog.renameTable("rn_stale", "rn_done") }
    assert(!Files.exists(java.nio.file.Paths.get(
      s"${catalog.warehouse}/rename-rn_stale.intent")))
    assert(IceTable.load(catalog, "rn_done").scan(spark).count() == 3)
  }

  test("orphan cleanup preserves the rename tombstone") {
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    val t = IceTable.create(catalog, "rn_orph", SchemaConv.fromSpark(region.schema))
    t.append(region)
    catalog.renameTable("rn_orph", "rn_orph2")
    val t2 = IceTable.load(catalog, "rn_orph2")
    t2.deleteOrphanFiles(System.currentTimeMillis() + 3600000L)
    // deleting the tombstone would resurrect the retired identifier
    assert(!catalog.tableExists("rn_orph"))
    assert(catalog.tableExists("rn_orph2"))
    assert(t2.scan(spark).count() == region.count())
  }

  test("statistics: analyze writes NDV blobs, metadata round-trips, expiry + orphan cleanup reclaim") {
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    val t = IceTable.create(catalog, "stat_t", SchemaConv.fromSpark(region.schema))
    t.append(region)
    val snap1 = t.refresh().currentSnapshot.get
    val sf = t.analyzeTable(spark)
    assert(sf.snapshotId == snap1.snapshotId)
    assert(sf.blobMetadata.nonEmpty &&
      sf.blobMetadata.forall(_.blobType == "apache-datasketches-theta-v1"))
    // exact NDV expected at this size (theta sketches are exact below their
    // nominal entry count)
    val keyBlob = sf.blobMetadata.find(_.fields ==
      Seq(t.schema.idByName("r_regionkey"))).get
    assert(keyBlob.properties("ndv").toLong == region.count())
    assert(keyBlob.properties("null-count").toLong == 0L)
    // the Puffin footer agrees with the metadata blob list, and the blob
    // bytes decode to a sketch whose estimate matches the ndv property
    val foot = graft.meta.Puffin.readFooter(sf.statisticsPath)
    assert(foot.map(_.fields) == sf.blobMetadata.map(_.fields))
    val keyDesc = foot.find(_.fields == keyBlob.fields).get
    val est = ThetaStats.estimate(
      graft.meta.Puffin.readBlob(sf.statisticsPath, keyDesc.offset, keyDesc.length))
    assert(math.round(est) == region.count())
    assert(sf.fileFooterSizeInBytes > 0 && sf.fileSizeInBytes > sf.fileFooterSizeInBytes)
    // survives a reload through the catalog (JSON round-trip)
    val reloaded = IceTable.load(catalog, "stat_t")
    assert(reloaded.metadata.statistics == Seq(sf))
    // replace-on-set: re-analyzing the same snapshot keeps one entry
    val sf2 = reloaded.analyzeTable(spark)
    assert(IceTable.load(catalog, "stat_t").metadata.statistics == Seq(sf2))
    // live stats files are NOT orphans; the replaced one is reclaimable
    val t2 = IceTable.load(catalog, "stat_t")
    val removed = t2.deleteOrphanFiles(System.currentTimeMillis() + 3600000L)
    assert(removed.exists(_.endsWith(sf.statisticsPath.split('/').last)))
    assert(!removed.exists(_.endsWith(sf2.statisticsPath.split('/').last)))
    // expiry drops the stats entry with its snapshot
    t2.append(region.limit(1))
    t2.append(region.limit(1))
    t2.expireSnapshots(System.currentTimeMillis() + 3600000L, retainLast = 1)
    assert(t2.metadata.statistics.isEmpty)
  }

  test("statistics: incremental analyze unions sketches over only-appended files") {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val half1 = orders.where("o_orderkey % 2 = 0")
    val half2 = orders.where("o_orderkey % 2 = 1")
    val t = IceTable.create(catalog, "stat_inc", SchemaConv.fromSpark(orders.schema))
    t.append(half1)
    t.analyzeTable(spark)
    t.refresh()
    t.append(half2)
    t.refresh()
    val sf = t.analyzeIncrementally(spark)
    assert(sf.snapshotId == t.currentSnapshot.get.snapshotId)
    // union(first-half sketch, second-half sketch) must agree with a full
    // recompute — both exact here if under nominal entries, else close
    val full = IceTable.create(catalog, "stat_full", SchemaConv.fromSpark(orders.schema))
    full.append(orders)
    val fullSf = full.analyzeTable(spark)
    val statusId = t.schema.idByName("o_orderstatus")
    def ndv(s: graft.meta.StatisticsFile, fid: Int): Long =
      s.blobMetadata.find(_.fields == Seq(fid)).get.properties("ndv").toLong
    assert(ndv(sf, statusId) == ndv(fullSf, statusId)) // tiny → exact
    val keyId = t.schema.idByName("o_orderkey")
    val exactKeys = orders.count() // o_orderkey is unique
    assert(math.abs(ndv(sf, keyId) - exactKeys).toDouble / exactKeys < 0.05)
    // ndvOf reads through ancestry
    assert(t.ndvOf("o_orderstatus").contains(ndv(sf, statusId)))
    assert(t.ndvOf("no_such_col").isEmpty)
    // a delete breaks append-only ancestry → falls back to a full recompute
    // whose key NDV may differ from the incremental union's estimate path
    t.deleteWhere(spark, P.equalTo("o_orderstatus", "F"))
    t.refresh()
    val afterDelete = t.analyzeIncrementally(spark)
    val distinctAfter = t.scan(spark).select("o_orderstatus").distinct().count()
    assert(ndv(afterDelete, statusId) == distinctAfter)
  }

  /** `ndv` and `null-count` of one column's theta blob. */
  private def thetaOf(sf: StatisticsFile, fieldId: Int): (Long, Long) = {
    val b = sf.blobMetadata.find(_.fields == Seq(fieldId)).getOrElse(
      fail(s"no blob for field $fieldId in ${sf.blobMetadata}"))
    (b.properties("ndv").toLong, b.properties("null-count").toLong)
  }

  test("statistics: analyze after renameColumn, with no snapshot since, reads the new name") {
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val t = IceTable.create(catalog, "stat_renamed", SchemaConv.fromSpark(nation.schema))
    t.append(nation.where("n_nationkey < 10"))
    t.analyzeTable(spark)
    t.append(nation.where("n_nationkey >= 10"))
    t.updateSchema().renameColumn("n_name", "name").commit()
    t.refresh()
    val nameId = t.schema.idByName("name")
    // append-only since the analyzed snapshot, same field ids: the
    // incremental path itself scans the new files
    assert(thetaOf(t.analyzeIncrementally(spark), nameId) == ((25L, 0L)))
    assert(thetaOf(t.analyzeTable(spark), nameId) == ((25L, 0L)))
  }

  test("statistics: analyze after addColumn, with no snapshot since, covers the new column") {
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val t = IceTable.create(catalog, "stat_added", SchemaConv.fromSpark(nation.schema))
    t.append(nation.where("n_nationkey < 10"))
    t.analyzeTable(spark)
    t.append(nation.where("n_nationkey >= 10"))
    t.updateSchema().addColumn("extra", IceLong).commit()
    t.refresh()
    val extraId = t.schema.idByName("extra")
    // the column set changed: incremental ANALYZE falls back to a full one
    assert(thetaOf(t.analyzeIncrementally(spark), extraId) == ((0L, 25L)))
    assert(thetaOf(t.analyzeTable(spark), extraId) == ((0L, 25L)))
  }

  test("statistics: token-moment blobs drive jaccard plan choice without a corpus scan") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val t = IceTable.create(catalog, "stat_tok", SchemaConv.fromSpark(docs.schema))
    t.append(docs)
    t.refresh()
    val spec = TokenMomentSpec("text", graft.ops.Dedup.wordSet, groupBy = Some("source"))
    val sf = t.analyzeTable(spark, Seq(spec))
    // stats file carries BOTH blob kinds; NDV reads are undisturbed
    assert(sf.blobMetadata.exists(_.blobType == IceTable.ThetaBlobType))
    val tok = sf.blobMetadata.filter(_.blobType == IceTable.TokenMomentsBlobType)
    assert(tok.size == 1 && tok.head.fields == Seq(t.schema.idByName("text")))
    assert(t.ndvOf("doc_id").contains(docs.count()))
    // persisted Σ C(df,2) equals the directly-computed sum
    val exact = docs
      .select(col("source"), explode(graft.ops.Dedup.wordSet(col("text"))).as("tok"))
      .groupBy("tok", "source").agg(count(lit(1)).as("df"))
      .agg(sum(col("df") * (col("df") - 1) / 2.0)).first().getDouble(0)
    assert(t.tokenJoinedRowsOf("text").contains(exact))
    assert(t.tokenJoinedRowsOf("source").isEmpty)
    // the table-backed plan returns the same exact pairs as the raw-dir plan
    val fromTable = graft.ops.Dedup.jaccardPairsForTable(spark, t, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fromDir = graft.ops.Dedup.jaccardPairs(spark, sfDir, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromTable == fromDir && fromTable.nonEmpty)
    // incremental analyze after an append recomputes theta blobs only (token
    // moments are not union-able) — and must not be confused by the token blob
    t.append(docs.limit(1))
    t.refresh()
    val inc = t.analyzeIncrementally(spark)
    assert(inc.blobMetadata.exists(_.blobType == IceTable.ThetaBlobType))
    assert(!inc.blobMetadata.exists(_.blobType == IceTable.TokenMomentsBlobType))
  }

  test("statistics: token-moment hint growth-scales and expires past the staleness bound") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val t = IceTable.create(catalog, "stat_tok_stale", SchemaConv.fromSpark(docs.schema))
    t.append(docs)
    t.refresh()
    val spec = TokenMomentSpec("text", graft.ops.Dedup.wordSet, groupBy = Some("source"))
    t.analyzeTable(spark, Seq(spec))
    val base = t.tokenJoinedRowsOf("text").get
    // doubling the rows quadruples the hint: Σ C(df,2) scales quadratically
    t.append(docs)
    t.refresh()
    assert(t.tokenJoinedRowsOf("text").contains(4.0 * base))
    // past TokenStatsMaxGrowth the extrapolation expires → caller samples
    (1 to 7).foreach { _ => t.append(docs) }
    t.refresh()
    assert(t.tokenJoinedRowsOf("text").isEmpty)
  }

  test("statistics: IVF codebook persists as a Puffin blob and survives re-ANALYZE") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val t = IceTable.create(catalog, "stat_ivf", SchemaConv.fromSpark(emb.schema))
    t.append(emb)
    t.refresh()
    assert(t.ivfCodebookOf("embedding").isEmpty)
    // first table-backed invocation fits AND persists the codebook
    val first = graft.ops.Similarity.ivfTopKForTable(spark, t, 3, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(first.nonEmpty)
    val stored = t.ivfCodebookOf("embedding")
    assert(stored.exists(_.nonEmpty))
    // byte-codec round-trip is exact
    import graft.functions.IvfCodebook
    val centers = stored.get
    assert(IvfCodebook.deserialize(IvfCodebook.serialize(centers),
      centers(0).length).map(_.toSeq).toSeq == centers.map(_.toSeq).toSeq)
    // second invocation loads the stored codebook → identical results
    val second = graft.ops.Similarity.ivfTopKForTable(spark, t, 3, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(second == first)
    // ANALYZE rewrites the snapshot's stats file; the codebook is carried
    t.analyzeTable(spark)
    assert(t.ndvOf("vec_id").nonEmpty)
    assert(t.ivfCodebookOf("embedding").exists(
      _.map(_.toSeq).toSeq == centers.map(_.toSeq).toSeq))
  }

  test("statistics: analyze of a snapshot with no live data files records zero stats") {
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    val t = IceTable.create(catalog, "stat_empty", SchemaConv.fromSpark(region.schema))
    t.append(region)
    t.refresh()
    // delete every row: current snapshot exists but plans zero data files,
    // so the sketch pass sees an empty zero-partition RDD
    t.deleteWhere(spark, P.gtEq("r_regionkey", 0L))
    t.refresh()
    assert(t.scan(spark).count() == 0)
    val sf = t.analyzeTable(spark)
    assert(sf.blobMetadata.nonEmpty)
    assert(sf.blobMetadata.forall(_.properties("ndv").toLong == 0L))
    assert(sf.blobMetadata.forall(_.properties("null-count").toLong == 0L))
  }

  test("statistics: partition stats file rolls up manifest entries per partition") {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val schema = SchemaConv.fromSpark(orders.schema)
    val spec = PartitionSpec.of(0, ("o_orderstatus", IdentityTransform, "status"))(schema)
    val t = IceTable.create(catalog, "pstat_t", schema, spec)
    t.append(orders)
    t.refresh()
    val pf = t.writePartitionStatistics(spark)
    assert(pf.snapshotId == t.currentSnapshot.get.snapshotId)
    val stats = spark.read.parquet(pf.statisticsPath)
    val expected = orders.groupBy("o_orderstatus").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = stats.collect().map(r =>
      r.getAs[String]("partition") -> r.getAs[Long]("data_record_count")).toMap
    assert(got == expected)
    assert(stats.columns.contains("position_delete_record_count"))
    // reload round-trips the partition-statistics metadata entry
    assert(IceTable.load(catalog, "pstat_t").metadata.partitionStatistics == Seq(pf))
  }

  test("overwriteWhere: full-match files dropped, partial files rewritten") {
    val t = IceTable.create(catalog, "li_overwrite",
      SchemaConv.fromSpark(lineitem.schema))
    // one file per returnflag → 'R' is a full-match file for the filter
    Seq("A", "N", "R").foreach(f =>
      t.append(lineitem.where(s"l_returnflag = '$f'").coalesce(1)))
    t.append(lineitem.limit(0).coalesce(1)) // empty append exercises 0-file commit
    val replacement = lineitem.where("l_returnflag = 'A'").limit(100)
      .withColumn("l_returnflag", org.apache.spark.sql.functions.lit("R"))
    val snap = t.overwriteWhere(spark, P.equalTo("l_returnflag", "R"), replacement)
    assert(snap.summary("operation") == "overwrite")
    assert(t.scan(spark, P.equalTo("l_returnflag", "R")).count() == 100)
    assert(t.scan(spark, P.equalTo("l_returnflag", "A")).count() ==
      lineitem.where("l_returnflag = 'A'").count())
  }

  test("strict metrics evaluator: file-drop decisions") {
    val t = IceTable.load(catalog, "li_compact")
    val schema = t.schema
    val tasks = t.newScan().planFiles()
    val f = tasks.head.file
    // every row satisfies a tautology over a stats-covered column — but on
    // a DOUBLE column the claim needs NaN-freedom proof the file lacks
    // (parquet bounds exclude NaN; NaN counts are opt-in), so the strict
    // evaluator must refuse it while still refuting the non-tautology
    val lo = Bounds.decode(IceDouble, f.lowerBounds(schema.idByName("l_quantity")))
    val bound = P.bind(P.gtEq("l_quantity", lo), schema)
    assert(!Evaluators.fileMustMatch(bound, f),
      "float claim without NaN proof must be refused")
    assert(Evaluators.fileMustMatch(bound,
      f.copy(nanValueCounts = Map(schema.idByName("l_quantity") -> 0L))),
      "a recorded zero NaN count makes the tautology provable")
    // an integral column carries no NaN hazard: the tautology holds as-is
    val loKey = Bounds.decode(IceLong, f.lowerBounds(schema.idByName("l_orderkey")))
    assert(Evaluators.fileMustMatch(
      P.bind(P.gtEq("l_orderkey", loKey), schema), f))
    val boundNo = P.bind(P.gt("l_quantity", 100.0), schema)
    assert(!Evaluators.fileMustMatch(boundNo, f))
    val boundNull = P.bind(P.isNull("l_comment_missing_ok"),
      IceSchema(0, schema.fields :+ NestedField(99, "l_comment_missing_ok", IceString)))
    assert(!Evaluators.fileMustMatch(boundNull, f))
  }

  test("merge-append packs manifests past the threshold") {
    val t = IceTable.create(catalog, "li_merge",
      SchemaConv.fromSpark(lineitem.schema),
      properties = Map(
        "commit.manifest-merge.enabled" -> "true",
        "commit.manifest.min-count-to-merge" -> "3"))
    t.append(lineitem.where("l_linenumber = 1").coalesce(1))
    t.append(lineitem.where("l_linenumber = 2").coalesce(1))
    assert(t.manifestsDF(spark).count() == 2)
    t.append(lineitem.where("l_linenumber >= 3").coalesce(1))
    // third commit crossed the threshold → one merged manifest
    assert(t.manifestsDF(spark).count() == 1)
    assert(t.scan(spark).count() == lineitem.count())
    // merged entries kept their sequence numbers → time travel intact
    val snaps = t.metadata.snapshots.sortBy(_.sequenceNumber)
    assert(t.newScan(snapshotId = Some(snaps.head.snapshotId)).toDF(spark).count() ==
      lineitem.where("l_linenumber = 1").count())
  }

  test("sort-order write tightens per-file bounds") {
    val schema = SchemaConv.fromSpark(lineitem.schema)
    val okId = schema.idByName("l_orderkey")
    val order = SortOrder(1, Seq(SortField(okId, IdentityTransform)))
    val t = IceTable.create(catalog, "li_sorted", schema, sortOrder = order)
    // repartition to many tasks first so the sort has something to do
    t.append(lineitem.repartition(4))
    val files = t.newScan().planFiles().map(_.file)
    // sorted-within-partitions files: bounds are narrow, so an orderkey
    // point-lookup prunes to at most half the files
    val target = lineitem.select("l_orderkey").first().getLong(0)
    val planned = t.newScan(P.equalTo("l_orderkey", target)).planFiles()
    assert(planned.size <= math.max(1, files.size / 2 + 1))
  }

  test("transaction: staged appends + property changes land in one commit") {
    val t = IceTable.create(catalog, "li_txn", SchemaConv.fromSpark(lineitem.schema))
    val versionsBefore = catalog.currentVersion("li_txn")
    t.newTransaction()
      .append(lineitem.where("l_linenumber = 1"))
      .append(lineitem.where("l_linenumber = 2"))
      .setProperties(Map("owner" -> "graft", "commit.manifest.min-count-to-merge" -> "50"))
      .commit()
    assert(t.scan(spark).count() == lineitem.where("l_linenumber <= 2").count())
    assert(t.metadata.properties("owner") == "graft")
    // both appends + props = ONE snapshot, one metadata version
    assert(t.metadata.snapshots.size == 1)
    assert(catalog.currentVersion("li_txn") == versionsBefore + 1)
    val txn2 = t.newTransaction().removeProperties("owner")
    txn2.commit()
    assert(!t.metadata.properties.contains("owner"))
  }

  test("metadata delete-after-commit prunes old versions") {
    val t = IceTable.create(catalog, "li_meta_gc",
      SchemaConv.fromSpark(lineitem.schema),
      properties = Map(
        "write.metadata.delete-after-commit.enabled" -> "true",
        "write.metadata.previous-versions-max" -> "2"))
    (1 to 4).foreach(_ => t.append(lineitem.limit(10)))
    val metaDir = java.nio.file.Paths.get(
      t.location.stripPrefix("file:"), "metadata")
    def versions = java.nio.file.Files.list(metaDir).toArray.map(_.toString)
      .filter(_.endsWith(".metadata.json")).sorted
    assert(versions.length <= 3, versions.mkString(", "))
    assert(t.scan(spark).count() == 40)
    // expiry is a metadata commit like any other: it prunes too
    t.expireSnapshots(System.currentTimeMillis() + 1000, retainLast = 1)
    assert(t.metadata.snapshots.size == 1)
    assert(versions.length <= 3, versions.mkString(", "))
  }

  test("views: versioned SQL metadata + execution") {
    val views = new ViewCatalog(catalog.warehouse)
    spark.read.parquet(s"$sfDir/nation.parquet").createOrReplaceTempView("nation_src")
    views.createOrReplace("asia_nations",
      "SELECT n_nationkey, n_name FROM nation_src WHERE n_regionkey = 2")
    val v2 = views.createOrReplace("asia_nations",
      "SELECT n_nationkey, n_name, n_regionkey FROM nation_src WHERE n_regionkey = 2")
    assert(v2.versionId == 2)
    assert(views.load("asia_nations").size == 2)
    val df = views.run(spark, "asia_nations")
    assert(df.columns.length == 3)
    assert(df.count() ==
      spark.sql("SELECT 1 FROM nation_src WHERE n_regionkey = 2").count())
  }

  test("CLI verbs: list/describe/files/snapshots run against a real table") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) {
      graft.cli.Main.main(Array(catalog.warehouse, "list"))
      graft.cli.Main.main(Array(catalog.warehouse, "describe", "li_compact"))
      graft.cli.Main.main(Array(catalog.warehouse, "files", "li_compact"))
      graft.cli.Main.main(Array(catalog.warehouse, "snapshots", "li_compact"))
      graft.cli.Main.main(Array(catalog.warehouse, "uuid", "li_compact"))
    }
    val s = out.toString
    assert(s.contains("li_compact") && s.contains("uuid:") && s.contains("rows"))
    assert(s.contains("replace")) // snapshot log shows the compaction
  }

  test("theta sketch distinguishes pre-epoch fractional timestamps from their positive mirror") {
    val ss = spark
    import ss.implicits._
    // -0.5s vs +0.5s: truncation-toward-zero in the java.sql.Timestamp
    // branch mapped BOTH to +500000us (NDV 1) and diverged from the
    // java.time.Instant branch used when java8API is enabled
    val df = Seq(
      java.sql.Timestamp.from(java.time.Instant.ofEpochMilli(-500L)),
      java.sql.Timestamp.from(java.time.Instant.ofEpochMilli(500L)))
      .toDF("ts")
    val (stats, rows) = ThetaStats.sketchColumns(df)
    assert(rows == 2L)
    assert(stats.head.ndv == 2L)
  }
}
