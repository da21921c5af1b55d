package graftbench

import scala.collection.parallel.CollectionConverters._

import graft.core.{Bounds, IceLong, IceSchema, IdentityTransform, IcePredicate, NestedField, Predicates => P}
import graft.meta.{DataFile, FileCatalog, ManifestEntry, ManifestEntryStatus, ManifestFile, ManifestIO, PartitionField, PartitionSpec}
import graft.table.IceTable

/** `plan_scale`: metadata only. One synthetic partitioned v3 table, built
  * through the distributed-snapshot protocol, holds more data-file entries
  * than the manifest cache's 1,000,000-entry budget, spread over more
  * manifests than the executor-planning threshold (64):
  *
  *   snapshot 1: `Manifests` × `Entries` data files; file g has partition
  *               p = g % `Stripes` (every manifest spans every p, so no
  *               manifest-list pruning) and ids [100g, 100g + 99];
  *   snapshot 2: position deletes for files with g % 97 == 0 and deletion
  *               vectors for files with g % 89 == 5, in `DeleteManifests`
  *               partitioned delete manifests;
  *   snapshot 3: `Recent` manifests of `Entries` files, each manifest one
  *               partition p = `Stripes` + r (prunable at the manifest list).
  *
  * One operation is one `IceScan.planFiles` call; a round runs the four
  * scan kinds in seeded order with seeded parameters: partition equality,
  * id range (file stats), recent partition, and time travel to snapshot 1.
  * No data file exists; nothing but metadata is read.
  */
object PlanScale {
  val Manifests = 1024
  val Entries = 1024
  val Stripes = 100
  val DeleteManifests = 16
  val Recent = 4
  val RangeFiles = 2000
  val Name = "planscale"
  val DataFiles: Long = (Manifests + Recent).toLong * Entries

  def posDeleted(g: Long): Boolean = g % 97 == 0
  def dvDeleted(g: Long): Boolean = g % 89 == 5
  def part(g: Long): Long =
    if (g < Manifests.toLong * Entries) g % Stripes
    else Stripes + (g - Manifests.toLong * Entries) / Entries

  val schema = IceSchema(0, Seq(
    NestedField(1, "id", IceLong, required = true),
    NestedField(2, "p", IceLong, required = true)))
  val spec = PartitionSpec(0, Seq(PartitionField(2, 1000, "p", IdentityTransform)))

  private def path(loc: String, g: Long) = f"$loc/data/p=${part(g)}/f$g%09d.parquet"

  private def dataFile(loc: String, g: Long) = DataFile(content = 0,
    filePath = path(loc, g), fileFormat = "PARQUET", partition = Seq(part(g)),
    recordCount = 100L, fileSizeInBytes = 1L << 20,
    lowerBounds = Map(1 -> Bounds.encode(IceLong, g * 100)),
    upperBounds = Map(1 -> Bounds.encode(IceLong, g * 100 + 99)))

  private def deleteFile(loc: String, g: Long, dv: Boolean) = {
    val target = path(loc, g)
    if (dv) DataFile(content = 1, filePath = f"$loc/data/dv-$g%09d.puffin",
      fileFormat = "PUFFIN", partition = Seq(part(g)), recordCount = 1L,
      fileSizeInBytes = 64L, referencedDataFile = Some(target),
      contentOffset = Some(4L), contentSizeInBytes = Some(40L))
    else {
      val b = target.getBytes("UTF-8")
      DataFile(content = 1, filePath = f"$loc/data/pos-$g%09d.parquet",
        fileFormat = "PARQUET", partition = Seq(part(g)), recordCount = 1L,
        fileSizeInBytes = 512L, lowerBounds = Map(PathFieldId -> b),
        upperBounds = Map(PathFieldId -> b))
    }
  }
  private val PathFieldId = 2147483546

  /** Commits `n` groups of files as one snapshot, one manifest per group,
    * each built and written by a parallel worker as distributed writers
    * would.
    */
  private def commit(t: IceTable, n: Int, content: Int)(group: Int => Seq[DataFile]): Long = {
    val ds = t.beginDistributedSnapshot()
    val manifests: Seq[ManifestFile] = (0 until n).par.map { i =>
      ManifestIO.writeManifest(f"${t.location}/metadata/${ds.commitUuid}-m$i%05d.avro",
        group(i).map(ManifestEntry(ManifestEntryStatus.Added, ds.snapshotId, None, None, _)),
        t.spec, schema, formatVersion = 3, content = content)
    }.seq
    t.commitDistributedSnapshot(ds, manifests).snapshotId
  }

  /** Builds the table in a fresh warehouse; returns it and snapshot 1. */
  def synthesize(wh: String): (IceTable, Long) = {
    val t = IceTable.create(new FileCatalog(wh), Name, schema, spec,
      properties = Map("format-version" -> "3"))
    val loc = t.location
    val base = Manifests.toLong * Entries
    val s1 = commit(t, Manifests, content = 0)(m =>
      (0 until Entries).map(i => dataFile(loc, m.toLong * Entries + i)))
    t.refresh()
    val span = base / DeleteManifests
    commit(t, DeleteManifests, content = 1)(d =>
      (d * span until (d + 1) * span).filter(g => posDeleted(g) || dvDeleted(g))
        .map(g => deleteFile(loc, g, dv = !posDeleted(g))))
    t.refresh()
    commit(t, Recent, content = 0)(r =>
      (0 until Entries).map(i => dataFile(loc, base + r.toLong * Entries + i)))
    (t.refresh(), s1)
  }

  /** What a plan must return: task count, tasks carrying a position delete,
    * tasks carrying a deletion vector — from the layout alone.
    */
  final case class Expect(tasks: Long, pos: Long, dv: Long)
  def expect(files: Iterator[Long], deletes: Boolean): Expect = {
    var n, pos, dv = 0L
    files.foreach { g =>
      n += 1
      if (deletes && g < Manifests.toLong * Entries) {
        if (posDeleted(g)) pos += 1 else if (dvDeleted(g)) dv += 1
      }
    }
    Expect(n, pos, dv)
  }

  final case class Scan(kind: String, filter: IcePredicate, snapshot: Option[Long],
      want: Expect)

  def run(ctx: Ctx): Outcome = {
    // one set-up only: building 10^6 entries is most of the run's budget
    val t0 = System.nanoTime()
    val (table, snap1) = synthesize(ctx.work.resolve("wh").toString)
    val setupSec = Seq((System.nanoTime() - t0) / 1e9)
    val all = 0L until DataFiles
    def scans(): Seq[Scan] = ctx.rng.shuffle(Seq(
      { val p = ctx.rng.nextInt(Stripes).toLong
        Scan("partition", P.equalTo("p", p), None,
          expect(all.iterator.filter(part(_) == p), deletes = true)) },
      { val g0 = ctx.rng.nextInt(Manifests * Entries - RangeFiles - 1).toLong
        Scan("range", P.and(P.gtEq("id", g0 * 100 + 50), P.lt("id", (g0 + RangeFiles) * 100 + 50)),
          None, expect((g0 to g0 + RangeFiles).iterator, deletes = true)) },
      { val p = Stripes + ctx.rng.nextInt(Recent).toLong
        Scan("recent", P.equalTo("p", p), None,
          expect(all.iterator.filter(part(_) == p), deletes = true)) },
      { val p = ctx.rng.nextInt(Stripes).toLong
        Scan("time_travel", P.equalTo("p", p), Some(snap1),
          expect(all.iterator.filter(g => g < Manifests.toLong * Entries && part(g) == p),
            deletes = false)) }))

    val log = new OpLog(ctx)
    val tasks = scala.collection.mutable.ArrayBuffer.empty[Double]
    def round(): Unit = scans().foreach { s =>
      log.op(s.kind, s"plan ${s.kind}") {
        val scan = table.newScan(filter = s.filter, snapshotId = s.snapshot)
        ctx.call("table", "plan_files")(scan.planFiles())
      } { planned =>
        val got = Expect(planned.size.toLong, planned.count(_.deletes.nonEmpty).toLong,
          planned.count(_.dvDeletes.nonEmpty).toLong)
        Check(got == s.want, s"${s.kind}: planned $got, layout implies ${s.want}")
        if (log.timed) tasks += planned.size
      }
    }
    round() // warm-up (JIT), untimed
    val (h0, m0) = ManifestIO.manifestCacheStats
    var rounds = 0
    val sec = ctx.measure(log) {
      val t0 = System.nanoTime()
      while (rounds < 3 || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
        round(); rounds += 1
      }
    }
    val (h1, m1) = ManifestIO.manifestCacheStats
    val plans = log.latencyMs.size.toDouble
    val ms = log.latencyMs.toSeq
    Outcome(setupSec, log, sec, Seq(
      ("plan_p50_ms", Stats.median(ms), "ms"),
      ("plan_p90_ms", Stats.quantile(ms, 0.9), "ms")),
      Map(
        "table.plan_tasks" -> Stats.mean(tasks.toSeq),
        "table.plan_keep_ratio" -> Stats.mean(tasks.toSeq) / DataFiles,
        "meta.manifest_cache_hit_ratio" -> Layers.hitRatio(h1 - h0, m1 - m0),
        "meta.manifest_cache_misses" -> (m1 - m0) / plans))
  }
}
