package graftbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{BucketTransform, Predicates => P, SchemaConv}
import graft.meta.{Catalog, FileCatalog, ManifestIO, PartitionSpec}
import graft.table.IceTable

/** `ingest_mor`: a closed loop of one client writing seeded `l_orderkey`
  * ranges of sf0.1 lineitem into a `bucket(8, l_orderkey)` table and
  * reading each write back. A cycle is four operations:
  *
  *   append (new keys) → upsert (equality deletes over existing keys) →
  *   deleteWhere (position deletes) → fresh load + filtered scan + count
  *   (the filter is on `l_discount`, so every read covers the whole table)
  *
  * Every `MaintainEvery`-th cycle is followed by `compactSmallFiles` and
  * `expireSnapshots`, timed on their own and kept out of the operation
  * percentiles. A round is `CyclesPerRound` cycles on a fresh table, so
  * delete debt builds the same way in every round; after each round a fresh
  * load of the whole table must equal a DataFrame model of the round's
  * operations built on the source parquet.
  */
object IngestMor {
  val KeySpace = 150000 // sf0.1 l_orderkey ∈ [0, 150000)
  val Slot = 1500 // keys per appended batch (~6k rows)
  val BaseSlots = 1 // slots loaded by the round's set-up
  val CyclesPerRound = 4
  val MaintainEvery = 2
  val UpsertKeys = 400
  val DeleteKeys = 60
  val Name = "lineitem_mor"
  val Keys = Seq("l_orderkey", "l_linenumber")

  /** The fresh read's residual filter: `l_discount < ReadDiscount` keeps
    * about half of every order's lines, so a read scans the whole table
    * with all its delete files, whichever keys the seed loaded.
    */
  val ReadDiscount = 0.05

  /** Per-orderkey model state of one round: live, and the cycle of the
    * latest upsert (0 = as loaded). Upserts add the cycle to `l_quantity`.
    * `lines` holds each order's line count and its lines the fresh read's
    * filter keeps.
    */
  final class Model(lines: Map[Long, (Int, Int)]) {
    val version = mutable.Map.empty[Long, Int]
    def load(lo: Long, hi: Long): Unit =
      (lo until hi).foreach(k => if (lines.contains(k)) version(k) = 0)
    def upsert(lo: Long, hi: Long, cycle: Int): Unit =
      (lo until hi).foreach(k => if (lines.contains(k)) version(k) = cycle)
    def delete(lo: Long, hi: Long): Unit = (lo until hi).foreach(version.remove)
    def rows: Long = version.keysIterator.map(lines(_)._1.toLong).sum
    /** Live rows the fresh read's filter keeps. */
    def readRows: Long = version.keysIterator.map(lines(_)._2.toLong).sum
    /** Source rows in [lo, hi), live or not. */
    def sourceRows(lo: Long, hi: Long): Long =
      (lo until hi).iterator.map(k => lines.get(k).fold(0L)(_._1.toLong)).sum
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val source = spark.read.parquet(s"${ctx.data}/lineitem.parquet")
    val schema = SchemaConv.fromSpark(source.schema)
    val spec = PartitionSpec.of(0, ("l_orderkey", BucketTransform(8), "ok_bucket"))(schema)
    val lines: Map[Long, (Int, Int)] = source.groupBy("l_orderkey")
      .agg(count(lit(1)), count(when(col("l_discount") < ReadDiscount, 1)))
      .as[(Long, Long, Long)].collect().map { case (k, n, r) => k -> (n.toInt, r.toInt) }.toMap
    require(lines.keys.max < KeySpace, "sf0.1 lineitem keys exceed the key space")

    def range(lo: Long, hi: Long): DataFrame =
      source.where(col("l_orderkey") >= lo && col("l_orderkey") < hi)
    def rangePred(lo: Long, hi: Long) =
      P.and(P.gtEq("l_orderkey", lo), P.lt("l_orderkey", hi))
    val readPred = P.lt("l_discount", ReadDiscount)
    def upserted(lo: Long, hi: Long, cycle: Int): DataFrame =
      range(lo, hi).withColumn("l_quantity", col("l_quantity") + cycle.toDouble)

    val log = new OpLog(ctx)
    var round = 0
    val setupSec = mutable.ArrayBuffer.empty[Double]
    var rowsIngested = 0L
    val storedPerRow = mutable.ArrayBuffer.empty[Double]
    // layer levels, sampled at every fresh read
    val deleteFilesLive = mutable.ArrayBuffer.empty[Double]
    val manifestsLive = mutable.ArrayBuffer.empty[Double]
    var dataBytes, metaBytes = 0L
    var casCalls, casConflicts = 0L

    /** Fresh table, catalog and storage walk for one round. */
    final class Round(cycles: Int) {
      round += 1
      val wh = ctx.work.resolve(s"wh-$round").toString
      val catalog: Catalog =
        if (ctx.tracer.enabled) new TimedCatalog(new FileCatalog(wh), ctx)
        else new FileCatalog(wh)
      val model = new Model(lines)
      // seeded slot order: base load first, then one new slot per cycle
      val slots = ctx.rng.shuffle((0 until KeySpace / Slot).toList).take(BaseSlots + cycles)
      val t0 = System.nanoTime()
      val table = IceTable.create(catalog, Name, schema, spec)
      slots.take(BaseSlots).foreach { s =>
        table.append(range(s * Slot.toLong, (s + 1) * Slot.toLong))
        model.load(s * Slot.toLong, (s + 1) * Slot.toLong)
      }
      setupSec += (System.nanoTime() - t0) / 1e9
      val walk = new StorageWalk(table.location)
      val loaded = mutable.ArrayBuffer.from(slots.take(BaseSlots))

      def subRange(n: Int): (Long, Long) = {
        val s = loaded(ctx.rng.nextInt(loaded.size))
        val lo = s * Slot.toLong + ctx.rng.nextInt(Slot - n)
        (lo, lo + n)
      }

      def cycle(c: Int): Unit = {
        val s = slots(BaseSlots + c - 1)
        val (alo, ahi) = (s * Slot.toLong, (s + 1) * Slot.toLong)
        loaded += s
        val (ulo, uhi) = subRange(UpsertKeys)
        val (dlo, dhi) = subRange(DeleteKeys)
        log.op("append", s"append $c") {
          val batch = ctx.call("ops", "build")(range(alo, ahi))
          ctx.call("table", "append")(table.append(batch))
        } { _ =>
          model.load(alo, ahi)
          if (log.timed) rowsIngested += model.sourceRows(alo, ahi)
        }
        log.op("upsert", s"upsert $c") {
          val rows = ctx.call("ops", "build")(upserted(ulo, uhi, c))
          ctx.call("table", "upsert")(table.upsert(spark, rows, Keys))
        } { _ =>
          model.upsert(ulo, uhi, c)
          if (log.timed) rowsIngested += model.sourceRows(ulo, uhi)
        }
        log.op("delete", s"delete $c") {
          ctx.call("table", "delete")(table.deleteWhere(spark, rangePred(dlo, dhi)))
        } { _ => model.delete(dlo, dhi) }
        log.op("read", s"read $c") {
          val fresh = ctx.call("table", "load")(IceTable.load(catalog, Name))
          val df = ctx.call("table", "scan_build")(fresh.scan(spark, readPred))
          (fresh, ctx.call("spark", "action")(df.count()))
        } { case (fresh, n) =>
          Check(n == model.readRows, s"fresh read saw $n rows, model has ${model.readRows}")
          if (log.timed) {
            val summary = fresh.currentSnapshot.map(_.summary).getOrElse(Map.empty)
            deleteFilesLive += summary.getOrElse("total-delete-files", "0").toDouble
            manifestsLive += fresh.currentSnapshot.map(s =>
              ManifestIO.readManifestList(s.manifestList).size).getOrElse(0).toDouble
          }
        }
        if (ctx.tracer.enabled) log.untimed(walk.update())
        if (c % MaintainEvery == 0) maintain()
      }

      def maintain(): Unit =
        log.op("maintenance", "maintenance", pooled = false) {
          ctx.call("table", "compact")(table.compactSmallFiles(spark, 32L << 20))
          ctx.call("table", "expire")(
            table.expireSnapshots(System.currentTimeMillis(), retainLast = 1))
        }(_ => ())

      /** Fresh load of the whole table equals the model, by row count and
        * order-independent hash.
        */
      def verify(): Unit =
        log.verify(s"round $round check") {
          val got = QueryMix.fingerprint(IceTable.load(catalog, Name).scan(spark)
            .select(source.columns.map(col).toSeq: _*)).collect().head
          val versions = model.version.toSeq.toDF("l_orderkey", "v")
          val want = QueryMix.fingerprint(source.join(broadcast(versions), "l_orderkey")
            .withColumn("l_quantity", col("l_quantity") + col("v").cast("double"))
            .select(source.columns.map(col).toSeq: _*)).collect().head
          (got, want)
        } { case (got, want) =>
          Check(got == want, s"table $got, model $want")
        }

      def finish(): Unit = {
        verify()
        if (log.timed) log.untimed {
          walk.update()
          storedPerRow += walk.storedBytes.toDouble / model.rows
          dataBytes += walk.dataBytes
          metaBytes += walk.metaBytes
        }
        catalog match {
          case t: TimedCatalog if log.timed =>
            casCalls += t.casCalls; casConflicts += t.casConflicts
          case _ =>
        }
      }
    }

    // set-up runs once more than the measured round needs, so its time is
    // a median of three; the warm-up round (JIT) runs two untimed cycles,
    // the second followed by a maintenance pass
    new Round(0)
    locally { val r = new Round(MaintainEvery); (1 to MaintainEvery).foreach(r.cycle) }

    var cycles = 0
    val (h0, m0) = ManifestIO.manifestCacheStats
    val sec = ctx.measure(log) {
      val t0 = System.nanoTime()
      while (cycles == 0 || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
        val r = new Round(CyclesPerRound)
        (1 to CyclesPerRound).foreach(r.cycle)
        r.finish()
        cycles += CyclesPerRound
      }
    }
    val (h1, m1) = ManifestIO.manifestCacheStats
    // bytes written per byte of user data, the user data sized as the
    // source parquet stores it
    val sourceBytesPerRow = {
      val f = new java.io.File(s"${ctx.data}/lineitem.parquet")
      f.length.toDouble / lines.values.map(_._1.toLong).sum
    }
    val written = (dataBytes + metaBytes).toDouble
    val ops = log.latencyMs.size.toDouble
    def kind(k: String*) = k.flatMap(log.byKind.getOrElse(_, Nil))
    val commitMs = kind("append", "upsert", "delete")
    Outcome(setupSec.toSeq, log, sec, Seq(
      ("commit_p50_ms", Stats.median(commitMs), "ms"),
      ("commit_p90_ms", Stats.quantile(commitMs, 0.9), "ms"),
      ("ingest_rows_per_s", rowsIngested / (sec - log.untimedSec), "1/s"),
      ("fresh_read_p50_ms", Stats.median(kind("read")), "ms"),
      ("fresh_read_p90_ms", Stats.quantile(kind("read"), 0.9), "ms"),
      ("maintenance_s", Stats.median(kind("maintenance")) / 1000, "s"),
      ("stored_bytes_per_row", Stats.median(storedPerRow.toSeq), "B")),
      Map(
        "table.delete_files_live" -> Stats.mean(deleteFilesLive.toSeq),
        "table.manifests_live" -> Stats.mean(manifestsLive.toSeq),
        "meta.cas_calls" -> casCalls.toDouble / ops,
        "meta.cas_conflicts" -> casConflicts.toDouble / ops,
        "storage.data_bytes_written" -> dataBytes.toDouble / ops,
        "storage.meta_bytes_written" -> metaBytes.toDouble / ops,
        "storage.write_amp" -> written / (rowsIngested * sourceBytesPerRow),
        "meta.manifest_cache_hit_ratio" -> Layers.hitRatio(h1 - h0, m1 - m0),
        "meta.manifest_cache_misses" -> (m1 - m0) / ops))
  }
}
