package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import org.apache.spark.sql.functions.lit

import graft.meta.ManifestIO
import graft.table.IceTable

/** Streaming surface (reference §2.9: append-stream ingest +
  * incremental snapshot consumption).
  *
  * Ingest is Structured Streaming's micro-batch model composed with the
  * table's transactional append: each micro-batch commits one snapshot
  * (exactly-once per batch via the checkpoint + idempotent CAS commit).
  * The read side exposes "changes since snapshot S" by planning only
  * manifests with a later sequence number — no data rewrite, no full scan.
  */
object Ingest {

  /** Snapshots on MAIN's ancestry — the current head walking
    * `parentSnapshotId` to the root. `meta.snapshots` also holds snapshots
    * that were never published to main: a WAP branch stage
    * ([[graft.table.IceTable.appendToBranch]]) and retained post-rollback
    * heads both land there without moving `main`, and either can carry the
    * table's highest sequence number. Incremental reads and changelogs
    * must resolve their `until` bound and their in-range set against THIS
    * chain, or a CDC consumer sees phantom 'I' rows for data main never
    * published (ADVICE r12).
    */
  private[streaming] def mainAncestry(
      meta: graft.meta.TableMetadata): Seq[graft.meta.Snapshot] = {
    @annotation.tailrec
    def walk(id: Option[Long], acc: List[graft.meta.Snapshot]): List[graft.meta.Snapshot] =
      id.flatMap(meta.snapshotById) match {
        case Some(s) => walk(s.parentSnapshotId, s :: acc)
        case None => acc
      }
    walk(meta.currentSnapshotId, Nil) // root-first; order is not relied on
  }

  /** Snapshot-summary keys carrying the streaming epoch (and the query's
    * checkpoint + checkpoint-lifetime query id, which together scope the
    * guard) that produced an appendStream commit — the replay guard below
    * keys on them.
    */
  val StreamBatchIdKey = "graft.streaming.batch-id"
  val StreamCheckpointKey = "graft.streaming.checkpoint"
  val StreamQueryIdKey = "graft.streaming.query-id"

  /** The streaming query's checkpoint-lifetime identity, read from the
    * checkpoint's `metadata` file (Spark writes `{"id":"<uuid>"}` there at
    * query start and PRESERVES it across restarts of the same checkpoint;
    * a deleted-and-recreated checkpoint directory gets a fresh id). That is
    * exactly the lifetime the replay guard must scope to: batch ids are
    * monotone within one checkpoint lifetime and restart at 0 when the
    * directory is recreated, so epochs stamped under the OLD id must never
    * suppress the new lifetime's batches — keying on the path alone
    * silently discarded every batch after a routine checkpoint reset.
    */
  /** Checkpoint-metadata FS reads performed by [[checkpointQueryId]] —
    * observable so ReplayGuardSpec can pin the once-per-sink-lifetime
    * caching contract (the id is immutable for the checkpoint's lifetime,
    * so re-reading the file every micro-batch is one wasted FS round-trip
    * per trigger — on object storage, a metered GET per trigger).
    */
  private[streaming] val queryIdReads = new java.util.concurrent.atomic.AtomicLong(0)

  private[streaming] def checkpointQueryId(
      spark: SparkSession, checkpoint: String): String = {
    queryIdReads.incrementAndGet()
    val p = new org.apache.hadoop.fs.Path(checkpoint, "metadata")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try {
      val txt = new String(
        org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt).map(_.group(1))
        .getOrElse(throw new IllegalStateException(
          s"checkpoint metadata $p carries no query id"))
    } finally in.close()
  }

  /** foreachBatch append: every micro-batch becomes one table snapshot.
    *
    * Replay guard: foreachBatch is AT-LEAST-ONCE — a crash after the table
    * commit but before the streaming checkpoint commits the epoch makes
    * Spark re-execute the same batchId on restart, and a bare append would
    * commit its rows twice (the CAS makes one commit atomic, not a replay
    * idempotent). Each commit stamps its epoch in the snapshot summary,
    * scoped to (checkpoint path, checkpoint-lifetime query id); a batchId
    * AT the newest stamp under the same scope is skipped as already
    * committed. A batchId BELOW it is impossible within one checkpoint
    * lifetime (Spark replays at most the last unacknowledged batch), so
    * that case fails loudly instead of guessing — a tampered or partially
    * restored checkpoint must not silently drop or duplicate data.
    */
  def appendStream(stream: DataFrame, table: IceTable, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // resolved lazily at the FIRST micro-batch (the metadata file exists by
    // then) and cached for the sink's lifetime: the id is immutable for the
    // checkpoint's lifetime by construction, so one FS read suffices —
    // re-reading per trigger was a metered GET per micro-batch on object
    // storage. A restart builds a fresh sink (fresh memo) and re-reads once.
    val qidMemo = new java.util.concurrent.atomic.AtomicReference[String]()
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          table.refresh()
          // scoped to THIS checkpoint lifetime: a different query's epochs
          // (fresh checkpoint, batch ids restarting at 0) must never
          // suppress a legitimate new append — and neither may THIS
          // checkpoint path's previous lifetime after a delete-and-recreate
          // (the query id changes with the directory)
          val qid = Option(qidMemo.get).getOrElse {
            val v = checkpointQueryId(batch.sparkSession, checkpoint)
            qidMemo.set(v); v
          }
          val stamped = mainAncestry(table.metadata)
            .filter(_.summary.get(StreamCheckpointKey).contains(checkpoint))
          // Pre-guard stamps carry no query id. They participate ONLY while
          // no qid-stamped commit exists for this checkpoint: on the first
          // post-upgrade run against the same live checkpoint they still
          // guard the replayed tail batch, but once any commit carries a
          // qid the legacy epochs retire — otherwise a routine checkpoint
          // delete-and-recreate after the upgrade would compare batch 0
          // against the OLD lifetime's max forever (permanently wedged).
          val anyQidStamped = stamped.exists(_.summary.contains(StreamQueryIdKey))
          val scoped =
            if (anyQidStamped)
              stamped.filter(_.summary.get(StreamQueryIdKey).contains(qid))
            else stamped
          val lastCommitted = scoped
            .flatMap(_.summary.get(StreamBatchIdKey)).flatMap(_.toLongOption)
            .maxOption
          if (lastCommitted.exists(batchId < _))
            throw new IllegalStateException(
              s"streaming batch $batchId is below the last committed epoch " +
                s"${lastCommitted.get} for checkpoint $checkpoint (query $qid): " +
                "the checkpoint state does not match the table's commit " +
                "history — refusing to guess between replay and data loss. " +
                "If this checkpoint was deleted and recreated against a " +
                "table whose stream stamps predate query-id scoping, point " +
                "the query at a fresh checkpoint path (or expire the " +
                "stamped snapshots) and restart.")
          if (lastCommitted.forall(batchId > _)) {
            table.append(batch, extraSummary = Map(
              StreamBatchIdKey -> batchId.toString,
              StreamCheckpointKey -> checkpoint,
              StreamQueryIdKey -> qid))
            ()
          }
        }
      }
      .start()
  }

  /** Rows appended after `sinceSnapshotId` (exclusive) — the reference's
    * incremental APPEND scan semantics. Three guards keep this exact:
    * entries must have status Added (a merge-append or compaction writes a
    * NEW-sequence manifest full of Existing entries for old rows, which a
    * manifest-level filter alone would re-emit); the entry-level sequence
    * number must be past `sinceSeq`; and the snapshot that added the entry
    * must be an `append` (compaction re-Adds old rows under a `replace`
    * snapshot). Snapshots that logically changed rows (`overwrite`/`delete`)
    * cannot be represented as appends → abort.
    */
  def changesSince(spark: SparkSession, table: IceTable, sinceSnapshotId: Long): DataFrame = {
    val sinceSeq = table.metadata.snapshotById(sinceSnapshotId)
      .map(_.sequenceNumber)
      .getOrElse(throw new IllegalArgumentException(s"no snapshot $sinceSnapshotId"))
    changesBetween(spark, table, sinceSeq, Long.MaxValue)
  }

  /** Rows appended by snapshots with sequence number in (sinceSeq, untilSeq]
    * — the offset-range form consumed by the streaming source, planned
    * against the manifest list of the snapshot AT `untilSeq` so a batch is
    * stable even when later commits land mid-read.
    *
    * `sinceSeq <= 0` means "from before the first snapshot" (a fresh
    * consumer, streaming offset None): that batch is a FULL REPLAY — the
    * complete `until` snapshot through the normal scan — not a manifest
    * diff. A diff would lose compacted history: a `replace` snapshot
    * rewrites prior appends into files it marks Existing / owns itself, so
    * the Added-by-an-append filter below can never reconstruct the table
    * from sequence 0. For the same reason a `replace` INSIDE a genuine
    * incremental range aborts like overwrite/delete: rows appended after
    * `sinceSeq` and then compacted vanish from the until-snapshot's
    * manifest list, so the diff cannot be represented as pure appends.
    */
  def changesBetween(spark: SparkSession, table: IceTable,
      sinceSeq: Long, untilSeq: Long): DataFrame = {
    val meta = table.metadata
    val ancestry = mainAncestry(meta)
    val ancestryIds = ancestry.map(_.snapshotId).toSet
    val until = ancestry.filter(_.sequenceNumber <= untilSeq)
      .maxByOption(_.sequenceNumber)
      .getOrElse(return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), table.schema.toSpark))
    if (sinceSeq <= 0L)
      return table.newScan(snapshotId = Some(until.snapshotId)).toDF(spark)
    val opOf: Map[Long, String] =
      meta.snapshots.map(s => s.snapshotId -> s.summary.getOrElse("operation", "append")).toMap
    val rowChanging = ancestry.filter(s => s.sequenceNumber > sinceSeq &&
      s.sequenceNumber <= until.sequenceNumber &&
      Set("overwrite", "delete", "replace").contains(opOf(s.snapshotId)))
    if (rowChanging.nonEmpty)
      throw new IllegalStateException(
        s"cannot read incrementally across row-changing snapshots: " +
          rowChanging.map(s => s"${s.snapshotId}(${opOf(s.snapshotId)})").mkString(", "))
    // entries in the until manifest list were all committed on its lineage;
    // the ancestry guard is belt-and-braces (expired committers — absent
    // from meta.snapshots — stay included, exactly as the opOf guard below)
    // select by ENTRY-level sequence, not Added status: a merge-append
    // commit inside the range (commit.manifest-merge.enabled) rewrites
    // prior snapshots' Added entries to Existing in the merged manifest,
    // but each entry keeps its original sequenceNumber and snapshotId
    // (mergeManifestsIfEnabled writes them explicitly), so an in-range
    // append survives the rewrite as an Existing entry with in-range seq
    val newFiles = ManifestIO.readManifestList(until.manifestList)
      .filter(m => m.content == 0 && m.sequenceNumber > sinceSeq)
      .flatMap { m =>
        ManifestIO.readManifest(m.path, meta.specs, table.schema)._2
          .filter { e =>
            val seq = e.sequenceNumber.getOrElse(m.sequenceNumber)
            e.status != graft.meta.ManifestEntryStatus.Deleted &&
              seq > sinceSeq && seq <= until.sequenceNumber &&
              opOf.get(e.snapshotId).forall(_ == "append") &&
              (ancestryIds.contains(e.snapshotId) ||
                meta.snapshotById(e.snapshotId).isEmpty)
          }
          .map(_.dataFile)
      }
    table.readAdded(spark, newFiles)
  }

  /** CDC changelog from `sinceSnapshotId` (exclusive) to the current head:
    * every row logically inserted (`change_type = 'I'`) or deleted (`'D'`)
    * in the range, stamped with the committing snapshot's sequence number
    * (`change_seq`). See [[changelogBetween]] for the contract.
    */
  def changelogSince(spark: SparkSession, table: IceTable,
      sinceSnapshotId: Long): DataFrame = {
    val sinceSeq = table.metadata.snapshotById(sinceSnapshotId)
      .map(_.sequenceNumber)
      .getOrElse(throw new IllegalArgumentException(s"no snapshot $sinceSnapshotId"))
    changelogBetween(spark, table, sinceSeq, Long.MaxValue)
  }

  /** CDC changelog over (sinceSeq, untilSeq]: appends surface as 'I' rows
    * (same manifest diff as [[changesBetween]]); every `delete` snapshot —
    * parquet position deletes, v3 deletion vectors, equality deletes and
    * whole-file drops — surfaces as 'D' rows
    * ([[graft.table.IceTable.removedRows]]). A row is emitted at most once,
    * at its first deletion: a delete snapshot's D rows are the rows live at
    * its parent and dead at the snapshot, so a position two overlapping
    * predicates both record, or one killed before `sinceSeq`, is not
    * emitted again. Every row reads through the scan's per-file resolution
    * with the deletes applied in the scan task, and building the frame
    * submits no Spark job. The D-side cost is proportional to the files
    * whose deletes the snapshot changed, never the table.
    *
    * Aborts (like the incremental read) on `overwrite` — an upsert's
    * equality deletes and its new rows share one snapshot, which records no
    * pre-image to pair with them — and on `replace`: compaction inside the
    * range re-homes earlier appends, making the append diff
    * unreconstructable. A delete snapshot whose parent has expired fails
    * too, naming both. A compaction AFTER `untilSeq` is fine as long as
    * the superseded files haven't been expired + orphan-cleaned yet; a
    * changelog consumer reads promptly or pins a branch ref.
    */
  def changelogBetween(spark: SparkSession, table: IceTable,
      sinceSeq: Long, untilSeq: Long): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType}
    val meta = table.metadata
    def empty = spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      table.schema.toSpark.add("change_type", StringType).add("change_seq", LongType))
    val ancestry = mainAncestry(meta)
    val ancestryIds = ancestry.map(_.snapshotId).toSet
    val until = ancestry.filter(_.sequenceNumber <= untilSeq)
      .maxByOption(_.sequenceNumber).getOrElse(return empty)
    require(sinceSeq > 0,
      "changelog needs a concrete start snapshot — use changesBetween for initial replay")
    val opOf: Map[Long, String] =
      meta.snapshots.map(s => s.snapshotId -> s.summary.getOrElse("operation", "append")).toMap
    val inRange = ancestry.filter(s =>
      s.sequenceNumber > sinceSeq && s.sequenceNumber <= until.sequenceNumber)
    val bad = inRange.filter(s => Set("overwrite", "replace").contains(opOf(s.snapshotId)))
    if (bad.nonEmpty)
      throw new IllegalStateException("changelog cannot represent: " +
        bad.map(s => s"${s.snapshotId}(${opOf(s.snapshotId)})").mkString(", "))
    // inserts: the until-snapshot's manifest diff, grouped by commit seq.
    // Entry-level seq selection (not Added status) so appends merged away
    // by an in-range merge-append commit — demoted to Existing but keeping
    // their original seq/snapshotId — still surface as 'I' rows
    val inserts = ManifestIO.readManifestList(until.manifestList)
      .filter(m => m.content == 0 && m.sequenceNumber > sinceSeq)
      .flatMap { m =>
        ManifestIO.readManifest(m.path, meta.specs, table.schema)._2
          .filter { e =>
            val seq = e.sequenceNumber.getOrElse(m.sequenceNumber)
            e.status != graft.meta.ManifestEntryStatus.Deleted &&
              seq > sinceSeq && seq <= until.sequenceNumber &&
              opOf.get(e.snapshotId).forall(_ == "append") &&
              (ancestryIds.contains(e.snapshotId) ||
                meta.snapshotById(e.snapshotId).isEmpty)
          }
          .map(e => (e.sequenceNumber.getOrElse(m.sequenceNumber), e.dataFile))
      }
      .groupMap(_._1)(_._2).toSeq.sortBy(_._1)
      .map { case (seq, files) => ("I", seq, table.readAdded(spark, files)) }
    val deletes = inRange.filter(s => opOf(s.snapshotId) == "delete")
      .sortBy(_.sequenceNumber)
      .map(s => ("D", s.sequenceNumber, table.removedRows(spark, s.snapshotId)))
    (inserts ++ deletes).map { case (kind, seq, rows) =>
      rows.withColumn("change_type", lit(kind)).withColumn("change_seq", lit(seq))
    }.reduceOption(_.unionByName(_)).getOrElse(empty)
  }
}
