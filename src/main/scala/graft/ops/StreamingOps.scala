package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, Trigger}

/** Structured-Streaming operators registered in the correctness gate: the
  * query fn runs a REAL streaming job (file source → watermark → windowed
  * aggregation → memory sink) to completion and returns the sink table, so
  * the DuckDB oracle checks the streaming semantics against batch SQL.
  */
object StreamingOps {

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

  /** Schema-adaptive `ts` normalization for streamed events, mirroring
    * `QueryDef.t`: a LongType `ts` is legacy nanos-as-long needing the ns→µs
    * conversion; a TIMESTAMP_NTZ `ts` (current µs testdata) casts to
    * session-tz TIMESTAMP (lossless — all entry points run UTC).
    */
  private def tsAsTimestamp(dt: DataType): Column = dt match {
    case LongType => expr("timestamp_micros(ts div 1000)")
    case TimestampNTZType => col("ts").cast(TimestampType)
    case _ => col("ts")
  }

  /** `ts` as epoch-µs long, whatever unit the staged files carry. */
  private def tsAsMicros(dt: DataType): Column = dt match {
    case LongType => expr("ts div 1000")
    case _ => expr("unix_micros(cast(ts as timestamp))")
  }

  /** A session CLONE sized for a streaming job's state width. The state
    * layout is fixed at the checkpoint's first run from the live value of
    * `spark.sql.shuffle.partitions`, and every op here creates a fresh
    * checkpoint per invocation — so the width is sized to the job (a few
    * state stores, not the batch session's 32; at test batch sizes
    * state-commit overhead scales with store count, and a real deployment
    * sizes this once per long-lived query). Setting it on a CLONE instead
    * of set/restore on the caller's session means a concurrent batch query
    * on the shared session can never observe the streaming width
    * (VERDICT r12 "What's wrong" #2). The clone shares the SparkContext
    * and catalog; only its SQL conf diverges, and it is discarded with the
    * query.
    */
  private def streamSession(spark: SparkSession, parts: Int = 2): SparkSession = {
    graft.GraftSession.ensurePrepared(spark) // nanos-as-long + field-id reads
    val s2 = org.apache.spark.sql.graftshim.GraftShim.cloneSession(spark)
    s2.conf.set("spark.sql.shuffle.partitions", parts.toString)
    s2
  }

  /** One-symlink staging dir for the streaming file source (it monitors a
    * DIRECTORY; the symlink avoids a data copy), registered for
    * shutdown-hook cleanup so repeated invocations don't leak inodes.
    */
  private def stagedSymlinkDir(prefix: String, file: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(d.toFile): Unit))
    val src = java.nio.file.Paths.get(file)
    if (java.nio.file.Files.isDirectory(src)) {
      // a directory-shaped table (multi-file parquet write): link each data
      // file flat into the staging dir — the streaming file source lists one
      // level and would silently skip a symlinked SUBDIRECTORY, starting a
      // stream over zero files
      // collect-then-SORT by source name: Files.list order is unspecified,
      // and the staged part-NNNNN names decide micro-batch composition —
      // unsorted linking makes the stream's batch boundaries (and any
      // replay) differ across runs and filesystems
      val it = java.nio.file.Files.list(src)
      val data =
        try {
          val b = Vector.newBuilder[java.nio.file.Path]
          val files = it.iterator()
          while (files.hasNext) {
            val p = files.next()
            val n = p.getFileName.toString
            if (n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))
              b += p
          }
          b.result().sortBy(_.getFileName.toString)
        } finally it.close()
      require(data.nonEmpty, s"no parquet data files under directory $file")
      data.zipWithIndex.foreach { case (p, i) =>
        java.nio.file.Files.createSymbolicLink(d.resolve(f"part-$i%05d.parquet"), p)
      }
    } else
      java.nio.file.Files.createSymbolicLink(d.resolve("events.parquet"), src)
    d
  }

  /** Shared foreachBatch equality-delete upsert sink: one temp warehouse,
    * lazy table creation off the first batch's schema, and a per-batch
    * [[graft.table.IceTable.upsertCounted]] + refresh.
    *
    * ONE job per trigger (r22): the counted upsert's single write job
    * executes the stateful micro-batch plan exactly once and reports the
    * written row count from its own footer stats, so the former staging
    * pass — persist + count + size-derived coalesce, needed when upsert
    * ran TWO write jobs (pre-r18) — is gone, along with its extra job
    * submission and cache churn per trigger. Empty batches (the
    * AvailableNow watermark-finalization trigger) write nothing and skip
    * the commit inside upsertCounted. Sink output files per trigger now
    * equal the micro-batch's partition count (the stream session's state
    * width) instead of the old coalesce(1) — changed-keys-sized files
    * either way, and DataWriter still rolls volume-sized batches by the
    * table's byte target.
    */
  private final class UpsertSink(prefix: String, tableName: String,
      keys: Seq[String]) {
    import graft.meta.FileCatalog
    import graft.table.IceTable
    private val wh = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(wh.toFile): Unit))
    private val catalog = new FileCatalog(wh.toString)
    private var sink: IceTable = null
    def onBatch(batch: DataFrame): Unit = {
      if (sink == null)
        sink = IceTable.create(catalog, tableName,
          graft.core.SchemaConv.fromSpark(batch.schema))
      val n = timedInto(sinkUpsertNanos)(
        sink.upsertCounted(batch.sparkSession, batch, keys))
      if (n > 0) {
        sinkBatches.incrementAndGet()
        timedInto(sinkUpsertNanos)(sink.refresh())
      }
    }
    def table(what: String): IceTable = {
      require(sink != null, s"$what delivered no batches — empty source dir?")
      sink
    }
  }

  /** Sink-cost telemetry for the streaming scale probes: wall nanos the
    * foreachBatch sinks spend in the counted upsert (whose single write
    * job executes the stateful micro-batch plan AND commits: manifests,
    * manifest list, metadata CAS) plus refresh. `sinkStageNanos` is kept
    * for probe-output compatibility but reads 0 since r22 removed the
    * separate persist+count staging pass. Attribution data, not control
    * flow — reset by the probe, never read by queries.
    */
  private[ops] val sinkStageNanos = new java.util.concurrent.atomic.AtomicLong
  private[ops] val sinkUpsertNanos = new java.util.concurrent.atomic.AtomicLong
  private[ops] val sinkBatches = new java.util.concurrent.atomic.AtomicLong
  private[ops] def resetSinkTelemetry(): Unit = {
    sinkStageNanos.set(0L); sinkUpsertNanos.set(0L); sinkBatches.set(0L)
  }
  private[ops] def timedInto[A](acc: java.util.concurrent.atomic.AtomicLong)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally acc.addAndGet(System.nanoTime() - t0)
  }

  /** Await a bounded streaming run, STOPPING the query on timeout — a bare
    * `require(q.awaitTermination(ms))` aborts the caller but leaks the
    * still-running stream (file polling, state stores, foreachBatch
    * commits) into the shared long-lived session.
    */
  private def awaitOrStop(q: org.apache.spark.sql.streaming.StreamingQuery,
      timeoutMs: Long, what: String): Unit =
    if (!q.awaitTermination(timeoutMs)) {
      q.stop()
      throw new IllegalStateException(s"$what did not finish in ${timeoutMs / 1000}s")
    }

  /** Hourly tumbling-window event counts computed by a streaming job with a
    * 1-hour watermark.
    *
    * DEPLOYMENT SHAPE (r12, same as [[streamedDedupExact]]): UPDATE output
    * mode into a `foreachBatch` equality-delete upsert on an
    * [[graft.table.IceTable]] keyed by (hour, event_type). Update mode emits
    * only the windows a batch actually touched, and the watermark evicts
    * finalized windows from the state store — so both the per-trigger output
    * and the state are window-count-sized, never history-sized. The previous
    * complete-mode memory sink re-emitted EVERY window ever seen into the
    * driver each trigger: bounded by hours×event_types rather than by the
    * corpus, but still a shape that grows forever under continuous ingest.
    * Cross-batch state continuity is pinned by `stream_dedup_exact` /
    * `ice_stream_source`; this query's AvailableNow run over the single
    * staged file arrives as one batch, which a 1-hour watermark then cannot
    * clip (late data across batches is the one semantic complete mode hides
    * — a deployment re-ordering files must stage them timestamp-ordered, as
    * [[sessionStatsStream]] documents).
    */
  def streamedHourlyCounts(spark: SparkSession, dir: String): DataFrame = {
    import graft.meta.FileCatalog
    import graft.table.IceTable
    val s2 = streamSession(spark)
    val raw = spark.read.parquet(s"$dir/events.parquet") // batch read for the schema
    val srcDir = stagedSymlinkDir("stream-events", s"$dir/events.parquet")
    val stream = s2.readStream.schema(raw.schema).parquet(srcDir.toString)
      .withColumn("ts", tsAsTimestamp(raw.schema("ts").dataType))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("hour"), col("event_type"), col("n_events"))
    val sink = new UpsertSink("stream-hourly-sink", "hourly_counts",
      Seq("hour", "event_type"))
    // fresh checkpoint per invocation; state width comes from the clone's
    // conf (streamSession) — the caller's session is never touched
    val q = stream.writeStream
      .outputMode("update")
      .foreachBatch((batch: DataFrame, _: Long) => sink.onBatch(batch))
      .trigger(Trigger.AvailableNow())
      .start()
    awaitOrStop(q, 120000, "streaming hourly-count job")
    sink.table("hourly stream").scan(spark)
      .select("hour", "event_type", "n_events")
  }

  /** Trending items: the streaming-materialized-view + serving-query
    * pattern. The STREAM maintains per-(hour, item) counts — update-mode
    * windowed aggregation upserted into an IceTable keyed (hour, k), so
    * per-trigger output is changed-windows-sized and the watermark bounds
    * the state exactly as [[streamedHourlyCounts]]. The SERVING side then
    * ranks the converged table: top-3 items per hour, a
    * hours-cardinality-sized batch query over the materialized counts —
    * never over the raw stream. This is how a 100 TB/day "trending now"
    * surface actually deploys: the corpus-scale work is the incremental
    * count maintenance; ranking reads the compact view.
    */
  def streamedTrendingItems(spark: SparkSession, dir: String): DataFrame = {
    import graft.meta.FileCatalog
    import graft.table.IceTable
    val s2 = streamSession(spark)
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val srcDir = stagedSymlinkDir("stream-trending", s"$dir/events.parquet")
    val stream = s2.readStream.schema(raw.schema).parquet(srcDir.toString)
      .withColumn("ts", tsAsTimestamp(raw.schema("ts").dataType))
      .withColumn("k", get_json_object(col("props"), "$.k")
        .cast(org.apache.spark.sql.types.LongType))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour"), col("k"), col("n"))
    val sink = new UpsertSink("stream-trending-sink", "trending_counts",
      Seq("hour", "k"))
    val q = stream.writeStream
      .outputMode("update")
      .foreachBatch((batch: DataFrame, _: Long) => sink.onBatch(batch))
      .trigger(Trigger.AvailableNow())
      .start()
    awaitOrStop(q, 120000, "trending stream")
    import org.apache.spark.sql.expressions.Window
    // nulls-LAST on the k tiebreak: props is nullable, and Spark's default
    // asc-nulls-first would rank a null-k group above a non-null tie while
    // the DuckDB oracle's ORDER BY n DESC, k ranks it below
    val byHour = Window.partitionBy("hour")
      .orderBy(col("n").desc, col("k").asc_nulls_last)
    sink.table("trending stream").scan(spark).select("hour", "k", "n")
      .withColumn("rn", row_number().over(byHour)
        .cast(org.apache.spark.sql.types.IntegerType))
      .where(col("rn") <= 3)
  }

  final case class Ev(user_id: Long, ts_us: Long, event_id: Long)
  final case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)
  /** Per-user state carried ACROSS micro-batches: open-session continuity
    * needs the last event timestamp, not just the running count — without it
    * a session spanning a batch boundary double-counts.
    */
  final case class SessState(nSessions: Long, lastTsUs: Long, nEvents: Long)

  /** Gap-based per-user session stats computed by a STATEFUL streaming job:
    * `flatMapGroupsWithState` holds per-user state across micro-batches (the
    * custom-state surface of Structured Streaming). With AvailableNow over
    * one input file all events arrive in a single batch, so the emitted
    * session counts are deterministic and batch-SQL checkable.
    */
  def streamedSessionStats(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.ensurePrepared(spark) // nanos-as-long read conf
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val srcDir = stagedSymlinkDir("stream-sess", s"$dir/events.parquet")
    // unsigned render: math.abs(Int.MinValue) is negative (ADVICE r11)
    sessionStatsStream(spark, srcDir.toString, raw.schema,
      s"stream_sessions_${java.lang.Integer.toUnsignedString(dir.hashCode)}")._1
  }

  /** The sessionization stream over an arbitrary staged source directory.
    * `filesPerTrigger` throttles the file source so a multi-file directory
    * arrives as several micro-batches — the per-user state must then carry
    * open-session continuity across batch boundaries, which is only correct
    * when files arrive in timestamp order (stage them oldest-first).
    * Returns the aggregated result and the number of micro-batches that
    * actually carried rows.
    *
    * Emission shape (r12, same as the other two streaming ops): append
    * mode emits one cumulative row per user TOUCHED in the batch, and a
    * `foreachBatch` equality-delete upsert keyed on user_id retires each
    * user's previous row — the table converges to the final per-user
    * stats, per-trigger output is batch-sized, and nothing corpus-sized
    * ever reaches the driver (the previous memory sink accumulated every
    * batch's emissions and needed a groupBy-max read on top).
    */
  def sessionStatsStream(spark: SparkSession, srcDir: String,
      schema: org.apache.spark.sql.types.StructType, sinkName: String,
      filesPerTrigger: Option[Int] = None): (DataFrame, Int) = {
    val s2 = streamSession(spark)
    import s2.implicits._
    import graft.meta.FileCatalog
    import graft.table.IceTable
    val reader = s2.readStream.schema(schema)
    filesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val typed = reader.parquet(srcDir)
      .select(col("user_id"), tsAsMicros(schema("ts").dataType).as("ts_us"),
        col("event_id"))
      .as[Ev]
    val sessions = typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, UserSessions](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (uid, evs, state) =>
          val sorted = evs.toArray.sortBy(e => (e.ts_us, e.event_id))
          val st0 = state.getOption.getOrElse(SessState(0L, Long.MinValue, 0L))
          var n = st0.nSessions
          var prev = st0.lastTsUs
          sorted.foreach { e =>
            if (prev == Long.MinValue || e.ts_us - prev > 1800000000L) n += 1
            prev = e.ts_us
          }
          val st = SessState(n, prev, st0.nEvents + sorted.length)
          state.update(st)
          // cumulative per batch; the upsert retires the previous row, so
          // the sink holds the latest value per user after the final batch
          Iterator.single(UserSessions(uid, st.nSessions, st.nEvents))
      }
    val sink = new UpsertSink(s"stream-sess-$sinkName", "user_sessions",
      Seq("user_id"))
    val q = sessions.writeStream
      .foreachBatch((batch: org.apache.spark.sql.Dataset[UserSessions], _: Long) =>
        sink.onBatch(batch.toDF()))
      .trigger(Trigger.AvailableNow())
      .start()
    awaitOrStop(q, 120000, "streaming session job")
    val batches = q.recentProgress.count(_.numInputRows > 0)
    (sink.table("session stream").scan(spark)
      .select("user_id", "n_sessions", "n_events"), batches)
  }

  /** Exact content-hash dedup as a STREAMING job — the continuous-ingest
    * form of `dedup_exact`: documents arrive across micro-batches (the file
    * source throttled to one file per trigger over a range-sliced staging
    * of the corpus) and the state store carries each hash's (min doc_id,
    * copies) across batch boundaries.
    *
    * DEPLOYMENT SHAPE (r12): UPDATE output mode into a `foreachBatch`
    * equality-delete UPSERT on an [[graft.table.IceTable]] keyed by the
    * content hash. Update mode emits only the hashes whose state CHANGED in
    * the batch — per-trigger output is batch-sized, never state-sized —
    * and the upsert retires each emitted hash's previous row, so the table
    * converges to exactly the final families. The previous complete-mode
    * memory sink re-materialized the ENTIRE corpus-sized state on the
    * driver every trigger — fine at sf0.1, a driver-side collect per
    * micro-batch at 100 TB. Returns the sink-table scan plus the per-batch
    * emitted-row counts (the spec pins emitted == that batch's distinct
    * hashes, the non-vacuous form of "changed keys only"). At scale the
    * staging dir is the table itself ([[graft.streaming.IceTableSource]]
    * delivers snapshots as batches) and the state store is RocksDB-backed.
    */
  // staging is fixture setup (a deployment's stream reads the table, not a
  // per-query re-staging) — pay the slice-and-write once per corpus CONTENT
  // (keyed by the source file's mtime+size, so a regenerated testdata file
  // re-stages instead of serving stale slices)
  private val dedupStaging =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Documents staged as 3 doc_id-ranged files so streaming dedup state
    * MUST survive micro-batch boundaries (a single-batch run would prove
    * nothing). Content-keyed like the other stagings.
    *
    * The range files get STRICTLY ASCENDING modification times in range
    * order: Spark's file source admits files oldest-first, but the
    * parallel range write finishes its tasks in arbitrary order, so the
    * natural mtimes guarantee nothing. The replay contract of the LSH
    * consumers — arrivals are doc_id- (hence event-time-) ascending —
    * needs the stamp; without it the windowed variant can see a LATER
    * range before an earlier one, and an out-of-window pair slips in
    * because the old member was never behind the newest arrival.
    */
  private def stagedDocuments(spark: SparkSession, dir: String): String = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val stageKey = contentKey(s"$dir/documents.parquet")
    dedupStaging.computeIfAbsent(stageKey, _ => {
      val d = java.nio.file.Files.createTempDirectory("stream-dedup")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(d.toFile): Unit))
      docs.repartitionByRange(3, col("doc_id"))
        .write.mode("overwrite").parquet(d.toString)
      val parts = d.toFile.listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .sortBy(_.getName)
      val base = System.currentTimeMillis() - 3600000L
      parts.zipWithIndex.foreach { case (f, i) =>
        require(f.setLastModified(base + i * 60000L),
          s"cannot stamp replay order on ${f.getName}")
      }
      d.toString
    })
  }

  def streamedDedupExact(spark: SparkSession, dir: String): (DataFrame, Seq[Long]) = {
    import org.apache.spark.sql.types.BinaryType
    import graft.meta.FileCatalog
    import graft.table.IceTable
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val srcDir = stagedDocuments(spark, dir)
    val stream = streamSession(spark).readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .groupBy(md5(col("text").cast(BinaryType)).as("h"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
    val wh = java.nio.file.Files.createTempDirectory("stream-dedup-sink")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(wh.toFile): Unit))
    val catalog = new FileCatalog(wh.toString)
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    var sink: IceTable = null
    val onBatch: (DataFrame, Long) => Unit = (batch, _) => {
      // one job per trigger (r22, see [[UpsertSink]]): the counted upsert
      // executes the stateful plan once and reports the written rows —
      // exactly the batch's changed hashes, the same number the old
      // persist+count staging measured with an extra job
      if (sink == null)
        sink = IceTable.create(catalog, "dedup_families",
          graft.core.SchemaConv.fromSpark(batch.schema))
      val n = sink.upsertCounted(batch.sparkSession, batch, Seq("h"))
      emitted.synchronized { emitted += n }
      if (n > 0) sink.refresh()
    }
    val q = stream.writeStream
      .outputMode("update")
      .foreachBatch(onBatch)
      .trigger(Trigger.AvailableNow())
      .start()
    awaitOrStop(q, 120000, "streaming dedup job")
    require(sink != null, "dedup stream delivered no batches — empty staging dir?")
    (sink.scan(spark).select("doc_id", "n_copies"), emitted.toSeq)
  }

  /** One LSH-banded document in flight: the stream's per-row shape after
    * the codegen signature + band fold.
    */
  final case class BandDoc(source: String, band: Int, band_hash: Long,
      doc_id: Long, sig: Array[Long])
  final case class NearDupPair(doc_a: Long, doc_b: Long, est_jaccard: Double)
  /** A bucket's accumulated members: (doc_id, signature) pairs. This state
    * IS the near-dup index — it grows with the corpus by design (per-bucket
    * lists stay bucket-sized; RocksDB-backed at scale), exactly like the
    * persisted band table the incremental batch path keeps.
    */
  final case class LshBucket(ids: Seq[Long], sigs: Seq[Array[Long]])

  /** Membership cap per LSH bucket state — the streaming counterpart of
    * [[Dedup.BandBucketCap]]. Without it a mass-duplicate corpus grows one
    * bucket's state unbounded AND makes every arrival scan all n members
    * (Σ n² work on the hot key's single state partition). With the cap, a
    * bucket indexes only its first `StreamBucketCap` members; later
    * arrivals are still VERIFIED against those members (so each of them
    * pairs with up to cap earlier dups — dup DETECTION recall for a
    * mass-dup group stays 100%: every doc beyond the cap still emits
    * pairs against the capped members) but are not inserted, so per-bucket
    * work is ≤ cap per arrival — corpus-linear.
    *
    * Determinism: arrivals are doc_id-ascending by construction
    * (stagedDocuments range-partitions on doc_id and file order follows
    * the range order; within a batch the state fn sorts arrivals), so
    * "first cap members" = "cap smallest doc_ids" and the emitted set is
    * exactly {(a,b): same bucket, a < b, rank(a) ≤ cap, est ≥ 0.5} — the
    * order-free restatement the DuckDB oracle uses
    * ([[Dedup.minhashCandCtesStream]]).
    */
  val StreamBucketCap = 4096

  /** The per-bucket LSH state transition: verify each arrival against all
    * stored members, then index it only while the bucket is under
    * `bucketCap` (see [[StreamBucketCap]] for the cap semantics and the
    * determinism argument). Shared by the production job and the
    * capped/windowed spec drivers.
    */
  private[ops] def lshBucketFn(bucketCap: Int): (
      (String, Int, Long), Iterator[BandDoc],
      org.apache.spark.sql.streaming.GroupState[LshBucket]) => Iterator[NearDupPair] = {
    case (_, docsIt, state) =>
      val arrivals = docsIt.toArray.sortBy(_.doc_id)
      val st = state.getOption.getOrElse(LshBucket(Nil, Nil))
      val members = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Long])]
      members ++= st.ids.zip(st.sigs)
      val out = Seq.newBuilder[NearDupPair]
      arrivals.foreach { a =>
        members.foreach { case (mid, msig) =>
          if (mid != a.doc_id) {
            var agree = 0
            var i = 0
            while (i < msig.length) { if (msig(i) == a.sig(i)) agree += 1; i += 1 }
            val est = agree.toDouble / msig.length
            if (est >= 0.5)
              out += (if (mid < a.doc_id) NearDupPair(mid, a.doc_id, est)
                      else NearDupPair(a.doc_id, mid, est))
          }
        }
        if (members.size < bucketCap && !members.exists(_._1 == a.doc_id))
          members += a.doc_id -> a.sig
      }
      state.update(LshBucket(members.map(_._1).toSeq, members.map(_._2).toSeq))
      out.result().iterator
  }

  /** A banded doc with an event-time stamp — the in-flight shape of the
    * WINDOWED streaming LSH index.
    */
  final case class TsBandDoc(source: String, band: Int, band_hash: Long,
      doc_id: Long, ts_us: Long, sig: Array[Long])
  /** Windowed bucket state: members carry their event time so old ones can
    * be evicted.
    */
  final case class LshBucketW(ids: Seq[Long], tss: Seq[Long],
      sigs: Seq[Array[Long]])

  /** Windowed LSH bucket transition — the eviction knob a production
    * continuous-dedup job runs with: a member is dropped once it is more
    * than `windowUs` older than the newest arrival, so bucket state is
    * bounded by the dup rate within one window (and hard-capped at
    * `bucketCap` like the unwindowed form). The emitted candidate set is
    * the BOUNDED-RECALL window contract, exact by construction: pair
    * (a, b) with ts_a ≤ ts_b surfaces iff ts_b - ts_a ≤ windowUs (and a
    * was retained under the cap) — dups recur within a window; dups
    * farther apart than the window are out of contract. Determinism needs
    * event-time-ordered arrival (the job feeds from an ordered replay or
    * watermarked source; the fn sorts within a batch).
    *
    * Quiescent-bucket GC: eviction above fires only on an arrival in the
    * SAME bucket, so a bucket that stops receiving documents would hold
    * its last window of members forever — across a 100 TB crawl that is
    * unbounded state in the number of distinct band buckets ever touched.
    * The fn therefore arms an event-time timeout at newest-member + window
    * (+1 ms): once the watermark passes it, no non-late future arrival
    * can pair with any member (its event time would exceed every member's
    * by more than the window, so arrival-eviction would drop them all
    * anyway), and the timeout invocation removes the whole bucket. Emitted
    * pairs are provably unchanged — the timeout only deletes state the
    * window contract already made unreachable.
    */
  private[ops] def lshBucketFnWindowed(bucketCap: Int, windowUs: Long): (
      (String, Int, Long), Iterator[TsBandDoc],
      org.apache.spark.sql.streaming.GroupState[LshBucketW]) => Iterator[NearDupPair] = {
    case (_, _, state) if state.hasTimedOut =>
      state.remove()
      Iterator.empty
    case (_, docsIt, state) =>
      val arrivals = docsIt.toArray.sortBy(d => (d.ts_us, d.doc_id))
      val st = state.getOption.getOrElse(LshBucketW(Nil, Nil, Nil))
      var members = st.ids.lazyZip(st.tss).lazyZip(st.sigs)
        .map((i, t, s) => (i, t, s)).toBuffer
      val out = Seq.newBuilder[NearDupPair]
      arrivals.foreach { a =>
        members = members.filter(_._2 >= a.ts_us - windowUs)
        members.foreach { case (mid, _, msig) =>
          if (mid != a.doc_id) {
            var agree = 0
            var i = 0
            while (i < msig.length) { if (msig(i) == a.sig(i)) agree += 1; i += 1 }
            val est = agree.toDouble / msig.length
            if (est >= 0.5)
              out += (if (mid < a.doc_id) NearDupPair(mid, a.doc_id, est)
                      else NearDupPair(a.doc_id, mid, est))
          }
        }
        if (members.size < bucketCap && !members.exists(_._1 == a.doc_id))
          members += ((a.doc_id, a.ts_us, a.sig))
      }
      if (members.isEmpty) state.remove()
      else {
        state.update(LshBucketW(members.map(_._1).toSeq,
          members.map(_._2).toSeq, members.map(_._3).toSeq))
        // arm the quiescent-bucket GC (see scaladoc): ms-truncated +1 so the
        // stamp strictly exceeds newest+window, and arrival event times are
        // never below the watermark (late rows are filtered), so the stamp
        // is always legal.
        state.setTimeoutTimestamp((members.map(_._2).max + windowUs) / 1000L + 1L)
      }
      out.result().iterator
  }

  /** MinHash-LSH near-dup candidate generation as a CONTINUOUS streaming
    * job — the streaming form of `dedup_minhash_lsh`: documents arrive
    * across micro-batches; each is signed by the codegen MinHash
    * expression and banded map-side; per-(source, band, band_hash) bucket
    * state carries every member's (doc_id, signature) across batches, so
    * an arriving document is verified against ALL prior corpus members of
    * its buckets — never just the current batch — and each surviving pair
    * is emitted in the batch its second member arrives.
    *
    * Scale shape: candidates come from bucket-keyed state lookups (the
    * streaming analogue of the batch band self-join — nothing all-pairs),
    * signature verification runs INSIDE the state function against sigs
    * the state already holds (the batch plan pays a join back to the
    * signature table for this), per-trigger output is batch-candidates-
    * sized, and the (doc_a, doc_b)-keyed upsert sink dedupes multi-band
    * rediscoveries idempotently. Determinism: same MD5-derived hashes and
    * integer band fold as batch, so the converged table equals the batch
    * candidate set exactly — the DuckDB oracle restates it.
    */
  def streamedMinhashLsh(spark: SparkSession, dir: String,
      bucketCap: Int = StreamBucketCap): (DataFrame, Seq[Long]) = {
    // r21 A/B note: an 8-partition state width was trialled (the bucket
    // state fn does real per-group compute that serializes on two cores,
    // and a quiet-JVM commit probe showed staging 3.56 → 3.17 s;
    // OPTIMIZATION_r21.md "Streaming LSH: probed, trialled, REVERTED") but
    // REVERTED: in bench-board context two consecutive boards measured the
    // 8-store variant consistently slower than this 2-store shape (state
    // commit + checkpoint overhead per trigger outweighs the parallel
    // state compute at per-trigger batch sizes on a busy session). The
    // default width stands; production sizes state partitions to
    // keys/partition, as the streamSession scaladoc documents.
    val s2 = streamSession(spark)
    import s2.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val srcDir = stagedDocuments(spark, dir)
    val banded = Dedup.bandsOf(
      s2.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir)
        // NOT repartitioned before the signature select: a commit probe
        // (OPTIMIZATION_r21.md "Streaming LSH") A/B'd a per-batch
        // repartition(defaultParallelism) here and it did NOT pay (staging 3.87 s vs 3.56 s baseline) — the extra raw-text
        // exchange per micro-batch costs more than the parallel signature
        // pass saves at per-trigger batch sizes. The win that did pay is
        // the 8-partition state width (see streamSession below).
        .select(col("doc_id"), col("source"),
          Dedup.minhashSig(Dedup.wordSet(col("text"))).as("sig")),
      extra = Seq("sig"))
      .as[BandDoc]
    val pairs = banded
      .groupByKey(d => (d.source, d.band, d.band_hash))
      .flatMapGroupsWithState[LshBucket, NearDupPair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        lshBucketFn(bucketCap))
    nearDupPairSink(spark, pairs)
  }

  /** Replay-clock window for [[streamedMinhashLshWindowed]], in documents:
    * the testdata has no document timestamp, so the replay derives one
    * injectively — ts_us = (doc_id+1) · 60e6, one document per minute — and a
    * window of N documents is a window of N minutes. 200 splits the sf0.01
    * near-dup set meaningfully (pair doc-distances span 20..480 there).
    */
  val StreamWindowDocs = 200

  /** Windowed streaming MinHash-LSH — the BOUNDED-RECALL production
    * contract of [[streamedMinhashLsh]]: each document carries an event
    * time (the [[StreamWindowDocs]] replay clock), and a bucket member is
    * EVICTED once it is more than `windowUs` older than the newest arrival
    * in its bucket ([[lshBucketFnWindowed]]). Bucket state is bounded by
    * the dup rate within one window instead of by the corpus lifetime —
    * what a continuous dedup job over an unbounded crawl actually runs —
    * and the emitted set is exactly the window contract: a pair surfaces
    * iff its docs are within the window of each other (and est ≥ 0.5).
    * The replay clock is monotone in doc_id, so the DuckDB oracle restates
    * window distance as doc_id distance ([[Dedup.minhashCandCtesWindowed]]).
    */
  def streamedMinhashLshWindowed(spark: SparkSession, dir: String,
      bucketCap: Int = StreamBucketCap,
      windowDocs: Int = StreamWindowDocs): (DataFrame, Seq[Long]) = {
    // default state width — same r21 A/B result as [[streamedMinhashLsh]]
    val s2 = streamSession(spark)
    import s2.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val srcDir = stagedDocuments(spark, dir)
    val banded = Dedup.bandsOf(
      s2.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir)
        // NOT repartitioned — same A/B result as [[streamedMinhashLsh]]
        .select(col("doc_id"), col("source"),
          Dedup.minhashSig(Dedup.wordSet(col("text"))).as("sig"),
          // +1: the clock must stay strictly ABOVE the initial watermark
          // (0), or doc 0's row is dropped as late in batch 1
          ((col("doc_id") + lit(1L)) * lit(60000000L)).as("ts_us"))
        .withColumn("ts", timestamp_micros(col("ts_us")))
        // delay 0: the staged replay is strictly event-time ascending
        // (ranged files + stamped mtimes), so nothing is ever late
        .withWatermark("ts", "0 seconds"),
      extra = Seq("sig", "ts_us", "ts"))
      .as[TsBandDoc]
    val pairs = banded
      .groupByKey(d => (d.source, d.band, d.band_hash))
      .flatMapGroupsWithState[LshBucketW, NearDupPair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        lshBucketFnWindowed(bucketCap, windowDocs * 60000000L))
    nearDupPairSink(spark, pairs)
  }

  /** foreachBatch upsert sink shared by the streaming LSH flavors: collapse
    * in-batch multi-band rediscoveries, upsert keyed on the pair for
    * cross-batch idempotence under retries, return the converged Iceberg
    * table plus per-batch emission counts (the spec's state-continuity
    * probe).
    */
  private def nearDupPairSink(spark: SparkSession,
      pairs: org.apache.spark.sql.Dataset[NearDupPair]): (DataFrame, Seq[Long]) = {
    import graft.meta.FileCatalog
    import graft.table.IceTable
    val wh = java.nio.file.Files.createTempDirectory("stream-lsh-sink")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(wh.toFile): Unit))
    val catalog = new FileCatalog(wh.toString)
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    var sink: IceTable = null
    val onBatch: (org.apache.spark.sql.Dataset[NearDupPair], Long) => Unit =
      (batch, _) => {
        // every emission of a pair lands in the SAME batch (the one where
        // its later doc arrives — each doc joins all 16 of its band
        // buckets in its arrival batch), so multi-band rediscoveries are
        // in-batch duplicates: collapse them here (est_jaccard is the
        // same deterministic value on every copy), then upsert keyed on
        // the pair for cross-batch idempotence under retries. One job per
        // trigger (r22, see [[UpsertSink]]): the counted upsert replaces
        // the persist+count staging pass.
        val rows = batch.toDF().dropDuplicates("doc_a", "doc_b")
        if (sink == null)
          sink = IceTable.create(catalog, "neardup_pairs",
            graft.core.SchemaConv.fromSpark(rows.schema))
        sinkBatches.incrementAndGet()
        val n = timedInto(sinkUpsertNanos)(
          sink.upsertCounted(rows.sparkSession, rows, Seq("doc_a", "doc_b")))
        emitted.synchronized { emitted += n }
        if (n > 0) timedInto(sinkUpsertNanos)(sink.refresh())
      }
    val q = pairs.writeStream
      .foreachBatch(onBatch)
      .trigger(Trigger.AvailableNow())
      .start()
    awaitOrStop(q, 180000, "streaming LSH job")
    require(sink != null, "LSH stream delivered no batches — empty staging dir?")
    (sink.scan(spark).select("doc_a", "doc_b", "est_jaccard"), emitted.toSeq)
  }

  final case class AsofEv(user_id: Long, ts_us: Long, event_id: Long,
      is_click: Boolean)
  final case class AsofMatch(purchase_id: Long, user_id: Long, click_id: Long,
      lag_us: Long)
  /** The latest click seen for a user — ALL the state a streaming as-of
    * join carries: one (ts, id) pair per key, bounded by key cardinality,
    * never by stream length.
    */
  final case class ClickState(tsUs: Long, id: Long)

  // staging is fixture setup, content-keyed like dedupStaging: slice the
  // events into 3 strict time-ranged files with ascending mtimes so
  // micro-batches deliver in event-time order — the ordering contract a
  // deployment gets from IceTableSource's snapshot replay
  private val asofStaging =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val rangeStaging =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Content-keyed key for a source file: path + mtime + size. */
  private def contentKey(path: String): String = {
    val a = java.nio.file.Files.readAttributes(
      java.nio.file.Paths.get(path),
      classOf[java.nio.file.attribute.BasicFileAttributes])
    s"$path|${a.lastModifiedTime.toMillis}|${a.size}"
  }

  /** Stage `frame` (must carry a `ts_us` long column) as 3 strict
    * time-tercile files with ascending mtimes under a fresh temp dir —
    * micro-batches then arrive in event-time order. `<=`/`>` boundaries
    * keep same-instant rows in ONE file, so no batch boundary can split a
    * temporal tie. Cached per content key; cleanup via shutdown hook.
    */
  private def stageTimeTerciles(cache: java.util.concurrent.ConcurrentHashMap[String, String],
      key: String, prefix: String, frame: => DataFrame): String =
    cache.computeIfAbsent(key, _ => {
      // one source scan feeds the quantile probe + 3 tercile writes —
      // unpersisted after staging since the staged files are the fixture
      val ev = frame.persist()
      val d = java.nio.file.Files.createTempDirectory(prefix)
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(d.toFile): Unit))
      val Array(b1, b2) = ev.stat.approxQuantile("ts_us", Array(0.34, 0.67), 0.0)
      def stage(df: DataFrame, idx: Int): Unit = {
        val tmp = java.nio.file.Files.createTempDirectory(s"$prefix-part$idx")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = java.nio.file.Files.list(tmp)
          .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
        val target = d.resolve(f"events-$idx%02d.parquet")
        java.nio.file.Files.move(part, target)
        java.nio.file.Files.setLastModifiedTime(target,
          java.nio.file.attribute.FileTime.fromMillis(1000000000L + idx * 60000L))
        org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile): Unit
      }
      stage(ev.where(col("ts_us") <= b1.toLong), 0)
      stage(ev.where(col("ts_us") > b1.toLong && col("ts_us") <= b2.toLong), 1)
      stage(ev.where(col("ts_us") > b2.toLong), 2)
      ev.unpersist(blocking = false)
      d.toString
    })

  /** Stream-to-stream AS-OF join as a STATEFUL streaming job — the
    * continuous form of [[Temporal.asofJoin]]: clicks and purchases arrive
    * interleaved across micro-batches; per-user state carries the latest
    * click (one pair per key) across batch boundaries, and each purchase
    * emits its match EXACTLY ONCE, in the batch it arrives.
    *
    * This is the streaming-enrichment shape a 100 TB deployment runs
    * continuously: state is key-cardinality-sized (RocksDB-backed at
    * scale), per-trigger output is batch-sized, and the table sink
    * converges by purchase-keyed upsert (idempotent under retries).
    * Correctness across batches needs event-time-ordered delivery per key,
    * which the strict time-ranged staging provides here and a table
    * source's snapshot order provides in production.
    */
  def streamedAsofJoin(spark: SparkSession, dir: String): (DataFrame, Seq[Long]) = {
    val s2 = streamSession(spark)
    import s2.implicits._
    import graft.meta.FileCatalog
    import graft.table.IceTable
    val ev = QueryDef.t(spark, dir, "events")
      .where(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), expr("unix_micros(ts)").as("ts_us"),
        col("event_id"), (col("event_type") === "click").as("is_click"))
    val srcDir = stageTimeTerciles(asofStaging,
      contentKey(s"$dir/events.parquet"), "stream-asof", ev)
    val stagedSchema = spark.read
      .parquet(s"$srcDir/events-00.parquet").schema
    val matches = s2.readStream.schema(stagedSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .as[AsofEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ClickState, AsofMatch](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (uid, evs, state) =>
          // within a batch: event-time order, clicks before purchases at
          // the same instant, id-ascending — the batch operator's exact
          // tie rule, so the running state IS the window's running last
          val sorted = evs.toArray
            .sortBy(e => (e.ts_us, if (e.is_click) 0 else 1, e.event_id))
          var st = state.getOption.getOrElse(ClickState(Long.MinValue, Long.MinValue))
          val out = Array.newBuilder[AsofMatch]
          sorted.foreach { e =>
            if (e.is_click) {
              if (e.ts_us > st.tsUs || (e.ts_us == st.tsUs && e.event_id > st.id))
                st = ClickState(e.ts_us, e.event_id)
            } else if (st.id != Long.MinValue) {
              out += AsofMatch(e.event_id, uid, st.id, e.ts_us - st.tsUs)
            }
          }
          state.update(st)
          out.result().iterator
      }
    val wh = java.nio.file.Files.createTempDirectory("stream-asof-sink")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(wh.toFile): Unit))
    val catalog = new FileCatalog(wh.toString)
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    var sink: IceTable = null
    val onBatch: (org.apache.spark.sql.Dataset[AsofMatch], Long) => Unit =
      (batch, _) => {
        // one job per trigger (r22, see [[UpsertSink]])
        val rows = batch.toDF()
        if (sink == null)
          sink = IceTable.create(catalog, "asof_matches",
            graft.core.SchemaConv.fromSpark(rows.schema))
        val n = sink.upsertCounted(rows.sparkSession, rows, Seq("purchase_id"))
        emitted.synchronized { emitted += n }
        if (n > 0) sink.refresh()
      }
    // state-commit overhead dominates at these batch sizes — same
    // store-count trade as the range join (one store per partition here)
    val q = matches.writeStream
      .foreachBatch(onBatch)
      .trigger(Trigger.AvailableNow())
      .start()
    awaitOrStop(q, 120000, "streaming as-of join")
    require(sink != null, "as-of stream delivered no batches — empty staging dir?")
    (sink.scan(spark).select("purchase_id", "user_id", "click_id", "lag_us"),
      emitted.toSeq)
  }

  /** Watermarked STREAM-STREAM range join — Structured Streaming's
    * flagship join: views and purchases arrive as two streams (same staged
    * tercile files, two file-source instances advancing in lock-step), and
    * the time-range condition `v_ts in (p_ts - 1h, p_ts]` joins them with
    * BOTH sides watermarked, so the join state holds only the 1-hour
    * matching horizon behind each watermark and EVICTS everything older —
    * the property that makes an unbounded 100 TB/day stream joinable at
    * all. Returns the matched pairs plus the final state-store row count
    * so the spec can prove eviction actually happened (state ≪ stream).
    *
    * Emission: append-mode pairs, each exactly once (inner join, no late
    * data by the staging's event-time ordering), upserted by
    * (purchase_id, view_id) — idempotent under retries.
    */
  def streamedRangeJoin(spark: SparkSession, dir: String): (DataFrame, Long, Long) = {
    import graft.meta.FileCatalog
    import graft.table.IceTable
    val ev = QueryDef.t(spark, dir, "events")
      .where(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), expr("unix_micros(ts)").as("ts_us"),
        col("event_id"), col("event_type"))
    val srcDir = stageTimeTerciles(rangeStaging,
      contentKey(s"$dir/events.parquet"), "stream-range", ev)
    val stagedSchema = spark.read.parquet(s"$srcDir/events-00.parquet").schema
    // a stream-stream join keeps FOUR state stores per partition (two
    // sides x two index maps), each paying a delta-file commit per
    // micro-batch — at these batch sizes 2 partitions (8 stores) beat 8
    // partitions (32 stores) on pure state-commit overhead. Production
    // sizes this to keys/partition, not store count.
    val s2 = streamSession(spark)
    def src() = s2.readStream.schema(stagedSchema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val views = src().where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        expr("timestamp_micros(ts_us)").as("v_ts"))
      .withWatermark("v_ts", "2 hours")
    val purchases = src().where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        expr("timestamp_micros(ts_us)").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    val joined = purchases.join(views, expr(
      "v_user = p_user AND v_ts > p_ts - INTERVAL 1 HOUR AND v_ts <= p_ts"))
      .select(col("purchase_id"), col("view_id"), col("p_user").as("user_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("lag_us"))
    val wh = java.nio.file.Files.createTempDirectory("stream-range-sink")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(wh.toFile): Unit))
    val catalog = new FileCatalog(wh.toString)
    var sink: IceTable = null
    val onBatch: (DataFrame, Long) => Unit = (batch, _) => {
      // one job per trigger (r22, see [[UpsertSink]]): the counted upsert
      // executes the stream-stream join micro-batch exactly once (its
      // single write job) and skips the commit for the empty
      // watermark-finalization batch AvailableNow appends
      if (sink == null)
        sink = IceTable.create(catalog, "range_matches",
          graft.core.SchemaConv.fromSpark(batch.schema))
      if (sink.upsertCounted(batch.sparkSession, batch,
          Seq("purchase_id", "view_id")) > 0)
        sink.refresh()
    }
    val q = joined.writeStream
      .foreachBatch(onBatch)
      .trigger(Trigger.AvailableNow())
      .start()
    awaitOrStop(q, 120000, "stream-stream range join")
    require(sink != null, "range-join stream delivered no batches — empty staging dir?")
    val progress = q.recentProgress
    val stateRows = progress.lastOption
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
    val streamedRows = progress.map(_.numInputRows).sum
    (sink.scan(spark).select("purchase_id", "view_id", "user_id", "lag_us"),
      stateRows, streamedRows)
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "stream_range_join",
      (s, dir) => streamedRangeJoin(s, dir)._1,
      Some("""
        WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts
                   FROM events WHERE event_type = 'purchase'),
        v AS (SELECT event_id AS view_id, user_id, ts AS v_ts
              FROM events WHERE event_type = 'view')
        SELECT p.purchase_id, v.view_id, p.user_id,
          CAST(epoch_us(p.p_ts) - epoch_us(v.v_ts) AS BIGINT) AS lag_us
        FROM p JOIN v ON v.user_id = p.user_id
          AND v.v_ts > p.p_ts - INTERVAL 1 HOUR AND v.v_ts <= p.p_ts""")),

    QueryDef(
      "stream_asof_join",
      (s, dir) => streamedAsofJoin(s, dir)._1,
      Some("""
        WITH p AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'purchase'),
        c AS (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'click'),
        m AS (SELECT p.event_id AS purchase_id, p.user_id, p.ts AS p_ts,
                max(c.ts) AS c_ts
              FROM p JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
              GROUP BY 1, 2, 3)
        SELECT m.purchase_id, m.user_id, max(c.event_id) AS click_id,
          CAST(epoch_us(m.p_ts) - epoch_us(m.c_ts) AS BIGINT) AS lag_us
        FROM m JOIN c ON c.user_id = m.user_id AND c.ts = m.c_ts
        GROUP BY m.purchase_id, m.user_id, m.p_ts, m.c_ts""")),

    QueryDef(
      "stream_minhash_lsh",
      (s, dir) => streamedMinhashLsh(s, dir)._1,
      Some(s"""
        WITH ${Dedup.minhashCandCtesStream(StreamBucketCap)}
        SELECT doc_a, doc_b, est_jaccard FROM mh_pairs""")),

    QueryDef(
      "stream_lsh_windowed",
      (s, dir) => streamedMinhashLshWindowed(s, dir)._1,
      Some(s"""
        WITH ${Dedup.minhashCandCtesWindowed(StreamWindowDocs)}
        SELECT doc_a, doc_b, est_jaccard FROM mh_pairs""")),

    QueryDef(
      "stream_dedup_exact",
      (s, dir) => streamedDedupExact(s, dir)._1,
      Some("""
        SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_copies
        FROM documents GROUP BY md5(text)""")),

    QueryDef(
      "stream_events_hourly",
      (s, dir) => streamedHourlyCounts(s, dir),
      Some("""
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
          CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2""")),

    QueryDef(
      "stream_trending_items",
      (s, dir) => streamedTrendingItems(s, dir),
      Some("""
        WITH c AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
            CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2)
        SELECT hour, k, n, CAST(rn AS INTEGER) AS rn FROM (
          SELECT hour, k, n, ROW_NUMBER() OVER (PARTITION BY hour
            ORDER BY n DESC, k) AS rn FROM c) z
        WHERE rn <= 3""")),

    QueryDef(
      "stream_sessionize",
      (s, dir) => streamedSessionStats(s, dir),
      Some("""
        SELECT user_id, CAST(COUNT(DISTINCT session_idx) AS BIGINT) AS n_sessions,
          CAST(COUNT(*) AS BIGINT) AS n_events
        FROM (
          SELECT user_id,
            SUM(CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
              THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
          FROM (
            SELECT user_id, event_id, ts,
              lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
            FROM events) t1) t2
        GROUP BY user_id"""))
  )
}
