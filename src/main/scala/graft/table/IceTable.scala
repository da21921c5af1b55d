package graft.table

import java.util.UUID
import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.BoundLiteralExecution
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.core._
import graft.meta._
import graft.table.IceTable.{IvfCodebookBlobType, ThetaBlobType, TokenMomentsBlobType}

/** ANALYZE-time token-moment request: tokenize `column` with `tokenizer`
  * (a Column expression producing array<string>), count document frequency
  * per (token, `groupBy`), persist Σ df / Σ df² — see the token-stats
  * overload of `IceTable.analyzeTable`.
  */
final case class TokenMomentSpec(
    column: String,
    tokenizer: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
    groupBy: Option[String] = None)

/** One file-scan unit: a data file plus the positional-delete files that
  * apply to it (reference `FileScanTask` `table/scanner.go`).
  */
final case class FileScanTask(
    file: DataFile,
    deletes: Seq[DataFile], // positional parquet (content=1)
    eqDeletes: Seq[(DataFile, Long)] = Nil, // equality (content=2) with their data sequence
    dataSeq: Long = 0L,
    dvDeletes: Seq[DataFile] = Nil, // v3 deletion vectors referencing this file
    // v3 row lineage: the _row_id of the file's first row (explicit from
    // the manifest entry, or inherited from the manifest's first_row_id)
    firstRowId: Option[Long] = None,
    // partition spec the file was written under (owning manifest's spec id) —
    // scoped-delete conversion groups by (specId, tuple), not tuple alone
    specId: Int = 0)

/** Distributed snapshot descriptor (reference
  * `table/distributed_snapshot.go:31-76`): the coordinator reserves the
  * snapshot ID, workers write files/manifests against it, the coordinator
  * assembles and CAS-commits.
  */
final case class DistributedSnapshot(
    snapshotId: Long,
    parentSnapshotId: Option[Long],
    commitUuid: String)

/** An Iceberg-style table on Spark: metadata plane ours (JSON + Avro
  * manifests + CAS commits), data plane Spark (Parquet read/write, Catalyst
  * residuals). Reference `table/table.go:49-379`.
  */
final class IceTable private (
    val catalog: Catalog,
    val name: String,
    @volatile private var meta: TableMetadata,
    @volatile private var version: Int) {

  def metadata: TableMetadata = meta
  def schema: IceSchema = meta.currentSchema
  def spec: PartitionSpec = meta.defaultSpec
  def sortOrder: SortOrder = meta.sortOrders.find(_.orderId == meta.defaultSortOrderId)
    .getOrElse(SortOrder.Unsorted)
  def location: String = meta.location
  def currentSnapshot: Option[Snapshot] = meta.currentSnapshot

  /** Write-location strategy (reference `table/table.go:85-87` →
    * `locations.go`): `write.data.path` / `write.metadata.path` overrides
    * and optional object-storage entropy placement. Resolved per call —
    * the properties can change by commit.
    */
  def locationProvider: Locations.LocationProvider =
    Locations.forTable(location, meta.properties)

  /** Provider-routed path for a table-written metadata file (manifests,
    * manifest lists, Puffin stats).
    */
  private def metaPath(fileName: String): String =
    locationProvider.newMetadataLocation(fileName)

  def refresh(): IceTable = synchronized {
    // ONE consistent (version, metadata) read: the old load-then-version
    // pair could observe a commit landing in between, pairing version n+1
    // with metadata of n — the next CAS then committed n+2 built from n,
    // silently erasing n+1 (lost-update race caught by ConcurrencyFuzzSpec)
    val (v, m) = catalog.loadVersioned(name)
    meta = m
    version = v
    this
  }

  /** Requirement-validated optimistic commit (reference
    * `transaction.go:608-635` + `requirements.go`): validate `reqs` against
    * the current metadata, apply the update function, CAS. On a CAS conflict
    * the commit REBASES — refresh, re-validate the requirements against the
    * winner's metadata, re-apply — so changes that don't semantically
    * conflict (schema change over a concurrent append) compose, and ones
    * that do fail with [[RequirementFailedException]] instead of a spurious
    * whole-version race.
    */
  /** Writers record each superseded metadata file in `metadata-log` (table
    * spec; reference metadata builder), trimmed to
    * `write.metadata.previous-versions-max` alongside the files themselves.
    */
  private def withMetadataLog(newMeta: TableMetadata): TableMetadata = {
    val max = meta.properties
      .getOrElse("write.metadata.previous-versions-max", "100").toInt
    val entry = MetadataLogEntry(meta.lastUpdatedMs,
      catalog.metadataLocation(name, version))
    newMeta.copy(metadataLog = (meta.metadataLog :+ entry).takeRight(max))
  }

  /** Every metadata CAS goes through here, so `metadata-log` stays complete
    * and every commit prunes superseded versions (reference
    * `table/table.go:220-232`).
    */
  private def commitMeta(newMeta: TableMetadata): Unit = {
    val logged = withMetadataLog(newMeta)
    version = catalog.commit(name, version, logged)
    meta = logged
    maintainMetadata()
  }

  /** Run a commit, rebasing on a CAS conflict: refresh and re-run `body`, at
    * most 3 more times. `body` rebuilds everything from the refreshed
    * `meta`; staged deltas ride in as its captured arguments, never as
    * pre-mutated metadata, which the reload would silently discard.
    */
  private def retryOnConflict[A](body: => A): A = synchronized {
    def attempt(retries: Int): A =
      try body
      catch {
        case _: CommitConflictException if retries > 0 => refresh(); attempt(retries - 1)
      }
    attempt(3)
  }

  private def commitWithRequirements(reqs: Seq[TableRequirement],
      update: TableMetadata => TableMetadata): Unit = retryOnConflict {
    reqs.flatMap(_.validate(meta)) match {
      case Nil => commitMeta(update(meta))
      case errs => throw new RequirementFailedException(errs.mkString("; "))
    }
  }

  // ------------------------------------------------------------------ scan
  def newScan(
      filter: IcePredicate = AlwaysTrue,
      selected: Option[Seq[String]] = None,
      snapshotId: Option[Long] = None,
      asOfTimestampMs: Option[Long] = None,
      ref: Option[String] = None,
      limit: Option[Int] = None,
      caseSensitive: Boolean = true,
      maxConcurrency: Option[Int] = None,
      withRowId: Boolean = false): IceScan = {
    val timeTravel = snapshotId.isDefined || asOfTimestampMs.isDefined || ref.isDefined
    val snap = snapshotId.map(id => meta.snapshotById(id).getOrElse(
        throw new IllegalArgumentException(s"no snapshot $id")))
      .orElse(ref.map(r => meta.refs.get(r).flatMap(x => meta.snapshotById(x.snapshotId))
        .getOrElse(throw new IllegalArgumentException(s"no ref $r"))))
      .orElse(asOfTimestampMs.map(ts => meta.snapshotAsOf(ts).getOrElse(
        throw new IllegalArgumentException(s"no snapshot as of $ts"))))
      .orElse(meta.currentSnapshot)
    new IceScan(this, snap, filter, selected, limit, caseSensitive, timeTravel,
      maxConcurrency, withRowId)
  }

  // ------------------------------------------------------------------- refs
  /** Tag/branch a snapshot (reference `table/refs.go`): tags are immutable
    * pointers, branches move on commit (only `main` is advanced by commits
    * here). Referenced snapshots survive expiry.
    */
  def createTag(tagName: String, snapshotId: Long): Unit = setRef(tagName, snapshotId, "tag")
  def createBranch(branchName: String, snapshotId: Long): Unit =
    setRef(branchName, snapshotId, "branch")

  def removeRef(refName: String): Unit = {
    require(refName != "main", "cannot remove main")
    commitWithRequirements(Seq(AssertTableUUID(meta.tableUuid)), m =>
      m.copy(refs = m.refs - refName, lastUpdatedMs = System.currentTimeMillis()))
  }

  private def setRef(refName: String, snapshotId: Long, refType: String): Unit =
    commitWithRequirements(Seq(AssertTableUUID(meta.tableUuid)), { m =>
      require(m.snapshotById(snapshotId).isDefined, s"no snapshot $snapshotId")
      m.copy(refs = m.refs + (refName -> SnapshotRef(snapshotId, refType)),
        lastUpdatedMs = System.currentTimeMillis())
    })

  /** Write-audit-publish STAGE step: append `df` as a snapshot committed to
    * `branch` only — `main` (and the table's current snapshot) do not move,
    * so readers keep seeing the pre-stage data until [[fastForwardMain]]
    * publishes the branch. The staged snapshot's parent is the branch head
    * (or main's head when the branch is new), it consumes sequence numbers
    * and v3 row-ids from the same table counters as main commits, and the
    * branch ref keeps it safe from snapshot expiry. Reference semantics:
    * branch refs per `table/refs.go`; the WAP pattern itself is the
    * audit-branch workflow Iceberg documents around `wap.branch`.
    */
  def appendToBranch(df: DataFrame, branch: String): Snapshot = {
    val files = DataWriter.write(df, location, schema, spec, sortOrder,
      meta.properties, avgRowBytesHint = avgRowBytes)
    retryOnConflict {
      val p = newSnapshot()
      p.commit("append", p.manifest(files, spec) +: manifestsOf(headOf(branch)), branch)
    }
  }

  /** Write-audit-publish PUBLISH step: fast-forward `main` to `branch`'s
    * head. Requires main's current head to be an ancestor of the branch
    * head (the fast-forward condition — anything else would silently drop
    * main-only commits; that case needs a [[cherryPick]]). Metadata-only:
    * current pointer, main ref, and a snapshot-log entry; no data or
    * manifest movement.
    */
  def fastForwardMain(branch: String): Unit =
    commitWithRequirements(Seq(AssertTableUUID(meta.tableUuid)), { m =>
      val target = m.refs.getOrElse(branch,
        throw new IllegalArgumentException(s"no branch $branch"))
      require(m.refs.get(branch).forall(_.refType == "branch"),
        s"$branch is not a branch")
      @annotation.tailrec
      def isAncestor(of: Option[Long], anc: Long): Boolean = of match {
        case None => false
        case Some(id) if id == anc => true
        case Some(id) => isAncestor(m.snapshotById(id).flatMap(_.parentSnapshotId), anc)
      }
      m.currentSnapshotId.foreach(head =>
        require(isAncestor(Some(target.snapshotId), head),
          s"main head $head is not an ancestor of $branch head " +
            s"${target.snapshotId} — fast-forward would drop commits"))
      val now = System.currentTimeMillis()
      m.copy(
        currentSnapshotId = Some(target.snapshotId),
        refs = m.refs + ("main" -> advanceRef(m, "main", target.snapshotId)),
        snapshotLog = m.snapshotLog :+ SnapshotLogEntry(now, target.snapshotId),
        lastUpdatedMs = now)
    })

  /** Attach the spec's per-ref retention policy (reference
    * `table/refs.go:40-45`): expiry reads these over its call arguments.
    * `None` keeps a field unset — "retain forever" for `maxRefAgeMs`,
    * "inherit the expire call" for the other two.
    */
  def setRefRetention(refName: String, minSnapshotsToKeep: Option[Int] = None,
      maxSnapshotAgeMs: Option[Long] = None, maxRefAgeMs: Option[Long] = None): Unit =
    commitWithRequirements(Seq(AssertTableUUID(meta.tableUuid)), { m =>
      val ref = m.refs.getOrElse(refName,
        throw new IllegalArgumentException(s"no ref $refName"))
      m.copy(refs = m.refs + (refName -> ref.copy(
          minSnapshotsToKeep = minSnapshotsToKeep,
          maxSnapshotAgeMs = maxSnapshotAgeMs, maxRefAgeMs = maxRefAgeMs)),
        lastUpdatedMs = System.currentTimeMillis())
    })

  /** Convenience: filtered + projected DataFrame of the current snapshot. */
  def scan(spark: SparkSession, filter: IcePredicate = AlwaysTrue,
      selected: Option[Seq[String]] = None): DataFrame =
    newScan(filter, selected).toDF(spark)

  /** The rows `files` hold as the current schema reads them, no delete
    * applied: what an append added, for incremental reads and the
    * changelog's inserts. Same per-file resolution as a scan; building the
    * frame submits no Spark job.
    */
  private[graft] def readAdded(spark: SparkSession, files: Seq[DataFile]): DataFrame =
    newScan().toDFFor(spark, files.map(FileScanTask(_, Nil)))

  /** The rows snapshot `snapshotId` removed: live at its parent and dead at
    * it (Iceberg's `DeletedRowsScanTask` and `DeletedDataFileScanTask`).
    * Both snapshots are planned. The files read are those whose matched
    * deletes changed — position deletes, deletion vectors and equality
    * deletes alike — and those the snapshot dropped. A kept file passes the
    * rows its parent's deletes keep and its own deletes kill; a dropped
    * file passes the rows its parent's deletes keep. The files are read
    * with the current schema through the scan's per-file resolution, both
    * delete filters in the task, and building the frame submits no Spark
    * job. An expired parent fails the call: without its plan, the removed
    * rows cannot be told from rows dead before.
    */
  private[graft] def removedRows(spark: SparkSession, snapshotId: Long): DataFrame = {
    val snap = meta.snapshotById(snapshotId).getOrElse(
      throw new IllegalArgumentException(s"no snapshot $snapshotId"))
    val before = snap.parentSnapshotId.toSeq.flatMap { id =>
      if (meta.snapshotById(id).isEmpty) throw new IllegalStateException(
        s"rows removed by snapshot $snapshotId need its parent snapshot $id, which has expired")
      newScan(snapshotId = Some(id)).planFiles()
    }
    val after = newScan(snapshotId = Some(snapshotId)).planFiles()
      .map(t => t.file.filePath -> t).toMap
    def deletesOf(t: FileScanTask) = (t.deletes.map(_.filePath).toSet,
      t.dvDeletes.map(f => (f.filePath, f.contentOffset)).toSet,
      t.eqDeletes.map(_._1.filePath).toSet)
    val (kept, dropped) = before
      .filter(t => after.get(t.file.filePath).forall(a => deletesOf(a) != deletesOf(t)))
      .partition(t => after.contains(t.file.filePath))
    val was = DeleteFilter(spark, kept ++ dropped, schema)
    val now = DeleteFilter(spark, kept.map(t => after(t.file.filePath)), schema)
    def live(f: Option[DeleteFilter])(key: NestedField => Column): Column =
      f.fold(lit(true))(_.live(key))
    val scan = newScan()
    def read(tasks: Seq[FileScanTask])(keep: (NestedField => Column) => Column) =
      Option.when(tasks.nonEmpty)(
        scan.readTasksProjected(spark, tasks, schema, stampPathPos = false, Some(keep)))
    graft.GraftSession.ensurePrepared(spark)
    Seq(read(kept)(k => live(was)(k) && !live(now)(k)), read(dropped)(live(was)))
      .flatten.reduceOption(_.unionByName(_))
      .getOrElse(spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        schema.toSpark))
  }

  // ---------------------------------------------------------------- append
  /** Fast-append (reference `transaction.go:365-398` +
    * `snapshot_producers.go:61-102`): write data files, one new manifest,
    * carry parent manifests forward, CAS-commit with retry.
    */
  def append(df: DataFrame, extraSummary: Map[String, String] = Map.empty): Snapshot = {
    val files = DataWriter.write(df, location, schema, spec, sortOrder,
      meta.properties, avgRowBytesHint = avgRowBytes)
    retryOnConflict {
      val p = newSnapshot()
      p.commit("append", p.onParent(Seq(p.manifest(files, spec))), extraSummary = extraSummary)
    }
  }

  /** Register already-written Parquet files (reference `AddFiles`
    * `transaction.go:499-564`): stats from footers, no data copy. Foreign
    * files typically carry no parquet field IDs, so footer columns resolve
    * to field IDs through the table's name mapping
    * (`schema.name-mapping.default`, reference `name_mapping.go:30-80`),
    * defaulting to the schema's own names. On a PARTITIONED table each
    * file's partition tuple is inferred from footer min/max of the source
    * columns (reference `arrow_utils.go:1235-1252`): order-preserving
    * transforms only, and a file whose bounds transform to two different
    * values is rejected — registering Hive-layout parquet works exactly
    * when each file holds one partition's rows.
    */
  /** `snapshotProps` ride the commit summary (reference AddFiles'
    * snapshotProps); `ignoreDuplicates` guards re-registration: false
    * (default) RAISES when any path is already referenced by the current
    * snapshot (reference `transaction.go:509-529`), true silently skips
    * the already-referenced paths and registers only the new ones. (The
    * reference's `true` merely skips the check and re-appends the file,
    * silently doubling rows on a retry; skipping is the retry-idempotent
    * reading of "ignore".)
    */
  def addFiles(paths: Seq[String], snapshotProps: Map[String, String] = Map.empty,
      ignoreDuplicates: Boolean = false): Snapshot = {
    require(paths.distinct.size == paths.size,
      "file paths must be unique for addFiles")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(location), graft.meta.FileIO.conf)
    // a directory registers the data files under it (Iceberg add_files
    // procedure semantics — a multi-file parquet write IS a directory);
    // expanded before the duplicate guard so re-registering a directory
    // trips it exactly like re-registering its member files
    def expandDir(p: String): Seq[String] = {
      val hp = new org.apache.hadoop.fs.Path(p)
      if (!fs.getFileStatus(hp).isDirectory) Seq(p)
      else {
        val files = FileIO.listRecursive(p).map(_.getPath)
          .filter { fp =>
            val n = fp.getName
            n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
          }
          .map(_.toString).sorted
        require(files.nonEmpty, s"no parquet data files under directory $p")
        files
      }
    }
    val expanded = paths.flatMap(expandDir)
    require(expanded.distinct.size == expanded.size,
      "file paths must be unique for addFiles (after directory expansion)")
    // scheme-insensitive comparison of Hadoop path strings: `file:///x`
    // and `/x` are the same file, and a scheme-qualified re-registration
    // must not slip past the duplicate guard (ADVICE r13)
    def norm(p: String) = FileIO.pathOnly(p)
    val requested = expanded.map(norm).toSet
    val referenced = currentSnapshot.toSeq
      .flatMap(_ => newScan().planFiles().map(_.file.filePath))
      .filter(p => requested(norm(p)))
    val referencedNorm = referenced.map(norm).toSet
    val toAdd =
      if (referenced.isEmpty) expanded
      else if (ignoreDuplicates) expanded.filterNot(p => referencedNorm(norm(p)))
      else throw new IllegalArgumentException(
        "cannot add files that are already referenced by table, files: " +
          referenced.mkString(", "))
    if (toAdd.isEmpty)
      return currentSnapshot.getOrElse(
        throw new IllegalStateException("no snapshot and nothing to add"))
    val nameToId = NameMapping.index(nameMapping)
    // partitioned registration infers each file's partition tuple from its
    // footer stats (reference `table/arrow_utils.go:1235-1252` +
    // `internal/utils.go` PartitionValue): only ORDER-PRESERVING transforms
    // qualify — min and max bracketing one transformed value proves the
    // whole file shares it — and bounds for the source columns are recorded
    // untruncated so string prefixes can't fake agreement
    val partSrcIds = spec.fields.map(_.sourceId).toSet
    spec.fields.filterNot(_.transform.preservesOrder).foreach { pf =>
      throw new IllegalArgumentException(
        s"cannot infer partition value from parquet metadata for a " +
          s"non-linear partition field: ${pf.name} with transform ${pf.transform.name}")
    }
    val files = toAdd.par.map { p =>
      val len = fs.getFileStatus(new org.apache.hadoop.fs.Path(p)).getLen
      val df = ParquetStats.toDataFile(p, len, schema, Nil, nameToId = Some(nameToId),
        fullBoundsFieldIds = partSrcIds, props = meta.properties)
      if (spec.isUnpartitioned) df
      else df.copy(partition = spec.fields.map { pf =>
        val src = schema.findById(pf.sourceId).getOrElse(
          throw new IllegalStateException(s"no source field ${pf.sourceId}"))
        // content equality — the reference compares Literal values
        // (`lowerT.Val.Equals(upperT.Val)`, utils.go:229), so byte-array
        // partition values must compare by content, not reference
        def sameValue(a: Any, b: Any): Boolean = (a, b) match {
          case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
          case _ => a == b
        }
        val nulls = df.nullValueCounts.get(pf.sourceId)
        val values = df.valueCounts.get(pf.sourceId)
        (df.lowerBounds.get(pf.sourceId), df.upperBounds.get(pf.sourceId)) match {
          case (Some(lo), Some(hi)) =>
            // min==max proves a single NON-NULL value; parquet bounds
            // exclude nulls, so a mixed null+value column would register
            // its null rows under the wrong partition (divergence: the
            // reference skips this check and misattributes — we refuse)
            if (nulls.exists(_ > 0)) throw new IllegalArgumentException(
              s"cannot infer partition value from parquet metadata: column " +
                s"${src.name} in $p holds both nulls and values " +
                s"(${nulls.get} nulls) — rows would span two partitions")
            val lt = pf.transform.apply(src.tpe, Bounds.decode(src.tpe, lo))
            val ht = pf.transform.apply(src.tpe, Bounds.decode(src.tpe, hi))
            if (!sameValue(lt, ht)) throw new IllegalArgumentException(
              s"cannot infer partition value from parquet metadata: more than " +
                s"one value for partition field ${pf.name} in $p (low: $lt, high: $ht)")
            lt
          case _ if values.isEmpty =>
            // the source column is absent from the file entirely: scans
            // null-fill it, so the null partition value is exact
            null
          case _ if nulls.isDefined && nulls == values =>
            // provably all-null column → null partition value is exact
            null
          case _ =>
            // column present with data but no usable bounds (stats
            // disabled, or NaN-poisoned float bounds): nothing proves a
            // single partition value. The reference records a silent null
            // here (utils.go:211-213) — a scan on the partition column
            // would then prune the file and lose its rows, so we refuse
            // instead (documented divergence, same safety reading as
            // ignoreDuplicates).
            throw new IllegalArgumentException(
              s"cannot infer partition value from parquet metadata: column " +
                s"${src.name} in $p has no usable footer statistics")
        }
      })
    }.seq.toSeq
    // an ID-less file read through a field-ID schema silently null-fills, so
    // flag the table: scans then route ID-less files (stamped per entry by
    // toDataFile from the footer already open for stats) by (mapped) name
    val anyIdLess = files.exists(_.hasFieldIds.contains(false))
    retryOnConflict {
      val p = newSnapshot()
      p.commit("append", p.onParent(Seq(p.manifest(files, spec))),
        setProps = if (anyIdLess) Map(IceTable.HasIdLessFilesProp -> "true") else Map.empty,
        extraSummary = snapshotProps)
    }
  }

  /** Observed on-disk bytes per row from the running totals the snapshot
    * summary always carries — the estimate that translates
    * `write.target-file-size-bytes` into Spark's record-count file cap
    * (delete-key writes skip it: their row shape is narrower than the
    * table's).
    */
  private def avgRowBytes: Option[Long] =
    meta.currentSnapshot.flatMap { s =>
      for {
        size <- s.summary.get("total-files-size").flatMap(_.toLongOption)
        rows <- s.summary.get("total-records").flatMap(_.toLongOption)
        if rows > 0 && size > 0
      } yield math.max(1L, size / rows)
    }

  /** The table's effective name mapping: the explicit
    * `schema.name-mapping.default` property when set, else the schema's
    * identity mapping.
    */
  def nameMapping: Seq[MappedField] =
    meta.properties.get(NameMapping.PropertyKey)
      .map(NameMapping.parse)
      .getOrElse(NameMapping.default(schema))

  // ------------------------------------------------------ snapshot producer
  /** Start a snapshot commit: the snapshot id, the next sequence number and
    * the commit UUID. Callers that stamp them into artifacts written before
    * the commit (deletion-vector blobs, distributed worker manifests)
    * reserve them up front and hand them in.
    */
  private def newSnapshot(snapId: Long = meta.reserveSnapshotId(),
      commitUuid: String = UUID.randomUUID().toString): PendingSnapshot =
    new PendingSnapshot(snapId, meta.lastSequenceNumber + 1, commitUuid)

  /** The one snapshot producer (reference `snapshot_producers.go:420-718`):
    * every commit writes its manifests here and lands through [[commit]],
    * the only code that writes a manifest list, builds a summary and a
    * [[Snapshot]] and CASes it. Used under the table lock.
    */
  private final class PendingSnapshot(val snapId: Long, val seq: Long,
      val commitUuid: String) {
    private var written = 0

    /** Write `entries` as this commit's next manifest,
      * `$commitUuid-$tag$N.avro`, stamped with its sequence number and
      * snapshot id; the minimum sequence number is the lowest live entry's.
      */
    def writeManifest(entries: Seq[ManifestEntry], spec: PartitionSpec,
        content: Int = 0, tag: String = "m"): ManifestFile = {
      val path = metaPath(s"$commitUuid-$tag$written.avro")
      written += 1
      ManifestIO.writeManifest(path, entries, spec, schema,
          formatVersion = meta.formatVersion, content = content)
        .copy(sequenceNumber = seq, addedSnapshotId = snapId,
          minSequenceNumber = entries.filter(_.status != ManifestEntryStatus.Deleted)
            .flatMap(_.sequenceNumber).minOption.getOrElse(seq))
    }

    /** A manifest of `files` as Added entries at this commit's sequence. */
    def manifest(files: Seq[DataFile], spec: PartitionSpec, content: Int = 0): ManifestFile =
      writeManifest(files.map(f =>
        ManifestEntry(ManifestEntryStatus.Added, snapId, Some(seq), Some(seq), f)),
        spec, content)

    /** `newManifests` stacked on the current snapshot's list, merged when
      * `commit.manifest-merge.enabled`.
      */
    def onParent(newManifests: Seq[ManifestFile]): Seq[ManifestFile] =
      mergeManifestsIfEnabled(newManifests ++ manifestsOf(meta.currentSnapshot), this)

    /** Write `manifests` as this snapshot's list and CAS the snapshot onto
      * `branch`, whose head is its parent. On `main` the current snapshot
      * and the snapshot log move too; a branch commit moves only its ref,
      * so a staged write stays invisible to readers until published.
      */
    def commit(operation: String, manifests: Seq[ManifestFile],
        branch: String = "main", setProps: Map[String, String] = Map.empty,
        removeProps: Seq[String] = Nil,
        extraSummary: Map[String, String] = Map.empty): Snapshot = {
      val parent = headOf(branch)
      val listPath = metaPath(s"snap-$snapId-1-$commitUuid.avro")
      val (listed, lineageEnd) = assignRowLineage(manifests)
      ManifestIO.writeManifestList(listPath, listed, meta.formatVersion)
      val listedPaths = manifests.map(_.path).toSet
      val collector = summarizeCommit(manifests.filter(_.addedSnapshotId == snapId),
        manifestsOf(parent).filter(m => m.content == 1 && !listedPaths(m.path)))
      val summary = Map("operation" -> operation) ++
        SnapshotSummary.withTotals(collector.build() ++ extraSummary,
          parent.map(_.summary).getOrElse(Map.empty))
      val now = System.currentTimeMillis()
      // v3 row lineage: the snapshot records the first row ID it assigns and
      // the table counter advances past every range handed out (reference
      // `table/snapshots.go:249-258` + metadata `next-row-id`)
      val firstRowId =
        if (meta.formatVersion >= 3) Some(meta.nextRowId.getOrElse(0L)) else None
      val snap = Snapshot(snapId, parent.map(_.snapshotId), seq, now, listPath, summary,
        meta.currentSchemaId, firstRowId = firstRowId)
      val advanced = meta.copy(
        lastSequenceNumber = seq,
        lastUpdatedMs = now,
        snapshots = meta.snapshots :+ snap,
        properties = meta.properties -- removeProps ++ setProps,
        refs = meta.refs + (branch -> advanceRef(meta, branch, snapId)),
        nextRowId = firstRowId.map(f => math.max(lineageEnd, f + collector.addedDataRecords)))
      commitMeta(if (branch != "main") advanced
        else advanced.copy(currentSnapshotId = Some(snapId),
          snapshotLog = meta.snapshotLog :+ SnapshotLogEntry(now, snapId)))
      snap
    }
  }

  /** Head of `branch`: the current snapshot for `main`; a branch not yet
    * created starts from main's head.
    */
  private def headOf(branch: String): Option[Snapshot] =
    if (branch == "main") meta.currentSnapshot
    else meta.refs.get(branch).flatMap(r => meta.snapshotById(r.snapshotId))
      .orElse(meta.currentSnapshot)

  private def manifestsOf(snap: Option[Snapshot]): Seq[ManifestFile] =
    snap.map(s => ManifestIO.readManifestList(s.manifestList)).getOrElse(Nil)

  /** Move `ref` to `snapId`, PRESERVING any retention policy set on it — a
    * commit or a rollback must not silently reset `setRefRetention`.
    */
  private def advanceRef(m: TableMetadata, ref: String, snapId: Long): SnapshotRef =
    m.refs.get(ref).map(_.copy(snapshotId = snapId)).getOrElse(SnapshotRef(snapId, "branch"))

  /** Collect a commit's file deltas: Added entries of the manifests it wrote
    * count as adds, their Deleted entries as removes (Existing are carried
    * rows a rewrite kept), and every live file of a parent delete manifest
    * the commit drops counts as removed. Metadata-plane read only.
    */
  private def summarizeCommit(own: Seq[ManifestFile],
      droppedDeletes: Seq[ManifestFile]): SnapshotSummary.Collector = {
    val limit = meta.properties.get(SnapshotSummary.PartitionLimitKey)
      .flatMap(_.toIntOption).getOrElse(SnapshotSummary.PartitionLimitDefault)
    val collector = new SnapshotSummary.Collector(limit)
    def visit(ms: Seq[ManifestFile])(f: (ManifestEntry, PartitionSpec) => Unit): Unit =
      ms.foreach { m =>
        val mSpec = meta.specs.find(_.specId == m.specId).getOrElse(PartitionSpec.Unpartitioned)
        ManifestIO.readManifest(m.path, meta.specs, schema)._2.foreach(f(_, mSpec))
      }
    visit(own) { (e, mSpec) =>
      if (e.status == ManifestEntryStatus.Added) collector.addFile(e.dataFile, mSpec, schema)
      else if (e.status == ManifestEntryStatus.Deleted)
        collector.removeFile(e.dataFile, mSpec, schema)
    }
    visit(droppedDeletes) { (e, mSpec) =>
      if (e.status != ManifestEntryStatus.Deleted) collector.removeFile(e.dataFile, mSpec, schema)
    }
    collector
  }

  /** `m`'s entries ready to leave it (rewrite, re-pack, merge): v3 lineage
    * inherited from the manifest's first_row_id is written into each data
    * file, and each entry carries its data sequence number explicitly —
    * both would otherwise be lost with the manifest they inherit from.
    */
  private def materializedEntries(m: ManifestFile): Seq[ManifestEntry] =
    IceTable.lineageOf(m, ManifestIO.readManifest(m.path, meta.specs, schema)._2).map {
      case (e, rid) =>
        val f = if (rid.isDefined && e.dataFile.firstRowId.isEmpty)
          e.dataFile.copy(firstRowId = rid) else e.dataFile
        e.copy(dataFile = f, sequenceNumber = e.sequenceNumber.orElse(Some(m.sequenceNumber)))
    }

  /** Merge-append manifest compaction (reference `manifestMergeManager`,
    * `snapshot_producers.go:245-418`): gated on
    * `commit.manifest-merge.enabled` (default false — fast-append is the
    * default shape), data manifests grouped per spec and bin-packed by
    * on-disk manifest length toward `commit.manifest.target-size-bytes`
    * (8 MiB default). A single-manifest bin stays as-is; the bin holding
    * this commit's first (in-memory) manifest merges only past
    * `commit.manifest.min-count-to-merge`, so one big parent manifest
    * never forces a rewrite per tiny append; merged entries keep their
    * original sequence numbers, and this snapshot's own Added/Deleted
    * statuses survive the rewrite (older Deleted entries age out).
    *
    * At scale this is the metadata-plane analogue of file compaction: a
    * 100-TB table appending every few minutes accretes thousands of
    * manifests, and planning cost is linear in manifest count.
    */
  private def mergeManifestsIfEnabled(assembled: Seq[ManifestFile],
      p: PendingSnapshot): Seq[ManifestFile] = {
    val props = meta.properties
    val mergeEnabled = props.getOrElse("commit.manifest-merge.enabled", "false").toBoolean
    if (!mergeEnabled) return assembled
    val targetSize = props.get("commit.manifest.target-size-bytes")
      .flatMap(_.toLongOption).getOrElse(8L * 1024 * 1024)
    val minCountToMerge = props.get("commit.manifest.min-count-to-merge")
      .flatMap(_.toIntOption).getOrElse(100)
    val (dataManifests, deleteManifests) = assembled.partition(_.content == 0)
    if (dataManifests.isEmpty) return assembled
    val first = dataManifests.head

    def mergeBin(specId: Int, bin: Seq[ManifestFile]): Seq[ManifestFile] =
      if (bin.size == 1) bin
      else if (bin.contains(first) && bin.size < minCountToMerge) bin
      else {
        val mSpec = meta.specs.find(_.specId == specId).getOrElse(PartitionSpec.Unpartitioned)
        // this commit's own manifests have no first_row_id yet, so their
        // Added entries stay null-lineage and inherit from the MERGED
        // manifest's list-side assignment
        val entries = bin.flatMap(materializedEntries).flatMap { e =>
          val own = e.snapshotId == p.snapId
          // only THIS snapshot's deletes ride along; older tombstones drop
          if (e.status == ManifestEntryStatus.Deleted) Option.when(own)(e)
          else Some(if (own) e else e.copy(status = ManifestEntryStatus.Existing))
        }
        // not `m<N>`: distributed-snapshot workers name their manifests so
        Seq(p.writeManifest(entries, mSpec, tag = "merged-"))
      }

    // PackEnd with lookback 1 (reference `internal.SlicePacker`): bins fill
    // from the list's tail — the oldest carried manifests — so fresh small
    // manifests pack together while a full-size old one rides alone
    def packEnd(ms: Seq[ManifestFile]): Seq[Seq[ManifestFile]] = {
      import scala.collection.mutable
      val bins = mutable.ListBuffer.empty[mutable.ListBuffer[ManifestFile]]
      ms.reverseIterator.foreach { m =>
        bins.lastOption.filter(b => b.map(_.length).sum + m.length <= targetSize) match {
          case Some(b) => b += m
          case None => bins += mutable.ListBuffer(m)
        }
      }
      bins.reverseIterator.map(_.reverse.toSeq).toSeq
    }

    val mergedData = dataManifests.groupBy(_.specId).toSeq.sortBy(-_._1)
      .flatMap { case (specId, group) => packEnd(group).flatMap(mergeBin(specId, _)) }
    mergedData ++ deleteManifests
  }

  /** v3 row lineage, list-side assignment (Iceberg v3 spec §row-lineage;
    * reference `Snapshot.FirstRowID` `table/snapshots.go:249-258`): every
    * data manifest WITHOUT a first_row_id gets one when the manifest list
    * is written, in list order, each advancing the counter by its
    * added-rows count — exactly the rows whose file-level lineage is null
    * and will inherit (carried-forward manifests keep their original
    * assignment; rewritten manifests materialize file-level ids first, so
    * their own assignment covers only this commit's Added entries).
    * Returns the counter it reached: carried-forward LEGACY manifests (a
    * v2→v3 upgrade, or lists predating lineage) also consume ranges here,
    * so the persisted next-row-id must advance past them, not just past
    * this commit's added rows — otherwise the next commit would hand out
    * overlapping ranges and duplicate _row_id values durably. No-op below
    * v3.
    */
  private def assignRowLineage(manifests: Seq[ManifestFile]): (Seq[ManifestFile], Long) = {
    if (meta.formatVersion < 3) return (manifests, 0L)
    var next = meta.nextRowId.getOrElse(0L)
    val assigned = manifests.map { m =>
      if (m.content != 0 || m.firstRowId.isDefined) m
      else {
        val a = m.copy(firstRowId = Some(next))
        next += m.addedRowsCount
        a
      }
    }
    (assigned, next)
  }

  // ------------------------------------------------- overwrite / compaction
  /** ReplaceDataFiles (reference `Transaction.ReplaceDataFiles`
    * `transaction.go:408-497`): each TOUCHED parent manifest is rewritten
    * with Deleted entries for its removed files and Existing entries
    * (original sequence numbers) for its survivors; untouched data
    * manifests carry forward as the same file, and the new files commit as
    * Added entries.
    */
  def replaceDataFiles(deletePaths: Set[String], added: Seq[DataFile],
      operation: String = "replace"): Snapshot =
    synchronized(replaceDataFiles(deletePaths, added, operation, Nil, newSnapshot()))

  /** Extended form used by the metadata-aware delete paths: `newDeleteFiles`
    * (content=1 positional-delete parquet or puffin DV files, covering the
    * PARTIALLY-matched files) commit in the same snapshot that drops the
    * fully-matched files as Deleted entries. `p` may be reserved early by a
    * caller that stamped it into executor-written artifacts (DV blob
    * descriptors).
    */
  private def replaceDataFiles(deletePaths: Set[String], added: Seq[DataFile],
      operation: String, newDeleteFiles: Seq[DataFile], p: PendingSnapshot): Snapshot = {
    val current = meta.currentSnapshot.getOrElse(
      throw new IllegalStateException("cannot replace files in an empty table"))
    val parentManifests = ManifestIO.readManifestList(current.manifestList)
    // Rewrite ONLY the manifests that actually contain a deleted path;
    // untouched manifests carry forward AS-IS (original file, statuses,
    // sequence numbers). At 100 TB a partition-aligned retention delete
    // touches the few manifests covering the expired partitions — rewriting
    // every live manifest (the pre-r18 shape) made the metadata work
    // O(live entries) instead of O(touched entries). Rewritten survivors
    // keep their ORIGIN spec: folding entries across specs would zip an old
    // spec's partition tuple against another spec's fields after partition
    // evolution — same-typed fields silently misattribute values,
    // different types crash mid-commit.
    var anySurvivor = false
    val survivorManifests = parentManifests.filter(_.content == 0).flatMap { m =>
      // v3 lineage is materialized BEFORE rewriting: survivors leave this
      // manifest, losing its inheritance base
      val live = materializedEntries(m).filter(_.status != ManifestEntryStatus.Deleted)
      val (toDelete, toKeep) = live.partition(e => deletePaths.contains(e.dataFile.filePath))
      anySurvivor ||= toKeep.nonEmpty
      if (toDelete.isEmpty) {
        // nothing in this manifest changes — carry the file forward
        // untouched (entry-level seq/snapshotId already select correctly
        // for incremental reads and the changelog)
        if (live.isEmpty) None else Some(m)
      } else {
        val originSpec = meta.specById(m.specId).getOrElse(
          throw new IllegalStateException(s"manifest references unknown spec ${m.specId}"))
        Some(p.writeManifest(
          toKeep.map(_.copy(status = ManifestEntryStatus.Existing)) ++
            toDelete.map(_.copy(status = ManifestEntryStatus.Deleted, snapshotId = p.snapId)),
          originSpec))
      }
    }
    val addedManifest = if (added.isEmpty) None else Some(p.manifest(added, spec))
    // delete manifests still apply to SURVIVING files — carry them forward.
    // A full rewrite (no survivors) leaves nothing they can match: the
    // rewritten files carry this commit's sequence number, past every
    // existing delete (positional: paths gone; equality: strictly-older
    // scoping) — so drop them, releasing the files for orphan cleanup
    val deleteManifests = if (anySurvivor) parentManifests.filter(_.content == 1) else Nil
    // this commit's own positional deletes (partial-match files of a
    // metadata-aware deleteWhere) ride in the same snapshot as the drops
    val newDeleteManifest =
      if (newDeleteFiles.isEmpty) None
      else Some(p.manifest(newDeleteFiles, PartitionSpec.GlobalDeletes, content = 1))
    p.commit(operation,
      addedManifest.toSeq ++ survivorManifests ++ newDeleteManifest ++ deleteManifests)
  }

  /** The schema a rewrite (compaction, z-order, overwrite survivors)
    * writes under: on v3 the current schema plus the materialized lineage
    * columns, read through the lineage scan, so rewritten rows keep their
    * `_row_id` and `_last_updated_sequence_number` (Iceberg v3 spec).
    */
  private def rewriteSchema: IceSchema =
    if (meta.formatVersion >= 3) schema.copy(fields = schema.fields ++ IceTable.LineageFields)
    else schema

  /** Compaction: coalesce the current data files into `targetFileCount`
    * files (bin-packing via repartition), then swap atomically.
    */
  def compact(spark: SparkSession, targetFileCount: Int): Snapshot =
    rewriteAllFiles(spark)(_.repartition(targetFileCount))

  /** Size-filtered incremental compaction (Iceberg's `rewrite_data_files`
    * bin-pack strategy with a min-size filter; the reference README tracks
    * rewrite_data_files as unsupported): rewrite ONLY files smaller than
    * `smallerThanBytes`, and only where it pays — a partition holding at
    * least `minInputFiles` of them, or any small file carrying MOR delete
    * debt (rewriting bakes the deletes in). This is the maintenance loop a
    * 100-TB table actually runs: full-table [[compact]] is not an
    * operation at that scale, but the small tail of every ingest cycle is.
    * One delete-applying read pass over the selected files (the fanout
    * writer re-clusters them per partition), one [[replaceDataFiles]]
    * commit — which carries untouched manifests forward, so metadata work
    * is O(touched) too. Returns None when nothing qualifies.
    */
  def compactSmallFiles(spark: SparkSession, smallerThanBytes: Long,
      minInputFiles: Int = 2): Option[Snapshot] = {
    // v3: materialize row lineage through the rewrite (see rewriteAllFiles)
    val preserveLineage = meta.formatVersion >= 3
    val scan = newScan(withRowId = preserveLineage)
    val tasks = scan.planFiles()
    val chosen = tasks
      .filter(_.file.fileSizeInBytes < smallerThanBytes)
      .groupBy(_.file.partition).valuesIterator
      .filter(g => g.size >= minInputFiles ||
        g.exists(t => t.deletes.nonEmpty || t.eqDeletes.nonEmpty || t.dvDeletes.nonEmpty))
      .flatten.toSeq
    if (chosen.isEmpty) return None
    graft.GraftSession.ensurePrepared(spark)
    val newFiles = DataWriter.write(scan.toDFFor(spark, chosen),
      location, rewriteSchema, spec, sortOrder, meta.properties,
      avgRowBytesHint = avgRowBytes)
    Some(replaceDataFiles(chosen.map(_.file.filePath).toSet, newFiles,
      operation = "replace"))
  }

  /** Shared full-rewrite skeleton for [[compact]] and [[rewriteZOrdered]]:
    * plan the live files, re-cluster their rows with `transform`, write,
    * swap atomically. The rows come from the scan itself, so the rewrite
    * keeps exactly what a read returns: merge-on-read deletes applied (the
    * rewrite gets a new sequence number, so old deletes stop applying),
    * name-mapped ID-less files resolved by alias and initial defaults
    * filled.
    */
  private def rewriteAllFiles(spark: SparkSession)(
      transform: DataFrame => DataFrame): Snapshot = {
    // v3 row lineage: rewritten rows change file and position, so their
    // ids are read through the lineage scan and MATERIALIZED into the new
    // files' `_row_id` column (Iceberg v3 spec: rewrites must preserve
    // row ids) — the read side prefers the materialized column
    val scan = newScan(withRowId = meta.formatVersion >= 3)
    val tasks = scan.planFiles()
    val oldPaths = tasks.map(_.file.filePath).toSet
    graft.GraftSession.ensurePrepared(spark)
    // the REAL spec, not Unpartitioned: replacement files registered under
    // a partitioned spec with empty tuples would read back as all-null
    // partition values, and partition-filtered scans would silently prune
    // every compacted file
    val newFiles = DataWriter.write(transform(scan.toDFFor(spark, tasks)),
      location, rewriteSchema, spec, properties = meta.properties,
      avgRowBytesHint = avgRowBytes)
    replaceDataFiles(oldPaths, newFiles, operation = "replace")
  }

  /** Z-order clustering rewrite (Iceberg's `rewrite_data_files` with a
    * z-order sort strategy): rewrite the data files so each holds a
    * CONTIGUOUS range of the two columns' interleaved-bit z-value
    * ([[graft.functions.ZOrder2Expr]]). A linear sort gives tight file
    * bounds on its leading column only — a predicate on the second column
    * alone still plans every file; the z-curve tightens min/max footer
    * bounds on BOTH columns at once, so 2-D box predicates (and each
    * column alone) prune files after the rewrite. `repartitionByRange` on
    * the z-value assigns each output file its contiguous slice — at scale
    * that is one range-exchange over the table, the same shuffle budget as
    * plain compaction.
    */
  def rewriteZOrdered(spark: SparkSession, colA: String, colB: String,
      targetFileCount: Int): Snapshot =
    rewriteZOrdered(spark, Seq(colA, colB), targetFileCount)

  /** N-column variant: the z-value interleaves every named column's bits
    * (nulls cluster first), so footer bounds tighten on all of them.
    */
  def rewriteZOrdered(spark: SparkSession, cols: Seq[String],
      targetFileCount: Int): Snapshot =
    rewriteAllFiles(spark)(source => source
      .withColumn("__zval", graft.functions.ZOrderExprs.zorder(cols.map(col): _*))
      .repartitionByRange(targetFileCount, col("__zval"))
      .sortWithinPartitions("__zval")
      .drop("__zval"))

  /** Predicate overwrite (reference `newOverwriteFilesProducer`
    * `snapshot_producers.go:104-243`): files whose rows ALL match the filter
    * (strict metrics) are dropped whole; files that MAY contain matches are
    * rewritten with only the surviving rows; the replacement data appends.
    */
  def overwriteWhere(spark: SparkSession, filter: IcePredicate, replacement: DataFrame)
      : Snapshot = {
    val bound = Predicates.bind(filter, schema)
    // v3: surviving rows are rewritten, so their lineage materializes like
    // any other rewrite (rewriteAllFiles); replacement rows are NEW rows
    // and take freshly assigned ids
    val preserveLineage = meta.formatVersion >= 3
    val scan = newScan(withRowId = preserveLineage)
    val tasks = scan.planFiles()
    val fullMatch = tasks.filter(t => Evaluators.fileMustMatch(bound, t.file))
    val partial = tasks.filter(t => !Evaluators.fileMustMatch(bound, t.file) &&
      Evaluators.fileMayMatch(bound, t.file))
    graft.GraftSession.ensurePrepared(spark)
    // survivors = rows where the filter is NOT TRUE. Under SQL three-valued
    // logic `!c` is NULL (not true) when c is NULL, so a bare negation would
    // silently drop rows with null filter columns from the rewritten file —
    // data loss. Coalesce NULL to "keep". Read through the delete-applying
    // scan: a raw read would resurrect MOR-deleted rows into the rewrite
    val survivors =
      if (partial.isEmpty) Nil
      else DataWriter.write(
        scan.toDFFor(spark, partial)
          .where(!coalesce(Predicates.toColumn(bound), lit(false))),
        location, rewriteSchema, spec, properties = meta.properties,
        avgRowBytesHint = avgRowBytes)
    val addedNew = DataWriter.write(replacement, location, schema, spec,
      properties = meta.properties, avgRowBytesHint = avgRowBytes)
    replaceDataFiles((fullMatch ++ partial).map(_.file.filePath).toSet,
      survivors ++ addedNew, operation = "overwrite")
  }

  /** Rewrite (re-bin-pack) the current snapshot's data manifests into
    * `targetCount` per spec without touching any data file — the manifest
    * maintenance that bounds plan-time manifest reads when a long-lived
    * table accretes thousands of small manifests (Iceberg's
    * RewriteManifests; the reference README tracks it as unsupported).
    * Live entries keep their original sequence numbers as Existing; delete
    * manifests carry forward untouched, so MOR semantics are unchanged.
    */
  def rewriteManifests(targetCount: Int = 1): Snapshot = synchronized {
    val p = newSnapshot()
    val current = meta.currentSnapshot.getOrElse(
      throw new IllegalStateException("cannot rewrite manifests of an empty table"))
    val all = ManifestIO.readManifestList(current.manifestList)
    // a manifest holds one spec's partition tuples — pack per spec
    val packed = all.filter(_.content == 0).groupBy(_.specId).toSeq.sortBy(_._1)
      .flatMap { case (specId, ms) =>
        val sp = meta.specs.find(_.specId == specId).getOrElse(spec)
        // v3 lineage is materialized before the entries leave their
        // manifest — re-packed Existing entries have no inheritance base (a
        // fresh list assignment would NULL their _row_id on every later scan)
        val entries = ms.flatMap(materializedEntries)
          .filter(_.status != ManifestEntryStatus.Deleted)
          .map(_.copy(status = ManifestEntryStatus.Existing))
        val groups = math.max(1, math.min(targetCount, entries.size))
        val per = math.max(1, math.ceil(entries.size.toDouble / groups).toInt)
        entries.grouped(per).map(p.writeManifest(_, sp)).toSeq
      }
    p.commit("replace", packed ++ all.filter(_.content == 1))
  }

  // ------------------------------------------------------------ MOR delete
  /** Positional-delete (merge-on-read) of rows matching the filter: records
    * (file_path, pos) pairs in a delete Parquet + a deletes manifest
    * (content=1). Scans drop the positions inside their tasks
    * ([[DeleteFilter]]). Reference semantics:
    * `table/arrow_scanner.go:50-190`, delete schema per spec (field ids
    * 2147483546/2147483545).
    */
  def deleteWhere(spark: SparkSession, filter: IcePredicate): Option[Snapshot] = synchronized {
    val (fullMatch, partial, matches) = splitDelete(spark, filter)
    val files = matches.toSeq.flatMap { m =>
      // cut the candidate files' sorted paths into contiguous ranges on the
      // driver, which already holds them, and route each position to its
      // range: (a) a broad predicate fans out over many writers instead of
      // funnelling every matched row through one task, and (b) each delete
      // file covers one narrow file_path range, which the planner's bounds
      // matching then uses to skip it for unrelated data files. Sampling
      // for the cut points (`repartitionByRange`) would cost a job that
      // scans the matched files a second time. The candidates' record
      // counts bound the positions, so a range holds at most the table's
      // per-file record cap and a small delete is one range: one task
      // sorts it, with no exchange, and the delete runs one job
      val paths = partial.map(_.file.filePath).distinct.sorted.toArray
      val perRange = meta.properties.get("write.max-records-per-file").map(_.toLong)
        .getOrElse(DataWriter.DefaultMaxRecordsPerFile)
      val records = partial.map(_.file.recordCount).sum
      val ranges = Seq(paths.length.toLong,
        spark.sessionState.conf.numShufflePartitions.toLong,
        (records + perRange - 1) / perRange).min.max(1L).toInt
      val per = (paths.length + ranges - 1) / ranges
      val starts = paths.grouped(per).map(g => g.head: AnyRef).toArray
      val clustered =
        if (starts.length == 1) m.withColumn("__range", lit(0)).coalesce(1)
        else {
          val rangeOf = udf { (path: String) =>
            val i = java.util.Arrays.binarySearch(starts, path)
            if (i >= 0) i else math.max(0, -i - 2)
          }
          m.withColumn("__range", rangeOf(col("file_path")))
            .repartition(starts.length, col("__range"))
        }
      DataWriter.writePositionDeletes(clustered.sortWithinPartitions("file_path", "pos"),
        "__range", location, meta.properties)
    }
    commitDelete(newSnapshot(), fullMatch, files)
  }

  /** The commit both positional deletes end in: strictly matched files drop
    * whole through [[replaceDataFiles]], with the new delete files in the
    * same snapshot; otherwise the delete files append as one delete
    * manifest. A delete that matched no row commits nothing rather than an
    * empty delete manifest every later list would carry and every scan
    * would read.
    */
  private def commitDelete(p: PendingSnapshot, fullMatch: Seq[FileScanTask],
      files: Seq[DataFile]): Option[Snapshot] =
    if (fullMatch.nonEmpty)
      Some(replaceDataFiles(fullMatch.map(_.file.filePath).toSet, Nil, "delete", files, p))
    else if (files.isEmpty) None
    else Some(p.commit("delete",
      p.onParent(Seq(p.manifest(files, PartitionSpec.GlobalDeletes, content = 1)))))

  /** The metadata-only split both positional deletes share (reference
    * `strictMetricsEval` `table/evaluators.go:1200-1565`, built for exactly
    * this): planned files whose footer stats PROVE every row matches drop
    * as whole-file Deleted manifest entries — zero data-file reads, zero
    * delete rows. At 100 TB the common production delete (partition-aligned
    * retention, `ts < cutoff` on a day-partitioned table) is then a
    * metadata commit instead of an O(corpus) read + positional-delete
    * write. Already-dead rows in a dropped file don't matter: strict-match
    * means every row — live or not — satisfies the predicate, so removing
    * the file removes only rows the delete targets. Returns those files and
    * the (file_path, pos) frame of the matching rows of the rest (None when
    * no other file may match).
    */
  private def splitDelete(spark: SparkSession, filter: IcePredicate)
      : (Seq[FileScanTask], Seq[FileScanTask], Option[DataFrame]) = {
    val bound = Predicates.bind(filter, schema)
    val scan = newScan(filter)
    val (fullMatch, partial) =
      scan.planFiles().partition(t => Evaluators.fileMustMatch(bound, t.file))
    // read with the scan's per-file resolution: a name-mapped file without
    // field ids matches by its aliases instead of as all-null columns
    val matches = Option.when(partial.nonEmpty)(
      scan.readTasksProjected(spark, partial, schema, stampPathPos = true)
        .where(Predicates.toColumn(bound))
        .select(col("__path").as("file_path"), col("__pos").as("pos")))
    (fullMatch, partial, matches)
  }

  /** Positional delete recorded as v3 DELETION VECTORS: one roaring bitmap
    * per referenced data file inside executor-written Puffin shards,
    * committed as delete entries carrying the (path, offset, length) pointer
    * (manifest
    * fields 143-145 — the reference models the fields,
    * `internal/avro_schemas.go:501-512`, but never writes or reads the
    * container). DVs here are ADDITIVE like parquet positional deletes
    * (read side unions all applicable); `rewritePositionDeletes` collapses
    * the accumulation to the v3 one-DV-per-file invariant.
    *
    * Scale shape: positions shuffle ONCE on file_path; each non-empty
    * partition builds its files' bitmaps and writes its own Puffin shard
    * executor-side, and only (path, offset, length, cardinality)
    * descriptors reach the driver — the same commit pattern as distributed
    * data manifests. At 100 TB with billions of deleted positions no bitmap
    * bytes ever cross one driver heap.
    */
  def deleteWhereDV(spark: SparkSession, filter: IcePredicate): Option[Snapshot] =
    synchronized {
      // same strict-metrics split as [[deleteWhere]]: provably-full files
      // drop as Deleted entries; only partial files earn a deletion vector
      val (fullMatch, _, matches) = splitDelete(spark, filter)
      val p = newSnapshot()
      commitDelete(p, fullMatch, matches.toSeq.flatMap(writeDVShards(spark, _, p)))
    }

  /** Distributed deletion-vector materialization: one hash shuffle
    * co-locates every position of a data file, then each non-empty
    * partition serializes its bitmaps into ONE executor-written Puffin
    * shard. Returns the delete-file entries (pointer + cardinality only;
    * the bitmap bytes stay in the shards).
    */
  private def writeDVShards(spark: SparkSession,
      positions: org.apache.spark.sql.DataFrame, p: PendingSnapshot): Seq[DataFile] = {
    val loc = location
    // plain locals: the executor closure below must not capture the producer
    val (snapId, seq, commitUuid) = (p.snapId, p.seq, p.commitUuid)
    // executors run in JVMs whose FileIO never saw configure() — ship the
    // driver's settings so property-registered schemes/credentials resolve
    // identically off-driver
    val ioSettings = graft.meta.FileIO.sparkHadoopSettings
    // bound literals: a delete's key range reuses the compiled scan code
    val shards = BoundLiteralExecution.collect(
      positions.toDF("file_path", "pos").repartition(col("file_path"))) { it =>
        graft.meta.FileIO.ensureApplied(ioSettings)
        val bms = scala.collection.mutable.LinkedHashMap
          .empty[String, org.roaringbitmap.longlong.Roaring64NavigableMap]
        it.foreach { row =>
          bms.getOrElseUpdate(row.getUTF8String(0).toString,
            new org.roaringbitmap.longlong.Roaring64NavigableMap()).addLong(row.getLong(1))
        }
        if (bms.isEmpty) Iterator.empty
        else {
          // attempt-unique name: a speculative or retried attempt must never
          // write the path another attempt is writing — only the winning
          // attempt's descriptors reach the manifest; losers become orphans
          // that deleteOrphanFiles reclaims
          val tc = org.apache.spark.TaskContext.get()
          val puffinPath =
            s"$loc/data/$commitUuid-deletes-p${tc.partitionId()}-a${tc.taskAttemptId()}.puffin"
          val sorted = bms.toSeq.sortBy(_._1)
          // cardinality from the BITMAP (positions dedup on insert): the
          // rewrite path unions overlapping additive DVs, so raw row counts
          // would overstate the collapsed DV's true cardinality
          val blobs = sorted.map { case (ref, bm) =>
            Puffin.BlobDescriptor("deletion-vector-v1", Nil, snapId, seq, 0L, 0L,
              Map("referenced-data-file" -> ref,
                "cardinality" -> bm.getLongCardinality.toString)) -> Puffin.encodeDV(bm)
          }
          val (placed, footerLen) = Puffin.write(puffinPath, blobs)
          val fileLen = placed.last.offset + placed.last.length + footerLen
          placed.zip(sorted).iterator.map { case (d, (ref, bm)) =>
            (puffinPath, ref, d.offset, d.length, bm.getLongCardinality, fileLen)
          }
        }
      }
    shards.toSeq.sortBy(s => (s._2, s._1)).map {
      case (puffinPath, ref, off, len, card, fileLen) =>
        DataFile(content = 1, filePath = puffinPath, fileFormat = "puffin",
          partition = Nil, recordCount = card, fileSizeInBytes = fileLen,
          referencedDataFile = Some(ref), contentOffset = Some(off),
          contentSizeInBytes = Some(len))
    }
  }

  /** Maintenance: collapse ALL accumulated merge-on-read debt — positional
    * parquet deletes, deletion vectors, AND equality deletes — into ONE
    * deletion vector per referenced data file (the v3 invariant), dropping
    * the superseded delete manifests. Read-side planning then matches at
    * most one DV per data file, and long-running upsert/CDC streams stop
    * matching every accumulated equality-delete file on every scan
    * (Iceberg's convert-equality-deletes maintenance; the kill set is
    * resolved ONCE here, against only the affected files, by the read
    * path's own delete predicate, sequence scoping included). (One DV
    * per file, not one Puffin container: shards write executor-side, like
    * [[deleteWhereDV]].)
    *
    * Name-mapped / id-less tables convert too: the key-column read goes
    * through [[IceScan.readTasksProjected]], the same per-file id-ful vs
    * aliased-name resolution the scan path uses — exactly the foreign-file
    * tables that would otherwise accumulate permanent equality debt.
    */
  def rewritePositionDeletes(spark: SparkSession): Option[Snapshot] = synchronized {
    val scan = newScan()
    val tasks = scan.planFiles()
    val positions = killedPositions(spark, scan, tasks).getOrElse(return None)
    val hasEq = tasks.exists(_.eqDeletes.nonEmpty)
    val p = newSnapshot()
    val files = writeDVShards(spark, positions, p)
    if (files.isEmpty && !hasEq) return None
    // the new DV manifest replaces the POSITIONAL delete manifests;
    // equality-delete manifests are value-based and survive UNLESS this
    // commit converted them to positions too. `files` can be empty when the
    // converted equality deletes kill no current row — the commit still
    // drops the spent debt
    val kept = manifestsOf(meta.currentSnapshot).filter { m =>
      m.content == 0 || (!hasEq &&
        ManifestIO.readManifest(m.path, meta.specs, schema)._2.exists(_.dataFile.content == 2))
    }
    val dvManifest =
      Option.when(files.nonEmpty)(p.manifest(files, PartitionSpec.GlobalDeletes, content = 1))
    Some(p.commit("replace", kept ++ dvManifest))
  }

  /** (file_path, pos) of every live data file's rows that its deletes kill
    * — the conversion read for [[rewritePositionDeletes]], or None when no
    * planned file carries a delete. Reads ONLY the affected data files,
    * projected to the equality key columns, and keeps the rows the scan's
    * own delete predicate ([[DeleteFilter]]) drops: the same per-file
    * position, deletion-vector and sequence-scoped equality rules as every
    * read. Data files read through the scan's
    * [[IceScan.readTasksProjected]], so id-less name-mapped files resolve
    * their key columns by alias exactly like a scan would (delete files
    * are always our own writes — canonical names + field ids).
    */
  private def killedPositions(spark: SparkSession, scan: IceScan,
      tasks: Seq[FileScanTask]): Option[org.apache.spark.sql.DataFrame] = {
    val affected = tasks.filter(t =>
      t.deletes.nonEmpty || t.dvDeletes.nonEmpty || t.eqDeletes.nonEmpty)
    if (affected.isEmpty) return None
    val schemaNow = schema
    graft.GraftSession.ensurePrepared(spark)
    val keyFields = affected.flatMap(_.eqDeletes).flatMap(_._1.equalityIds).distinct
      .map(schemaNow.byId)
    Some(scan.readTasksProjected(spark, affected, IceSchema(-1, keyFields),
        stampPathPos = true,
        keep = DeleteFilter(spark, affected, schemaNow).map(dl => k => !dl.live(k)))
      .select(col("__path").as("file_path"), col("__pos").as("pos")))
  }

  /** Equality-delete (merge-on-read): record the KEY VALUES of rows to
    * delete instead of scanning for their positions. Goes beyond the
    * reference, which rejects equality deletes on read
    * (`table/scanner.go:389-390`); write semantics follow the Iceberg spec:
    * a content=2 delete file whose rows are values of `columns`
    * (`equality_ids`), deleting every data row with matching values in data
    * files with a STRICTLY OLDER data sequence number.
    *
    * This is the scale path for upsert/CDC ingestion: no scan of existing
    * data at write time (deleteWhere reads every candidate file to find
    * positions); the cost moves to the read-side anti-join.
    */
  def equalityDelete(spark: SparkSession, keys: DataFrame,
      columns: Seq[String]): Snapshot = synchronized {
    require(columns.nonEmpty, "equality delete needs at least one column")
    val schemaNow = schema
    val eqIds = columns.map(c => schemaNow.idByName.getOrElse(c,
      throw new IllegalArgumentException(s"no such column: $c")))
    val eqSchema = IceSchema(-1, eqIds.map(schemaNow.byId(_).copy(required = false)))
    // distinct: delete keys are a set; duplicates only grow the file
    val files = DataWriter.write(
      keys.select(columns.map(col): _*).distinct(),
      location, eqSchema, PartitionSpec.Unpartitioned, properties = meta.properties)
      .map(_.copy(content = 2, equalityIds = eqIds))
      .filter(_.recordCount > 0)
    val p = newSnapshot()
    p.commit("delete",
      p.onParent(Seq(p.manifest(files, PartitionSpec.GlobalDeletes, content = 1))))
  }

  /** True when every LIVE data file in the current snapshot was written
    * under the current partition spec — the state condition under which a
    * partition-scoped upsert delete can reach every older version of its
    * keys. Manifest-LIST-sized (one cached Avro read, no manifest or data
    * file opened): a data manifest's entries all carry its spec id, so
    * "any Added/Existing files under another spec id" decides it. A
    * touched old-spec manifest that holds only Deleted entries (post-
    * compaction tombstones) has no live files and does not block scoping.
    */
  private def liveDataOnCurrentSpec: Boolean =
    meta.currentSnapshot.forall { s =>
      ManifestIO.readManifestList(s.manifestList).forall(m =>
        m.content != 0 || m.specId == spec.specId ||
          m.addedFilesCount + m.existingFilesCount == 0)
    }

  /** Upsert (MERGE-by-key) as ONE row-delta snapshot: the incoming rows as
    * data files, which double as full-row equality-delete files over the
    * key columns, committed together at the same sequence number (one
    * write job total). Equality deletes apply
    * only to STRICTLY OLDER data sequences (Iceberg spec), so the delete
    * retires prior versions of the keys while this commit's own inserts
    * survive — no scan of existing data, write cost O(incoming batch).
    * This is the CDC/merge path at scale: at 100 TB the alternative
    * (copy-on-write MERGE) rewrites every file a key touches.
    */
  def upsert(spark: SparkSession, rows: DataFrame, keyColumns: Seq[String]): Snapshot =
    upsertImpl(spark, rows, keyColumns, skipEmptyCommit = false)._2.get

  /** [[upsert]] for streaming sinks: returns the written row count and
    * SKIPS the commit outright when the batch wrote zero rows — the
    * AvailableNow watermark-finalization batch is empty, and a 0-row
    * upsert still pays two manifests, a manifest list and a metadata CAS
    * for a snapshot that changes nothing. The count comes from the write's
    * own footer stats, so the sink needs no separate count job over the
    * stateful micro-batch plan (r22: the per-batch persist+count staging
    * predated the one-write-job upsert and re-materialized the plan once
    * per trigger for sizing/telemetry alone).
    */
  def upsertCounted(spark: SparkSession, rows: DataFrame,
      keyColumns: Seq[String]): Long =
    upsertImpl(spark, rows, keyColumns, skipEmptyCommit = true)._1

  private def upsertImpl(spark: SparkSession, rows: DataFrame,
      keyColumns: Seq[String], skipEmptyCommit: Boolean): (Long, Option[Snapshot]) =
    synchronized {
      require(keyColumns.nonEmpty, "upsert needs at least one key column")
      val schemaNow = schema
      val eqIds = keyColumns.map(c => schemaNow.idByName.getOrElse(c,
        throw new IllegalArgumentException(s"no such column: $c")))
      val dataFiles = DataWriter.write(rows, location, schemaNow, spec, sortOrder,
        meta.properties, avgRowBytesHint = avgRowBytes)
      val written = dataFiles.map(_.recordCount).sum
      // nothing to retire, nothing to add (and no file was written): leave
      // the table metadata untouched (no no-op snapshot)
      if (skipEmptyCommit && written == 0L) return (0L, None)
      // the data files DOUBLE as full-row equality-delete files (the spec
      // allows columns beyond `equality_ids` in a delete file — readers
      // project the key fields): one write job per upsert instead of two.
      // For a streaming upsert sink that halves per-trigger write-job
      // overhead, the dominant commit cost (BENCH_NOTES.md
      // "stream_minhash_lsh commit attribution (round 18)").
      //
      // Delete SCOPE: partition-scoped when provably safe, else global.
      // A partition-scoped equality delete only reaches data files of the
      // same spec + partition tuple (Iceberg spec), so scoping an upsert's
      // deletes by the incoming row's partition is correct ONLY when a
      // key's older versions are guaranteed to live in that partition:
      // every partition field must derive from a key column (key→tuple is
      // then a pure function) and every LIVE data file must carry the
      // current spec id (an older spec's files would escape the scoped
      // match). The live-state check — not spec HISTORY — is what makes
      // the gate recoverable: partition evolution followed by a full
      // compaction rewrites all live files under the current spec and
      // re-enables scoping, instead of one updateSpec call forcing every
      // future upsert's deletes global forever. When safe, it is the
      // 100-TB posture: each partition's scans anti-join only that
      // partition's delete files instead of every accumulated delete file
      // table-wide.
      val scopedDeletes = spec.fields.nonEmpty &&
        spec.fields.forall(f => eqIds.contains(f.sourceId)) &&
        liveDataOnCurrentSpec
      val deleteFiles = dataFiles
        .map(f => f.copy(content = 2, equalityIds = eqIds,
          partition = if (scopedDeletes) f.partition else Nil))
        .filter(_.recordCount > 0)
      val p = newSnapshot()
      val manifests = Seq(p.manifest(dataFiles, spec), p.manifest(deleteFiles,
        if (scopedDeletes) spec else PartitionSpec.GlobalDeletes, content = 1))
      (written, Some(p.commit("overwrite", p.onParent(manifests))))
    }

  // ------------------------------------------------- snapshot management
  /** Roll the table back to an earlier snapshot in the current history —
    * a metadata-only commit (no data movement): current pointer, `main`
    * ref, and a new snapshot-log entry. Later snapshots stay in metadata
    * (time travel still reaches them) until expiry reclaims them.
    */
  def rollbackTo(snapshotId: Long): Unit = synchronized {
    commitWithRequirements(Seq(AssertTableUUID(meta.tableUuid)), { m =>
      require(m.snapshotById(snapshotId).isDefined, s"no snapshot $snapshotId")
      val now = System.currentTimeMillis()
      m.copy(currentSnapshotId = Some(snapshotId),
        refs = m.refs + ("main" -> advanceRef(m, "main", snapshotId)),
        snapshotLog = m.snapshotLog :+ SnapshotLogEntry(now, snapshotId),
        lastUpdatedMs = now)
    })
  }

  /** Cherry-pick an APPEND snapshot onto the current main head: its added
    * files are re-committed as a fresh append at a NEW sequence number
    * (entries rewritten, not aliased — the files' delete-applicability
    * horizon must be the publish point, not the stage point). Typical after
    * a rollback orphaned good commits, or to publish a WAP branch that
    * [[fastForwardMain]] refuses because main advanced past the branch
    * point. Only appends are representable: an overwrite/delete snapshot
    * re-applied onto a moved main could delete rows it never saw.
    *
    * Duplicate-publish protection (Iceberg's cherrypick records the staged
    * id and refuses a second publish): each pick stamps
    * `source-snapshot-id` on its commit summary, and a pick is refused
    * when the source is already on main's ancestry (published by
    * fast-forward) or any main-ancestry commit already records it — a
    * retried pick would otherwise silently double the rows.
    */
  def cherryPick(snapshotId: Long): Snapshot = synchronized {
    val src = meta.snapshotById(snapshotId).getOrElse(
      throw new IllegalArgumentException(s"no snapshot $snapshotId"))
    require(src.summary.get("operation").forall(_ == "append"),
      s"only append snapshots cherry-pick; $snapshotId is " +
        src.summary.getOrElse("operation", "?"))
    @annotation.tailrec
    def assertUnpublished(id: Option[Long]): Unit = id match {
      case None => ()
      case Some(i) =>
        require(i != snapshotId,
          s"snapshot $snapshotId is already on main — refusing duplicate publish")
        val sn = meta.snapshotById(i)
        sn.foreach(s => require(
          !s.summary.get(IceTable.SourceSnapshotIdKey).contains(snapshotId.toString),
          s"snapshot $snapshotId was already cherry-picked as ${s.snapshotId} — " +
            "refusing duplicate publish"))
        assertUnpublished(sn.flatMap(_.parentSnapshotId))
    }
    assertUnpublished(meta.currentSnapshotId)
    val files = ManifestIO.readManifestList(src.manifestList)
      .filter(m => m.content == 0 && m.addedSnapshotId == snapshotId)
      .flatMap(m => ManifestIO.readManifest(m.path, meta.specs, schema)._2
        .filter(e => e.status == ManifestEntryStatus.Added &&
          e.snapshotId == snapshotId)
        .map(_.dataFile))
    require(files.nonEmpty, s"snapshot $snapshotId added no data files")
    retryOnConflict {
      val p = newSnapshot()
      p.commit("append", p.onParent(Seq(p.manifest(files, spec))),
        extraSummary = Map(IceTable.SourceSnapshotIdKey -> snapshotId.toString))
    }
  }

  // -------------------------------------------------- distributed snapshot
  /** Reserve a snapshot ID + commit UUID for workers (reference
    * `BeginDistributedSnapshot` `distributed_snapshot.go:52-76`).
    */
  def beginDistributedSnapshot(): DistributedSnapshot =
    DistributedSnapshot(meta.reserveSnapshotId(), meta.currentSnapshotId,
      UUID.randomUUID().toString)

  /** Assemble worker manifests into one snapshot with a centrally-assigned
    * sequence number; fails (no retry) if the parent ref moved — callers
    * must re-begin (reference `CommitDistributedSnapshot`
    * `distributed_snapshot.go:78-149`, `transaction.go:157-225`).
    */
  def commitDistributedSnapshot(ds: DistributedSnapshot,
      manifests: Seq[ManifestFile]): Snapshot = synchronized {
    if (meta.currentSnapshotId != ds.parentSnapshotId)
      throw new CommitConflictException(
        s"parent moved: now ${meta.currentSnapshotId}, began at ${ds.parentSnapshotId}")
    val p = newSnapshot(ds.snapshotId, ds.commitUuid)
    p.commit("append", p.onParent(manifests.map(_.copy(
      sequenceNumber = p.seq, minSequenceNumber = p.seq, addedSnapshotId = p.snapId))))
  }

  // ------------------------------------------------------------ transaction
  def newTransaction(): IceTransaction = new IceTransaction(this)

  /** Apply typed metadata updates as ONE requirement-validated commit
    * (reference `Transaction.Commit` over the update/requirement lists,
    * `transaction.go:608-635`): the update fold re-applies cleanly after a
    * conflict-triggered refresh, so commits rebase when their requirements
    * still hold.
    */
  def commitUpdates(requirements: Seq[TableRequirement],
      updates: Seq[TableUpdate]): Unit =
    commitWithRequirements(requirements, m =>
      updates.foldLeft(m)((acc, u) => u(acc))
        .copy(lastUpdatedMs = System.currentTimeMillis()))

  private[table] def commitTransaction(files: Seq[DataFile],
      setProps: Map[String, String], removeProps: Seq[String]): Unit = synchronized {
    // property changes ride the same metadata commit as the new snapshot;
    // passed as a delta so the conflict-retry path re-applies them after
    // its refresh() instead of losing them with the reloaded meta
    if (files.nonEmpty) retryOnConflict {
      val p = newSnapshot()
      p.commit("append", p.onParent(Seq(p.manifest(files, spec))),
        setProps = setProps, removeProps = removeProps)
    }
    else commitWithRequirements(Seq(AssertTableUUID(meta.tableUuid)), m =>
      m.copy(properties = m.properties -- removeProps ++ setProps,
        lastUpdatedMs = System.currentTimeMillis()))
  }

  // ------------------------------------------------------------- statistics
  /** Record a statistics file for a snapshot (reference `StatisticsFile`
    * `table/statistics.go:56-78`; metadata JSON `statistics` array). At most
    * one file per snapshot — setting replaces the previous entry, whose file
    * becomes reclaimable by orphan cleanup.
    */
  def setStatistics(sf: StatisticsFile): Unit =
    commitWithRequirements(Seq(AssertTableUUID(meta.tableUuid)), m =>
      m.copy(statistics = m.statistics.filterNot(_.snapshotId == sf.snapshotId) :+ sf,
        lastUpdatedMs = System.currentTimeMillis()))

  def removeStatistics(snapshotId: Long): Unit =
    commitWithRequirements(Seq(AssertTableUUID(meta.tableUuid)), m =>
      m.copy(statistics = m.statistics.filterNot(_.snapshotId == snapshotId),
        lastUpdatedMs = System.currentTimeMillis()))

  def setPartitionStatistics(pf: PartitionStatisticsFile): Unit =
    commitWithRequirements(Seq(AssertTableUUID(meta.tableUuid)), m =>
      m.copy(partitionStatistics =
          m.partitionStatistics.filterNot(_.snapshotId == pf.snapshotId) :+ pf,
        lastUpdatedMs = System.currentTimeMillis()))

  def removePartitionStatistics(snapshotId: Long): Unit =
    commitWithRequirements(Seq(AssertTableUUID(meta.tableUuid)), m =>
      m.copy(partitionStatistics =
          m.partitionStatistics.filterNot(_.snapshotId == snapshotId),
        lastUpdatedMs = System.currentTimeMillis()))

  /** ANALYZE: one distributed pass over the current snapshot sketching
    * every primitive column with Apache DataSketches theta sketches, written
    * as `apache-datasketches-theta-v1` blobs in a Puffin statistics file
    * (the standard Iceberg stats encoding) and recorded in table metadata.
    * Each blob carries `ndv` and `null-count` properties so consumers that
    * only need the estimate never read blob bytes; consumers that MERGE
    * stats (see [[analyzeIncrementally]]) union the sketches themselves.
    * The reference models statistics metadata only (`table/statistics.go:
    * 56-85`) — the compute, container write, and merge go beyond it.
    */
  def analyzeTable(spark: SparkSession): StatisticsFile = analyzeTable(spark, Nil)

  /** ANALYZE with additional token-frequency moment statistics: for each
    * spec, tokenize `column`, count document frequency per (token, group),
    * and persist Σ df and Σ df² as a `graft-token-df-moments-v1` Puffin
    * blob. Σ C(df,2) = (Σdf² − Σdf)/2 is EXACTLY the joined-row count of an
    * inverted-index count-join on that column, so cost-based plan choice
    * (exact-jaccard dedup) reads one metadata property instead of scanning
    * any fraction of a 100 TB corpus at query time.
    */
  def analyzeTable(spark: SparkSession,
      tokenStats: Seq[TokenMomentSpec]): StatisticsFile = {
    val snap = meta.currentSnapshot.getOrElse(
      throw new IllegalStateException("cannot analyze an empty table"))
    val cols = schema.fields.filter(_.tpe.isPrimitive)
    require(cols.nonEmpty, "no primitive columns to analyze")
    // the current snapshot through the current schema: a time-travel scan
    // would bind the snapshot's schema, which predates a later rename or
    // added column
    val df = newScan(selected = Some(cols.map(_.name))).toDF(spark)
    val (stats, _) = ThetaStats.sketchColumns(df.select(cols.map(f => col(f.name)): _*))
    val tokenBlobs = tokenStats.map { ts =>
      val fieldId = schema.idByName.getOrElse(ts.column,
        throw new IllegalArgumentException(s"no such column: ${ts.column}"))
      val grp = ts.groupBy.map(col).getOrElse(lit(1))
      val row = df.select(grp.as("grp"),
          explode(ts.tokenizer(col(ts.column))).as("tok"))
        .groupBy("tok", "grp").agg(count(lit(1)).as("df"))
        // Σdf² in double: a df of 10¹⁰ squares past Long range
        .agg(coalesce(sum(col("df")), lit(0L)).as("s1"),
          coalesce(sum(col("df").cast("double") * col("df").cast("double")),
            lit(0.0)).as("s2"))
        .first()
      val s1 = row.getLong(0)
      val s2 = row.getDouble(1)
      val joinedRows = (s2 - s1) / 2.0
      (Puffin.BlobDescriptor(TokenMomentsBlobType, Seq(fieldId),
        snap.snapshotId, snap.sequenceNumber, 0L, 0L,
        Map("sum-df" -> s1.toString, "sum-df2" -> s2.toString,
          "joined-rows" -> joinedRows.toString)),
        s"$s1,$s2".getBytes("UTF-8"))
    }
    writeStatsFile(snap, cols.map(_.id).zip(stats), tokenBlobs)
  }

  /** Incremental ANALYZE: union the previous statistics file's sketches with
    * sketches over ONLY the data files appended since that snapshot — at
    * 100 TB this reads the day's delta, not the table. Falls back to a full
    * [[analyzeTable]] when no prior stats cover an ancestor, when any
    * intervening snapshot is not a pure append (deletes/compaction change
    * already-sketched files; theta sketches cannot subtract), or when the
    * analyzed column set changed.
    */
  def analyzeIncrementally(spark: SparkSession): StatisticsFile = {
    val snap = meta.currentSnapshot.getOrElse(
      throw new IllegalStateException("cannot analyze an empty table"))
    val cols = schema.fields.filter(_.tpe.isPrimitive)
    // ancestry from the current snapshot back to one with recorded stats
    val bySnapId = meta.snapshots.map(s => s.snapshotId -> s).toMap
    val statsById = meta.statistics.map(s => s.snapshotId -> s).toMap
    var cursor: Option[Snapshot] = Some(snap)
    val between = Seq.newBuilder[Snapshot]
    var prev: Option[(Snapshot, StatisticsFile)] = None
    while (cursor.isDefined && prev.isEmpty) {
      val c = cursor.get
      statsById.get(c.snapshotId) match {
        case Some(sf) if c.snapshotId != snap.snapshotId => prev = Some((c, sf))
        case _ =>
          between += c
          cursor = c.parentSnapshotId.flatMap(bySnapId.get)
      }
    }
    val appendOnly = prev.isDefined &&
      between.result().forall(_.summary.get("operation").contains("append"))
    // theta blobs only: token-moment blobs are not union-able (merging Σdf²
    // needs per-token counts) so incremental ANALYZE neither matches on nor
    // carries them — recompute via the full analyzeTable overload
    val fieldsMatch = prev.exists(_._2.blobMetadata
      .filter(_.blobType == ThetaBlobType).map(_.fields).toSet ==
      cols.map(f => Seq(f.id)).toSet)
    if (!appendOnly || !fieldsMatch) return analyzeTable(spark)
    val (prevSnap, prevSf) = prev.get
    val scan = newScan(selected = Some(cols.map(_.name)))
    val newTasks = scan.planFiles().filter(_.dataSeq > prevSnap.sequenceNumber)
    val prevBlobs = Puffin.readFooter(prevSf.statisticsPath)
      .filter(_.blobType == ThetaBlobType)
      .map(d => d.fields.head -> d).toMap
    val merged: Seq[(Int, ThetaStats.ColumnStats)] =
      if (newTasks.isEmpty) {
        cols.map { f =>
          val d = prevBlobs(f.id)
          f.id -> ThetaStats.ColumnStats(
            Puffin.readBlob(prevSf.statisticsPath, d.offset, d.length),
            d.properties.getOrElse("null-count", "0").toLong)
        }
      } else {
        val (fresh, _) = ThetaStats.sketchColumns(scan.toDFFor(spark, newTasks))
        cols.zip(fresh).map { case (f, st) =>
          val d = prevBlobs(f.id)
          val prevBytes = Puffin.readBlob(prevSf.statisticsPath, d.offset, d.length)
          f.id -> ThetaStats.ColumnStats(
            ThetaStats.unionBytes(prevBytes, st.sketch),
            d.properties.getOrElse("null-count", "0").toLong + st.nullCount)
        }
      }
    writeStatsFile(snap, merged)
  }

  private def writeStatsFile(snap: Snapshot,
      stats: Seq[(Int, ThetaStats.ColumnStats)],
      extraBlobs: Seq[(Puffin.BlobDescriptor, Array[Byte])] = Nil): StatisticsFile = {
    val path = metaPath(s"stats-${snap.snapshotId}-${UUID.randomUUID()}.puffin")
    // a snapshot gets ONE statistics file (replace-on-set), so a rewrite —
    // e.g. ANALYZE after a codebook attach — must carry forward codebook
    // blobs it is not itself replacing or they'd be silently dropped
    val extraKeys = extraBlobs.map(b => (b._1.blobType, b._1.fields)).toSet
    val carriedCodebooks = meta.statistics.find(_.snapshotId == snap.snapshotId)
      .toSeq.flatMap { sf =>
        Puffin.readFooter(sf.statisticsPath)
          .filter(d => d.blobType == IvfCodebookBlobType &&
            !extraKeys.contains((d.blobType, d.fields)))
          .map(d => d.copy(offset = 0L, length = 0L) ->
            Puffin.readBlob(sf.statisticsPath, d.offset, d.length))
      }
    val descriptors = stats.map { case (fieldId, st) =>
      Puffin.BlobDescriptor(ThetaBlobType, Seq(fieldId),
        snap.snapshotId, snap.sequenceNumber, 0L, 0L,
        Map("ndv" -> st.ndv.toString, "null-count" -> st.nullCount.toString)) ->
        st.sketch
    } ++ extraBlobs ++ carriedCodebooks
    val (placed, footerSize) = Puffin.write(path, descriptors)
    val size = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(path), graft.meta.FileIO.conf)
      .getFileStatus(new org.apache.hadoop.fs.Path(path)).getLen
    val blobs = placed.map(d => BlobMetadata(d.blobType, d.snapshotId,
      d.sequenceNumber, d.fields, d.properties))
    val sf = StatisticsFile(snap.snapshotId, path, size, footerSize, blobs)
    setStatistics(sf)
    sf
  }

  /** NDV of a column from the LATEST statistics file covering an ancestor
    * of the current snapshot, if any — the hook cost-based planning reads.
    */
  def ndvOf(colName: String): Option[Long] =
    statsProperty(colName, ThetaBlobType, "ndv").map(_._1.toLong)

  /** Past this growth factor since the ANALYZE that produced a token-moment
    * blob, the quadratic extrapolation is no longer trusted and plan choice
    * falls back to its row-capped sample.
    */
  val TokenStatsMaxGrowth: Double = 8.0

  /** Σ C(df,2) over (token, group) document frequencies of a column, from
    * the latest ANALYZE that computed token moments (see
    * [[TokenMomentSpec]]) — the cost hook exact-jaccard plan choice reads
    * instead of sampling the corpus at query time.
    *
    * Staleness guard: the blob records the moment AT ITS SNAPSHOT, and the
    * ancestor walk would happily surface one from a table 100× smaller.
    * Under proportional growth every df scales with row count, so
    * Σ C(df,2) ≈ Σ df²/2 scales with its SQUARE — the hint is scaled by
    * (rows-now / rows-then)². Past [[TokenStatsMaxGrowth]], or when either
    * row count is unrecorded, returns None so the caller samples instead of
    * trusting an extrapolation.
    */
  def tokenJoinedRowsOf(colName: String): Option[Double] =
    statsProperty(colName, TokenMomentsBlobType, "joined-rows").flatMap {
      case (v, statsSnapId) =>
        val rowsAt = (sid: Long) => meta.snapshots.find(_.snapshotId == sid)
          .flatMap(_.summary.get("total-records")).map(_.toLong)
        for {
          thenRows <- rowsAt(statsSnapId).filter(_ > 0L)
          nowRows <- meta.currentSnapshot.map(_.snapshotId).flatMap(rowsAt)
          ratio = nowRows.toDouble / thenRows
          if ratio <= TokenStatsMaxGrowth
        } yield v.toDouble * ratio * ratio
    }

  /** A blob property from the LATEST statistics file covering an ancestor
    * of the current snapshot, for the blob of `blobType` on `colName` —
    * with the snapshot the statistics were computed at, for staleness
    * decisions.
    */
  private def statsProperty(colName: String, blobType: String,
      property: String): Option[(String, Long)] =
    schema.idByName.get(colName).flatMap { id =>
      ancestorStatsFiles.iterator
        .flatMap(sf => sf.blobMetadata.filter(b =>
          b.fields == Seq(id) && b.blobType == blobType)
          .flatMap(_.properties.get(property)).map(v => (v, sf.snapshotId)))
        .nextOption()
    }

  /** Statistics files along the current snapshot's ancestry, nearest first. */
  private def ancestorStatsFiles: Seq[StatisticsFile] = {
    val ancestors = Iterator.iterate(meta.currentSnapshot)(s =>
      s.flatMap(_.parentSnapshotId).flatMap(p => meta.snapshots.find(_.snapshotId == p)))
      .takeWhile(_.isDefined).flatten.map(_.snapshotId).toSeq
    ancestors.flatMap(sid => meta.statistics.filter(_.snapshotId == sid))
  }

  /** Persist an IVF codebook for `colName` as a Puffin blob on the current
    * snapshot's statistics file — fit once, probed by every subsequent ANN
    * scan ([[graft.ops.Similarity.ivfTopKForTable]]) instead of
    * re-clustering the corpus per invocation. Existing blobs of the
    * snapshot's stats file (NDV sketches, token moments) are carried into
    * the rewritten file, since Iceberg allows one statistics file per
    * snapshot.
    */
  def setIvfCodebook(colName: String,
      centers: Array[Array[Double]]): StatisticsFile = {
    val snap = meta.currentSnapshot.getOrElse(
      throw new IllegalStateException("cannot attach a codebook to an empty table"))
    val fieldId = schema.idByName.getOrElse(colName,
      throw new IllegalArgumentException(s"no such column: $colName"))
    val dim = if (centers.isEmpty) 0 else centers(0).length
    val codebook = Puffin.BlobDescriptor(IvfCodebookBlobType, Seq(fieldId),
      snap.snapshotId, snap.sequenceNumber, 0L, 0L,
      Map("n-cells" -> centers.length.toString, "dim" -> dim.toString)) ->
      graft.functions.IvfCodebook.serialize(centers)
    val carried = meta.statistics.find(_.snapshotId == snap.snapshotId).toSeq
      .flatMap { sf =>
        Puffin.readFooter(sf.statisticsPath)
          .filterNot(d => d.blobType == IvfCodebookBlobType && d.fields == Seq(fieldId))
          .map(d => d.copy(offset = 0L, length = 0L) ->
            Puffin.readBlob(sf.statisticsPath, d.offset, d.length))
      }
    writeStatsFile(snap, Nil, carried :+ codebook)
  }

  /** The persisted IVF codebook for `colName` from the LATEST statistics
    * file covering an ancestor of the current snapshot, if any. Staleness is
    * benign here: an old codebook only shifts cell populations (recall/cost),
    * never correctness, because every candidate is exactly re-ranked.
    */
  def ivfCodebookOf(colName: String): Option[Array[Array[Double]]] =
    schema.idByName.get(colName).flatMap { id =>
      ancestorStatsFiles.iterator.flatMap { sf =>
        sf.blobMetadata.find(b =>
            b.fields == Seq(id) && b.blobType == IvfCodebookBlobType)
          .flatMap(_ => Puffin.readFooter(sf.statisticsPath)
            .find(d => d.fields == Seq(id) && d.blobType == IvfCodebookBlobType))
          .map(d => graft.functions.IvfCodebook.deserialize(
            Puffin.readBlob(sf.statisticsPath, d.offset, d.length),
            d.properties("dim").toInt))
      }.nextOption()
    }

  /** Write the partition-statistics file for the current snapshot: one row
    * per partition tuple with file/record/byte and delete rollups (the
    * Iceberg `partition-statistics` metadata entry; reference models the
    * pointer only, `table/statistics.go:79-85`). Aggregation happens over
    * manifest ENTRIES (metadata-sized) — no data files are read.
    */
  def writePartitionStatistics(spark: SparkSession): PartitionStatisticsFile = {
    val snap = meta.currentSnapshot.getOrElse(
      throw new IllegalStateException("cannot analyze an empty table"))
    val tasks = newScan(snapshotId = Some(snap.snapshotId)).planFiles()
    import spark.implicits._
    val rows = tasks
      .groupBy(t => t.file.partition.map(v => if (v == null) "null" else v.toString)
        .mkString("/"))
      .map { case (p, ts) =>
        val posDeletes = ts.flatMap(t => t.deletes ++ t.dvDeletes).distinctBy(f =>
          (f.filePath, f.contentOffset))
        val eqDeletes = ts.flatMap(_.eqDeletes.map(_._1)).distinctBy(_.filePath)
        (p, ts.size.toLong, ts.map(_.file.recordCount).sum,
          ts.map(_.file.fileSizeInBytes).sum,
          posDeletes.size.toLong, posDeletes.map(_.recordCount).sum,
          eqDeletes.size.toLong, eqDeletes.map(_.recordCount).sum,
          snap.snapshotId)
      }.toSeq.sortBy(_._1)
    val df = rows.toDF("partition", "data_file_count", "data_record_count",
      "total_data_file_size_in_bytes", "position_delete_file_count",
      "position_delete_record_count", "equality_delete_file_count",
      "equality_delete_record_count", "last_updated_snapshot_id")
    val tmpDir = metaPath(s".pstats-${UUID.randomUUID()}")
    df.coalesce(1).write.mode("overwrite").parquet(tmpDir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(tmpDir), graft.meta.FileIO.conf)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmpDir))
      .map(_.getPath).find(_.getName.startsWith("part-")).get
    val dest = new org.apache.hadoop.fs.Path(
      metaPath(s"partition-stats-${snap.snapshotId}-${UUID.randomUUID()}.parquet"))
    require(fs.rename(part, dest), s"rename $part -> $dest failed")
    fs.delete(new org.apache.hadoop.fs.Path(tmpDir), true)
    // dest.toString keeps scheme/authority so the recorded path resolves on
    // non-local warehouses (s3a/hdfs), matching StatisticsFile paths
    val pf = PartitionStatisticsFile(snap.snapshotId, dest.toString,
      fs.getFileStatus(dest).getLen)
    setPartitionStatistics(pf)
    pf
  }

  // ------------------------------------------------------------- properties
  /** Set/remove table properties as one metadata commit (reference updates
    * `set-properties`/`remove-properties`, `table/updates.go`).
    */
  def updateProperties(set: Map[String, String] = Map.empty,
      remove: Seq[String] = Nil): Unit =
    // a property delta carries no preconditions — it rebases over anything
    commitWithRequirements(Seq(AssertTableUUID(meta.tableUuid)), m =>
      m.copy(properties = m.properties -- remove ++ set,
        lastUpdatedMs = System.currentTimeMillis()))

  /** Delete superseded metadata JSON versions when
    * `write.metadata.delete-after-commit.enabled` (reference
    * `deleteOldMetadata` `table/table.go:263-279`).
    */
  private[table] def maintainMetadata(): Unit =
    if (meta.properties.get("write.metadata.delete-after-commit.enabled").contains("true")) {
      val keep = meta.properties
        .getOrElse("write.metadata.previous-versions-max", "100").toInt
      catalog.deleteMetadataBefore(name, version - keep)
    }

  // -------------------------------------------------------- schema evolution
  /** Metadata-only schema evolution (reference `update_schema.go:134-944`):
    * adds append a fresh field ID, renames keep the ID (ID-based parquet
    * resolution serves old files), drops hide the column, promotions must
    * be legal per `IceType.canPromote`. Readers of old snapshots still see
    * that snapshot's schema (schema-id pinning).
    */
  def updateSchema(): SchemaUpdate = new SchemaUpdate(this)

  private[table] def commitNewSchema(fields: Seq[NestedField], newLastColumnId: Int,
      identifierFieldIds: Option[Seq[Int]] = None): Unit = {
    // the update was built against this schema; a concurrent schema change
    // invalidates it (semantic conflict), while appends/properties rebase
    val baseSchemaId = meta.currentSchemaId
    commitWithRequirements(
      Seq(AssertTableUUID(meta.tableUuid), AssertCurrentSchemaID(baseSchemaId)), { m =>
        val ids = identifierFieldIds.getOrElse(m.currentSchema.identifierFieldIds)
        val newSchema = IceSchema(m.schemas.map(_.schemaId).max + 1, fields, ids)
        // identifier invariants survive every evolution path: a dropped
        // identifier column (or one made optional) would otherwise commit
        // spec-invalid metadata that equality deletes/CDC and external
        // readers reject (reference setIdentifierFields enforces required)
        ids.foreach { id =>
          val f = newSchema.byId.getOrElse(id, throw new IllegalArgumentException(
            s"cannot commit schema: identifier field $id was dropped — " +
              "clear identifier fields first"))
          require(f.required,
            s"cannot commit schema: identifier field '${f.name}' must stay required")
        }
        m.copy(
          currentSchemaId = newSchema.schemaId,
          schemas = m.schemas :+ newSchema,
          lastColumnId = math.max(m.lastColumnId, newLastColumnId),
          lastUpdatedMs = System.currentTimeMillis())
      })
  }

  /** Partition evolution (reference `update_spec.go:57-411`): install a new
    * default spec built against the current schema; existing manifests keep
    * their spec id and are planned with it.
    */
  def updateSpec(fields: (String, Transform, String)*): Unit = {
    val baseSpecId = meta.defaultSpecId
    commitWithRequirements(
      Seq(AssertTableUUID(meta.tableUuid), AssertDefaultSpecID(baseSpecId)), { m =>
        val newSpecId = m.specs.map(_.specId).max + 1
        val base = PartitionSpec.of(newSpecId, fields: _*)(m.currentSchema)
        // partition field IDs continue from the table's last assigned
        val renumbered = base.copy(fields = base.fields.zipWithIndex.map { case (f, i) =>
          f.copy(fieldId = m.lastPartitionId + 1 + i)
        })
        m.copy(
          defaultSpecId = newSpecId,
          specs = m.specs :+ renumbered,
          lastPartitionId = renumbered.lastAssignedFieldId,
          lastUpdatedMs = System.currentTimeMillis())
      })
  }

  /** COUNT / MIN / MAX answered ENTIRELY from manifest statistics — zero
    * data-file bytes read, cost proportional to the manifest count however
    * large the table. This is the aggregate-pushdown endgame a 100 TB
    * deployment wants for footer-shaped questions: the answer comes from
    * the same per-file (recordCount, lowerBounds, upperBounds) the planner
    * already maintains.
    *
    * Exactness contract (refused with IllegalStateException otherwise):
    *   - no delete content anywhere in the snapshot (position/equality/DV
    *     would make file-level counts over-counts);
    *   - every live data file carries both bounds for every requested
    *     column (parquet drops double/float stats when NaNs are present,
    *     and an all-null column writes none — absent bounds mean the
    *     footer could not vouch for the file, so neither can we);
    *   - requested columns are primitives with byte-comparable exact
    *     bounds (no truncated string bounds).
    */
  def statsAggregate(columns: Seq[String]): (Long, Map[String, (Any, Any)]) = {
    val schemaNow = schema
    val colIds = columns.map { c =>
      val id = schemaNow.idByName.getOrElse(c,
        throw new IllegalArgumentException(s"no such column: $c"))
      val t = schemaNow.byId(id).tpe
      t match {
        case IceInt | IceLong | IceFloat | IceDouble | IceDate | IceTime |
             IceTimestamp | IceTimestampTz | IceTimestampNs | IceTimestampTzNs |
             IceDecimal(_, _) => ()
        case other => throw new IllegalStateException(
          s"stats aggregate needs exact-bounded primitives; $c is $other")
      }
      (c, id, t)
    }
    val current = meta.currentSnapshot.getOrElse(
      throw new IllegalStateException("empty table"))
    val manifests = ManifestIO.readManifestList(current.manifestList)
    if (manifests.exists(_.content != 0))
      throw new IllegalStateException(
        "stats aggregate refused: snapshot carries delete files")
    var rows = 0L
    var acc = Map.empty[String, (Any, Any)]
    manifests.foreach { m =>
      ManifestIO.readManifest(m.path, meta.specs, schemaNow)._2
        .filter(_.status != ManifestEntryStatus.Deleted)
        .foreach { e =>
          val f = e.dataFile
          if (f.content != 0) throw new IllegalStateException(
            "stats aggregate refused: snapshot carries delete files")
          rows += f.recordCount
          colIds.foreach { case (c, id, t) =>
            // a 0-row file carries no footer stats and contributes nothing;
            // an all-null column writes no bounds but its nulls are counted
            val allNull = f.recordCount == 0L ||
              f.nullValueCounts.get(id).contains(f.recordCount)
            if (!allNull) {
              val lo = f.lowerBounds.get(id).map(Bounds.decode(t, _))
                .getOrElse(throw new IllegalStateException(
                  s"stats aggregate refused: ${f.filePath} has no lower bound for $c"))
              val hi = f.upperBounds.get(id).map(Bounds.decode(t, _))
                .getOrElse(throw new IllegalStateException(
                  s"stats aggregate refused: ${f.filePath} has no upper bound for $c"))
              acc += (c -> (acc.get(c) match {
                case None => (lo, hi)
                case Some((l0, h0)) => (
                  if (Bounds.compare(t, lo, l0) < 0) lo else l0,
                  if (Bounds.compare(t, hi, h0) > 0) hi else h0)
              }))
            }
          }
        }
    }
    (rows, acc)
  }

  // -------------------------------------------------------- metadata views
  def snapshotsDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    meta.snapshots.map(s => (s.snapshotId, s.parentSnapshotId, s.sequenceNumber,
      new java.sql.Timestamp(s.timestampMs), s.manifestList,
      s.summary.getOrElse("operation", ""))).toDF(
      "snapshot_id", "parent_id", "sequence_number", "committed_at", "manifest_list",
      "operation")
  }

  def manifestsDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    currentSnapshot.map { s =>
      ManifestIO.readManifestList(s.manifestList).map(m => (m.path, m.length, m.specId,
        m.content, m.sequenceNumber, m.addedSnapshotId, m.addedFilesCount,
        m.existingFilesCount, m.deletedFilesCount)).toDF(
        "path", "length", "partition_spec_id", "content", "sequence_number",
        "added_snapshot_id", "added_data_files_count", "existing_data_files_count",
        "deleted_data_files_count")
    }.getOrElse(spark.emptyDataFrame)
  }

  def filesDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    newScan().planFiles().map { t =>
      (t.file.filePath, t.file.fileFormat, t.file.recordCount, t.file.fileSizeInBytes,
        t.deletes.size)
    }.toDF("file_path", "file_format", "record_count", "file_size_in_bytes",
      "delete_file_count")
  }

  /** Per-partition file/record/byte rollup of the current snapshot (the
    * `partitions` metadata table).
    */
  def partitionsDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    newScan().planFiles()
      .groupBy(_.file.partition.map(v => if (v == null) "null" else v.toString)
        .mkString("/"))
      .map { case (p, ts) =>
        (p, ts.size.toLong, ts.map(_.file.recordCount).sum,
          ts.map(_.file.fileSizeInBytes).sum)
      }.toSeq
      .toDF("partition", "file_count", "record_count", "total_size_in_bytes")
  }

  /** Named references (the `refs` metadata table; reference `table/refs.go`). */
  def refsDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    meta.refs.toSeq.sortBy(_._1)
      .map { case (n, r) => (n, r.refType, r.snapshotId) }
      .toDF("name", "type", "snapshot_id")
  }

  /** Current-pointer history (the `history` metadata table): one row per
    * snapshot-log entry, with `is_current_ancestor` walked from the current
    * snapshot's parent chain — false rows are rolled-back lineage.
    */
  def historyDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val ancestors = Iterator.iterate(currentSnapshot)(s =>
      s.flatMap(_.parentSnapshotId).flatMap(meta.snapshotById))
      .takeWhile(_.isDefined).flatten.map(_.snapshotId).toSet
    meta.snapshotLog.map(e => (new java.sql.Timestamp(e.timestampMs), e.snapshotId,
      meta.snapshotById(e.snapshotId).flatMap(_.parentSnapshotId),
      ancestors.contains(e.snapshotId)))
      .toDF("made_current_at", "snapshot_id", "parent_id", "is_current_ancestor")
  }

  /** Metadata-file lineage (the `metadata_log_entries` table): prior
    * metadata JSON files with the snapshot current when each was written.
    */
  def metadataLogDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    meta.metadataLog.map { e =>
      val current = meta.snapshotLog.filter(_.timestampMs <= e.timestampMs)
        .sortBy(_.timestampMs).lastOption.map(_.snapshotId)
      (new java.sql.Timestamp(e.timestampMs), e.metadataFile, current)
    }.toDF("timestamp", "file", "latest_snapshot_id")
  }

  /** Raw manifest entries of the current snapshot (the `entries` metadata
    * table): status/snapshot/sequence plus the data-file descriptor, before
    * any scan-level pruning or delete matching.
    */
  def entriesDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    currentSnapshot.map { s =>
      ManifestIO.readManifestList(s.manifestList).flatMap { mf =>
        val (_, entries) = ManifestIO.readManifest(mf.path, meta.specs, meta.currentSchema)
        entries.map(e => (e.status, e.snapshotId,
          e.sequenceNumber.getOrElse(mf.sequenceNumber),
          e.dataFile.content, e.dataFile.filePath, e.dataFile.fileFormat,
          e.dataFile.recordCount, e.dataFile.fileSizeInBytes))
      }.toDF("status", "snapshot_id", "sequence_number", "content", "file_path",
        "file_format", "record_count", "file_size_in_bytes")
    }.getOrElse(spark.emptyDataFrame)
  }

  /** Every live data/delete file reachable from ANY retained snapshot (the
    * `all_files` metadata table), deduplicated by path — the union
    * maintenance jobs diff against when deciding what storage still matters.
    */
  def allFilesDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, (Int, String, String, Long, Long)]
    meta.snapshots.foreach { s =>
      ManifestIO.readManifestList(s.manifestList).foreach { mf =>
        val (_, entries) = ManifestIO.readManifest(mf.path, meta.specs, meta.currentSchema)
        entries.filter(_.status != ManifestEntryStatus.Deleted).foreach { e =>
          seen.getOrElseUpdate(e.dataFile.filePath,
            (e.dataFile.content, e.dataFile.filePath, e.dataFile.fileFormat,
              e.dataFile.recordCount, e.dataFile.fileSizeInBytes))
        }
      }
    }
    seen.values.toSeq
      .toDF("content", "file_path", "file_format", "record_count", "file_size_in_bytes")
  }

  /** Live DELETE files of the current snapshot (the `delete_files` metadata
    * table): positional (content=1 with path bounds), equality (content=2
    * with the key field IDs), and deletion vectors (DV pointer set) — the
    * MOR-debt view compaction jobs watch.
    */
  def deleteFilesDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    currentSnapshot.map { s =>
      ManifestIO.readManifestList(s.manifestList).filter(_.content == 1).flatMap { mf =>
        val (_, entries) = ManifestIO.readManifest(mf.path, meta.specs, meta.currentSchema)
        entries.filter(_.status != ManifestEntryStatus.Deleted).map { e =>
          val f = e.dataFile
          (f.content, f.filePath, f.fileFormat, f.recordCount, f.fileSizeInBytes,
            e.sequenceNumber.getOrElse(mf.sequenceNumber),
            if (f.equalityIds.isEmpty) null else f.equalityIds.mkString(","),
            f.referencedDataFile.orNull)
        }
      }.toDF("content", "file_path", "file_format", "record_count",
        "file_size_in_bytes", "sequence_number", "equality_ids",
        "referenced_data_file")
    }.getOrElse(spark.emptyDataFrame)
  }

  /** Manifests of EVERY retained snapshot (the `all_manifests` metadata
    * table), one row per (snapshot, manifest) — the coverage view
    * rewriteManifests and expiry planning reason over.
    */
  def allManifestsDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    meta.snapshots.flatMap { s =>
      ManifestIO.readManifestList(s.manifestList).map(m =>
        (s.snapshotId, m.path, m.length, m.specId, m.content, m.sequenceNumber,
          m.addedSnapshotId))
    }.toDF("reference_snapshot_id", "path", "length", "partition_spec_id",
      "content", "sequence_number", "added_snapshot_id")
  }

  // ---------------------------------------------------------- maintenance
  /** Expire snapshots older than the timestamp, always retaining the current
    * one (reference `Transaction.ExpireSnapshots` `transaction.go:256-363`).
    * Per-ref retention policies override the call's arguments
    * (`refs.go:40-45`): a ref past its own `max-ref-age-ms` is dropped
    * (never `main`; absent = retained forever, the spec default), a branch's
    * ancestry is kept back to `min-snapshots-to-keep` /
    * `max-snapshot-age-ms`, a tag pins exactly its snapshot.
    */
  def expireSnapshots(olderThanMs: Long, retainLast: Int = 1): Unit = synchronized {
    val nowMs = System.currentTimeMillis()
    val byId = meta.snapshots.map(s => s.snapshotId -> s).toMap
    val (liveRefs, agedOutRefs) = meta.refs.partition { case (name, ref) =>
      name == "main" || ref.maxRefAgeMs.forall(maxAge =>
        byId.get(ref.snapshotId).forall(s => nowMs - s.timestampMs <= maxAge))
    }
    val keepIds = scala.collection.mutable.Set.empty[Long]
    liveRefs.foreach { case (_, ref) =>
      if (ref.refType == "branch") {
        // ancestry walk (reference transaction.go:328-352): keep while the
        // snapshot is young by the branch's policy OR under its min count
        val minKeep = ref.minSnapshotsToKeep.getOrElse(retainLast)
        var id = Option(ref.snapshotId)
        var n = 0
        var done = false
        while (!done && id.exists(byId.contains)) {
          val s = byId(id.get)
          val expiredByAge = ref.maxSnapshotAgeMs
            .map(maxAge => nowMs - s.timestampMs > maxAge)
            .getOrElse(s.timestampMs < olderThanMs)
          if (expiredByAge && n >= minKeep) done = true
          else { keepIds += s.snapshotId; id = s.parentSnapshotId; n += 1 }
        }
      } else keepIds += ref.snapshotId
    }
    keepIds ++= meta.currentSnapshotId
    keepIds ++= meta.snapshots.sortBy(-_.timestampMs).take(retainLast).map(_.snapshotId)
    val (kept, expired) = meta.snapshots.partition(s =>
      keepIds.contains(s.snapshotId) || s.timestampMs >= olderThanMs)
    if (expired.isEmpty && agedOutRefs.isEmpty) return
    val expiredIds = expired.map(_.snapshotId).toSet
    val newMeta = meta.copy(
      snapshots = kept,
      refs = liveRefs,
      snapshotLog = meta.snapshotLog.filterNot(e => expiredIds.contains(e.snapshotId)),
      // statistics ride their snapshot's lifetime; dropping the entry here
      // releases the file to orphan cleanup
      statistics = meta.statistics.filterNot(s => expiredIds.contains(s.snapshotId)),
      partitionStatistics =
        meta.partitionStatistics.filterNot(s => expiredIds.contains(s.snapshotId)),
      lastUpdatedMs = System.currentTimeMillis())
    commitMeta(newMeta)
  }

  /** Delete files under the table location that no LIVE snapshot references
    * (reference `DeleteOrphanFiles` `orphan_cleanup.go:164-430`,
    * `getReferencedFiles` `:229`). Walks both `data/` and `metadata/`, so
    * expired snapshots' manifest lists and manifests are reclaimed; catalog
    * metadata JSON versions and the version hint are governed by
    * delete-after-commit, never by orphan cleanup.
    */
  def deleteOrphanFiles(olderThanMs: Long, dryRun: Boolean = false): Seq[String] = {
    import scala.collection.parallel.CollectionConverters._
    // referenced set built in parallel and deduplicated BEFORE reading
    // (reference getReferencedFiles `orphan_cleanup.go:229` fans out per
    // manifest): snapshots share manifest lists across refs and manifests
    // across commits, so the old sequential per-snapshot walk re-read the
    // same Avro O(snapshots) times — at 10³ snapshots that was the whole
    // runtime. Each distinct manifest decodes once, under the schema of
    // one snapshot that references it (any referencing snapshot's schema
    // decodes it: a manifest is written under a single spec/schema pair).
    val listPaths = meta.snapshots.map(s =>
      s.manifestList -> s.schemaId).toMap
    // fold each list into a concurrent dedup map instead of flatMapping all
    // (path, schemaId) pairs into one intermediate: successive snapshots
    // share almost all their manifests, so the pair count is O(snapshots ×
    // manifests-per-snapshot) — quadratic in history length — while the
    // DISTINCT manifest count stays linear. At 10⁴ one-file commits the
    // flatMap materialized 5×10⁷ tuples and OOM'd an 8 GB driver; the fold
    // peaks at the distinct count
    val manifestPaths: Map[String, Int] = {
      val acc = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
      listPaths.toSeq.par.foreach { case (list, schemaId) =>
        ManifestIO.readManifestList(list)
          .foreach(m => acc.putIfAbsent(m.path, Integer.valueOf(schemaId)))
      }
      val b = Map.newBuilder[String, Int]
      acc.forEach((k, v) => b += k -> v.intValue)
      b.result()
    }
    val dataPaths: Seq[String] = manifestPaths.toSeq.par.flatMap {
      case (mf, schemaId) =>
        val (_, entries) = ManifestIO.readManifest(mf, meta.specs,
          meta.schemaById(schemaId).getOrElse(schema))
        entries.map(_.dataFile.filePath)
    }.seq
    // membership is tested in a scheme/authority-equivalent canonical form
    // with a schemeless-side path-only fallback (reference keeps both raw
    // and normalized lookups): manifests record whatever form the writer
    // used ("file:/wh/data/x" vs "/wh/data/x" vs "s3a://bucket/x") while
    // the walk below yields the filesystem's own form — raw string
    // comparison false-orphans every scheme-qualified warehouse (deleting
    // LIVE data) and false-retains true orphans; forcing schemeless to
    // file:// would false-orphan every schemeless manifest path on a
    // non-local defaultFS (see [[graft.meta.ReferencedPaths]])
    val referenced = new graft.meta.ReferencedPaths(
      dataPaths ++ manifestPaths.keys ++ listPaths.keys ++
        meta.statistics.map(_.statisticsPath) ++
        meta.partitionStatistics.map(_.statisticsPath))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(location), graft.meta.FileIO.conf)
    val orphans = Seq.newBuilder[(String, org.apache.hadoop.fs.Path)]
    def walk(dir: String): Unit =
      FileIO.listRecursive(dir).foreach { st =>
        val base = st.getPath.getName
        // hidden/marker files (_SUCCESS, .crc) are committer artifacts; the
        // catalog's own files are out of scope
        val isCatalogFile = base.endsWith(".metadata.json") ||
          base.endsWith(".metadata.json.gz") || base == "version-hint.text" ||
          base == "renamed-away.text" // rename tombstone: deleting it would resurrect the retired identifier
        if (!base.startsWith("_") && !base.startsWith(".") && !isCatalogFile &&
            !referenced.contains(st.getPath.toString) &&
            st.getModificationTime < olderThanMs)
          orphans += st.getPath.toUri.getPath -> st.getPath
      }
    // walk the provider's roots: with write.data.path / write.metadata.path
    // overrides (or object-storage entropy prefixes) table files live
    // there, not under $location — and the default provider resolves to
    // exactly $location/{data,metadata}
    walk(locationProvider.dataPath)
    walk(locationProvider.metadataPath)
    if (locationProvider.dataPath != s"$location/data") walk(s"$location/data")
    if (locationProvider.metadataPath != s"$location/metadata") walk(s"$location/metadata")
    val result = orphans.result()
    // delete fan-out in parallel — one round-trip per file is the cost
    // model on object storage, and the old one-at-a-time loop serialized
    // 10⁴ deletes through the driver (Hadoop FileSystem is thread-safe)
    if (!dryRun) result.par.foreach { case (_, p) => fs.delete(p, false); () }
    result.map(_._1)
  }

  /** Garbage-collect derived-artifact directories (`artifacts/<name>-s<id>`
    * — the pair graphs / LSH candidate sets
    * [[graft.ops.IceQueries.pairGraph]] persists per snapshot): a directory
    * whose trailing `-s<snapshotId>` no longer names a LIVE snapshot is
    * invalidated state and is deleted; anything else (live ids, or names
    * without the suffix) is left untouched. Run after [[expireSnapshots]] —
    * without this, continuous ingest accumulates one dead artifact per
    * expired snapshot forever. Returns the deleted directory paths.
    */
  def expireArtifacts(dryRun: Boolean = false): Seq[String] = {
    val live = meta.snapshots.map(_.snapshotId).toSet
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(location), graft.meta.FileIO.conf)
    val root = new org.apache.hadoop.fs.Path(s"$location/artifacts")
    if (!fs.exists(root)) return Seq.empty
    val suffix = ".*-s(\\d+)$".r
    val dead = fs.listStatus(root).toSeq.filter(_.isDirectory).flatMap { st =>
      st.getPath.getName match {
        case suffix(id) if !live.contains(id.toLong) =>
          Some(st.getPath.toUri.getPath)
        case _ => None
      }
    }
    if (!dryRun) dead.foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    dead
  }
}

object IceTable {
  /** Set when `addFiles` registered at least one file without parquet field
    * IDs — tells scans to footer-sniff and route those files through
    * by-name resolution.
    */
  val HasIdLessFilesProp = "graft.external.id-less-files"

  /** Summary key a cherry-picked commit stamps with the staged snapshot it
    * published (Iceberg's cherrypick records `source-snapshot-id` the same
    * way) — the duplicate-publish guard in [[IceTable.cherryPick]]
    * scans main's ancestry for it.
    */
  val SourceSnapshotIdKey = "source-snapshot-id"

  /** Reserved field id of the `_row_id` metadata column (Iceberg v3 spec
    * §reserved-field-ids): materialized into rewritten data files so
    * compaction preserves lineage across position changes.
    */
  val RowIdFieldId = 2147483540

  /** Reserved field id of `_last_updated_sequence_number` — `_row_id`'s
    * v3 lineage companion: the sequence number of the commit that last
    * UPDATED each row. Unmodified rows inherit their manifest entry's
    * data sequence number; rewrites (compaction, z-order) materialize the
    * original value into the new files exactly like `_row_id`, because
    * the rewritten entry's own sequence number advances but the rows were
    * not logically updated.
    */
  val LastUpdatedSeqFieldId = 2147483539
  val LastUpdatedSeqCol = "_last_updated_sequence_number"

  /** The two lineage columns, as rewrites materialize them. */
  private[table] val LineageFields = Seq(
    NestedField(RowIdFieldId, "_row_id", IceLong),
    NestedField(LastUpdatedSeqFieldId, LastUpdatedSeqCol, IceLong))

  /** v3 row lineage, read-side inheritance (Iceberg v3 spec §row-lineage):
    * each data entry's effective first_row_id is its explicit value, or —
    * for ADDED entries — inherited from the manifest's first_row_id by
    * accumulating record counts over the preceding null-lineage added
    * entries. Existing entries rely on the materialized value their
    * rewrite stamped ([[IceTable.replaceDataFiles]], manifest merge);
    * pre-lineage legacy entries stay None (their rows scan with a null
    * `_row_id` rather than colliding with freshly assigned ranges).
    */
  private[table] def lineageOf(m: ManifestFile,
      entries: Seq[ManifestEntry]): Seq[(ManifestEntry, Option[Long])] = {
    var next = m.firstRowId
    entries.map { e =>
      if (e.dataFile.content != 0) (e, None)
      else e.dataFile.firstRowId match {
        case s @ Some(_) => (e, s)
        case None if e.status == ManifestEntryStatus.Added =>
          val eff = next
          next = next.map(_ + e.dataFile.recordCount)
          (e, eff)
        case None => (e, None)
      }
    }
  }

  /** Standard Iceberg Puffin NDV blob (apache/iceberg puffin spec). */
  val ThetaBlobType = "apache-datasketches-theta-v1"

  /** Our token-frequency moment blob: properties sum-df, sum-df2,
    * joined-rows over (token, group) document frequencies of one column.
    */
  val TokenMomentsBlobType = "graft-token-df-moments-v1"

  /** Our IVF-codebook blob: row-major big-endian doubles (properties
    * n-cells, dim) — the KMeans centroids an IVF ANN scan probes, fit once
    * and persisted instead of re-clustering the corpus per invocation.
    */
  val IvfCodebookBlobType = "graft-ivf-codebook-v1"

  def create(catalog: Catalog, name: String, schema: IceSchema,
      spec: PartitionSpec = PartitionSpec.Unpartitioned,
      properties: Map[String, String] = Map.empty,
      sortOrder: SortOrder = SortOrder.Unsorted): IceTable = {
    val m = newTableMetadata(catalog, name, schema, spec, properties, sortOrder)
    catalog.create(name, m)
    new IceTable(catalog, name, m, 1)
  }

  /** Stage a create-table (reference `StagedTable` in `table/transaction.go`
    * + the AssertCreate requirement `table/requirements.go:108-127`): the
    * metadata exists only on this client until [[StagedCreate.commit]],
    * whose assert-create guard lets exactly one of N racing creates win —
    * the losers see [[graft.meta.CommitConflictException]], never a
    * half-created table.
    */
  def stageCreate(catalog: Catalog, name: String, schema: IceSchema,
      spec: PartitionSpec = PartitionSpec.Unpartitioned,
      properties: Map[String, String] = Map.empty,
      sortOrder: SortOrder = SortOrder.Unsorted): StagedCreate =
    new StagedCreate(catalog, name,
      newTableMetadata(catalog, name, schema, spec, properties, sortOrder))

  private def newTableMetadata(catalog: Catalog, name: String, schema: IceSchema,
      spec: PartitionSpec, properties: Map[String, String],
      sortOrder: SortOrder): TableMetadata = {
    // the requested format version rides in as a property and is consumed
    // here, exactly like the reference (`table/metadata.go:1884-1906`
    // NewMetadata + PropertyFormatVersion); default v2
    val formatVersion = properties.get("format-version").map(_.toInt).getOrElse(2)
    require(formatVersion >= 1 && formatVersion <= 3,
      s"unsupported format-version $formatVersion")
    TableMetadata(
      formatVersion = formatVersion,
      tableUuid = UUID.randomUUID().toString,
      location = catalog.tableLocation(name),
      lastSequenceNumber = 0L,
      lastUpdatedMs = System.currentTimeMillis(),
      lastColumnId = schema.highestFieldId,
      currentSchemaId = schema.schemaId,
      schemas = Seq(schema),
      defaultSpecId = spec.specId,
      specs = Seq(spec),
      lastPartitionId = spec.lastAssignedFieldId,
      defaultSortOrderId = sortOrder.orderId,
      sortOrders = Seq(sortOrder),
      properties = properties - "format-version",
      currentSnapshotId = None,
      snapshots = Nil, snapshotLog = Nil, metadataLog = Nil, refs = Map.empty,
      nextRowId = if (formatVersion >= 3) Some(0L) else None)
  }

  def load(catalog: Catalog, name: String): IceTable = {
    val (v, m) = catalog.loadVersioned(name)
    new IceTable(catalog, name, m, v)
  }

  private[table] def fromMetadata(catalog: Catalog, name: String,
      m: TableMetadata, version: Int): IceTable =
    new IceTable(catalog, name, m, version)
}

/** Lazy scan with the four-level pruning pipeline: manifest-list summaries →
  * partition tuples → file column stats → Parquet row groups (the last one
  * is Spark's own pushdown, fed by the residual filter). Reference
  * `table/scanner.go:410-466` + `table/arrow_scanner.go:609-631`.
  */
final class IceScan(
    table: IceTable,
    snapshot: Option[Snapshot],
    filter: IcePredicate,
    selected: Option[Seq[String]],
    limit: Option[Int],
    caseSensitive: Boolean,
    timeTravel: Boolean = false,
    maxConcurrency: Option[Int] = None,
    // v3 row lineage: append the `_row_id` metadata column to the output —
    // the file's materialized column where a rewrite preserved it, else
    // first_row_id + row position (null for pre-lineage files)
    withRowId: Boolean = false) {

  private def meta = table.metadata

  /** Bounded driver-side planning parallelism (reference
    * `WithMaxConcurrency` `table/table.go:369`, default GOMAXPROCS).
    * Unset, planning shares the JVM's common ForkJoinPool — already sized
    * to the core count, matching the reference's default. Set, THIS scan's
    * manifest reads and footer sniffs run on a dedicated pool of exactly
    * `n` threads, so two concurrent scans (or a scan inside a streaming
    * trigger) can each be bounded instead of contending unboundedly.
    */
  private[table] def boundedPar[A, B](xs: Seq[A])(f: A => Seq[B]): Seq[B] = {
    import scala.collection.parallel.CollectionConverters._
    maxConcurrency match {
      case None => xs.par.flatMap(f).seq
      case Some(n) =>
        require(n > 0, s"maxConcurrency must be positive, got $n")
        val pool = new java.util.concurrent.ForkJoinPool(n)
        try {
          val pc = xs.par
          pc.tasksupport = new scala.collection.parallel.ForkJoinTaskSupport(pool)
          pc.flatMap(f).seq
        } finally pool.shutdown()
    }
  }
  // time travel pins the snapshot's schema; current scans read with the
  // current schema (evolution applies to old files via field-ID resolution)
  private def scanSchema: IceSchema =
    if (timeTravel)
      snapshot.flatMap(s => meta.schemaById(s.schemaId)).getOrElse(meta.currentSchema)
    else meta.currentSchema

  /** Driver-side file planning with manifest/partition/stats pruning: every
    * manifest is read and pruned on [[boundedPar]]'s pool, and no Spark job
    * is submitted.
    */
  def planFiles(): Seq[FileScanTask] = snapshot match {
    case None => Nil
    case Some(snap) =>
      val schema = scanSchema
      val bound = Predicates.bind(filter, schema, caseSensitive)
      if (bound == AlwaysFalse) return Nil
      val manifests = ManifestIO.readManifestList(snap.manifestList)
      // per-spec projected partition filters, bound to the partition schema
      val bySpec = collection.mutable.Map[Int, (IcePredicate, IceSchema)]()
      def partFilter(specId: Int): (IcePredicate, IceSchema) =
        bySpec.getOrElseUpdate(specId, {
          val spec = meta.specById(specId).getOrElse(PartitionSpec.Unpartitioned)
          val ps = Evaluators.partitionSchema(spec, schema)
          val projected = Evaluators.inclusiveProjection(bound, spec)
          (Predicates.bind(projected, ps, caseSensitive), ps)
        })

      // each manifest paired with its spec's filter here, on the calling
      // thread: the pool below only reads them
      def mayMatch(content: Int) = manifests.filter(_.content == content)
        .map(m => (m, partFilter(m.specId)))
        .filter { case (m, (pf, ps)) => Evaluators.manifestMayMatch(pf, ps, m) }
      val dataManifests = mayMatch(0)
      val minDataSeq = dataManifests.map(_._1.minSequenceNumber).minOption.getOrElse(0L)
      // delete manifests/entries prune under the SAME projected partition
      // filter as data: a delete file scoped to a partition the filter
      // excludes can only kill rows in data files this plan already pruned
      // (global delete manifests carry no summaries → always pass)
      val deleteManifests = mayMatch(1).filter(_._1.sequenceNumber >= minDataSeq)

      // per-manifest entry pruning on the bounded planner pool
      val specs = meta.specs
      val dataEntries = boundedPar(dataManifests) { case (m, (pf, ps)) =>
        val (_, entries) = ManifestIO.readManifest(m.path, specs, schema)
        // v3 lineage inheritance runs BEFORE pruning: a pruned entry still
        // consumes its record-count slice of the manifest's row-id range
        IceTable.lineageOf(m, entries).filter { case (e, _) =>
          e.status != ManifestEntryStatus.Deleted &&
          Evaluators.partitionMayMatch(pf, ps, e.dataFile.partition) &&
          Evaluators.fileMayMatch(bound, e.dataFile)
        }.map { case (e, rid) =>
          (e.copy(sequenceNumber = e.sequenceNumber.orElse(Some(m.sequenceNumber))),
            m.specId, rid)
        }
      }
      val deleteEntries = boundedPar(deleteManifests) { case (m, (pf, ps)) =>
        val partitioned = specs.find(_.specId == m.specId).exists(_.fields.nonEmpty)
        val (_, entries) = ManifestIO.readManifest(m.path, specs, schema)
        entries.filter(e => e.status != ManifestEntryStatus.Deleted &&
          (!partitioned || e.dataFile.partition.isEmpty ||
            Evaluators.partitionMayMatch(pf, ps, e.dataFile.partition)))
          .map(e => DeleteIndex.Keyed(
            e.copy(sequenceNumber = e.sequenceNumber.orElse(Some(m.sequenceNumber))),
            m.specId, partitioned))
      }
      // indexed matching (hash by path, binary search by sequence number)
      // instead of the naive dataFiles×deleteFiles nested loop — planning
      // 10⁵ data × 10⁴ delete files must not stall the driver (reference
      // `matchDeletesToData` `table/scanner.go:285-309`)
      val index = new DeleteIndex(deleteEntries)

      val tasks = dataEntries.map { case (e, specId, rid) =>
        val dseq = e.sequenceNumber.getOrElse(0L)
        val path = e.dataFile.filePath
        FileScanTask(e.dataFile, index.posDeletesFor(path, dseq),
          index.eqDeletesFor(dseq, specId, e.dataFile.partition), dseq,
          index.dvsFor(path, dseq), firstRowId = rid, specId = specId)
      }.toSeq
      lastPlanRangedChecks = index.rangedBoundsChecks.get()
      tasks
  }

  /** Range-scoped bounds evaluations of the LAST [[planFiles]] call — the
    * adversarial-metadata test hook proving matching stays ≪ N·M.
    */
  @volatile private[table] var lastPlanRangedChecks: Long = -1L

  /** Execute as a DataFrame: one Spark parquet scan over the planned files,
    * deletes applied inside the scan task ([[DeleteFilter]]), residual
    * filter + projection pushed to Catalyst.
    */
  def toDF(spark: SparkSession): DataFrame = toDFFor(spark, planFiles())

  /** Execute over an explicit task subset — rewrite paths (compaction,
    * predicate overwrite) use this to read WITH deletes applied while
    * scoping to the files they rewrite.
    *
    * The data files are read from their manifest entries
    * ([[readTasksProjected]]) and every merge-on-read delete applies in
    * the same scan task: the tasks' position deletes, deletion vectors and
    * equality deletes, as planning matched them, ship to the executors in
    * a broadcast variable and one predicate ([[ApplyDeletes]]) drops the
    * rows they kill. Building the frame lists nothing, infers nothing and
    * submits no Spark job, and a read or rewrite is one scan stage: the
    * plan holds one file scan and no join for any delete.
    */
  private[table] def toDFFor(spark: SparkSession, tasks: Seq[FileScanTask]): DataFrame = {
    val schema = scanSchema
    val projected: IceSchema =
      selected.map(s => schema.select(s, caseSensitive)).getOrElse(schema)
    val outSpark =
      if (withRowId) projected.toSpark.add("_row_id", LongType, nullable = true)
        .add(IceTable.LastUpdatedSeqCol, LongType, nullable = true)
      else projected.toSpark
    if (limit.contains(0))
      return spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        outSpark)
    if (tasks.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        outSpark)

    val bound = Predicates.bind(filter, schema, caseSensitive)
    // equality-delete key columns must be scanned even when projected away:
    // the delete predicate reads them before the final projection
    val eqColNames = tasks.flatMap(_.eqDeletes).flatMap(_._1.equalityIds).distinct
      .flatMap(id => schema.byId.get(id).map(_.name))
    // read schema = projection ∪ filter-referenced columns (column pruning
    // at the scan; extra filter columns dropped after the residual applies)
    val filterNames = Predicates.referencedNames(bound)
    // nested refs ("loc.lat") resolve to their top-level root column
    val filterRoots = filterNames.map(_.takeWhile(_ != '.'))
    val readNames = (projected.fields.map(_.name) ++
      schema.fields.map(_.name).filter(n =>
        filterNames.contains(n) || filterRoots.contains(n) ||
          eqColNames.contains(n))).distinct
    val readBase = schema.select(readNames, caseSensitive)
    // lineage reads add the materialized `_row_id` and
    // `_last_updated_sequence_number` columns (reserved field ids):
    // present in rewrite-preserved files, null elsewhere, where
    // readTasksProjected inherits them from the file's first_row_id +
    // position and its data sequence number
    val readSchema =
      if (withRowId) IceSchema(readBase.schemaId, readBase.fields ++ IceTable.LineageFields)
      else readBase

    graft.GraftSession.ensurePrepared(spark)
    var df = readTasksProjected(spark, tasks, readSchema, stampPathPos = false,
      keep = DeleteFilter(spark, tasks, schema).map(dl => dl.live _))
    if (bound != AlwaysTrue) df = df.where(Predicates.toColumn(bound))
    df = df.select(projected.fields.map(f => col(f.name)) ++
      (if (withRowId) Seq(col("_row_id"), col(IceTable.LastUpdatedSeqCol))
       else Nil): _*)
    limit.map(df.limit).getOrElse(df)
  }

  /** Raw projected read of the tasks' data files, resolving each file the
    * way the table's scan does. Each resolution group is one
    * manifest-backed scan ([[IceScan.readFiles]]) over the tasks' entries
    * — paths and sizes from the manifests, no listing — so a scan of any
    * width builds without a Spark job. Files written by us carry parquet
    * field IDs → ID-based resolution. With an explicit name mapping
    * (`schema.name-mapping.default`, reference `name_mapping.go:30-80`),
    * externally-added files without field IDs are read by NAME under their
    * mapped aliases (a field-ID schema would silently null-fill them) and
    * cast-renamed back to the canonical schema; columns added with an
    * initial-default fill with the default, not null, in files that
    * predate them. `keep` is the row condition, built from
    * [[DeleteFilter.live]] predicates: it applies in each branch, directly
    * over its file relation where `_metadata` resolves, and is handed the
    * branch's key-column mapping (a field's value as the branch reads it,
    * cast to its canonical type, or its initial default where the file
    * predates it). A `readSchema` with the lineage columns fills a null
    * `_row_id` with the file's `first_row_id` + row index and a null last
    * updated sequence with the file's data sequence number.
    * `stampPathPos` adds `__path`/`__pos`: the data file path as the
    * manifest records it (the key of its deletes) and the row index. All
    * of these read file-constant `_metadata` fields ([[IceScan.readFiles]])
    * before the branch union hides them. Every read of table data files
    * goes through here: the scan and every rewrite ([[toDFFor]]), the
    * rows a delete snapshot removed ([[IceTable.removedRows]]), the
    * positional-delete match and the delete→DV conversion read, so
    * name-mapped, ID-less and initial-default files resolve under one set
    * of rules.
    */
  private[table] def readTasksProjected(spark: SparkSession, tasks: Seq[FileScanTask],
      readSchema: IceSchema, stampPathPos: Boolean,
      keep: Option[(NestedField => Column) => Column] = None): DataFrame = {
    val schema = scanSchema
    val aliasOf: Map[Int, String] = meta.properties.get(NameMapping.PropertyKey)
      .map(j => NameMapping.aliasById(NameMapping.parse(j))).getOrElse(Map.empty)
    def aliasName(f: NestedField): String = aliasOf.getOrElse(f.id, f.name)
    val mayHaveIdLess = aliasOf.nonEmpty ||
      meta.properties.get(IceTable.HasIdLessFilesProp).contains("true")
    val defaultedFields = readSchema.fields.filter(_.initialDefault.isDefined)
    val lineage = readSchema.fields.exists(_.id == IceTable.RowIdFieldId)
    val needSplit = mayHaveIdLess || defaultedFields.nonEmpty
    val defaultedIds = defaultedFields.map(_.id).toSet
    // groups: (file carries IDs, defaulted IDs absent). Both facts come
    // from the MANIFEST — `hasFieldIds` stamped at write/addFiles time and
    // column presence from the per-column stats keys — so planning opens
    // ZERO data files. Only legacy entries written before the stamp (or
    // stat-less files under defaulted columns) pay a footer sniff.
    val groups: Seq[((Boolean, Set[Int]), Seq[FileScanTask])] =
      if (!needSplit) Seq((true, Set.empty[Int]) -> tasks)
      else {
        val nameToId = NameMapping.index(table.nameMapping)
        // the stats-key shortcut infers "column absent from file" from
        // "column absent from stats maps" — unsound for a defaulted column
        // whose metrics mode is none (stats suppressed, column present:
        // the default would OVERWRITE the file's real values). Those
        // tables pay the footer sniff instead.
        val metricsSuppressedDefault = defaultedIds.nonEmpty && {
          val modes = ParquetStats.modesFor(schema, meta.properties)
          defaultedIds.exists(id => modes.get(id).exists(_.kind == "none"))
        }
        boundedPar(tasks) { t =>
          val f = t.file
          val statsIds = f.columnSizes.keySet ++ f.valueCounts.keySet ++
            f.nullValueCounts.keySet
          val fromManifest: Option[(Boolean, Set[Int])] = f.hasFieldIds match {
            case Some(ids) if !metricsSuppressedDefault &&
                (statsIds.nonEmpty || defaultedIds.isEmpty) =>
              Some((ids, statsIds))
            case _ => None
          }
          Seq(t -> fromManifest.getOrElse(
            ParquetStats.fileColumns(f.filePath, nameToId)))
        }
          .groupBy { case (_, (hasIds, present)) => (hasIds, defaultedIds -- present) }
          .view.mapValues(_.map(_._1).toSeq).toSeq
      }

    def readBranch(fs: Seq[FileScanTask], schema: StructType, absentDefaulted: Set[Int],
        renames: Option[Seq[(String, String, org.apache.spark.sql.types.DataType)]])
        : DataFrame = {
      var d = IceScan.readFiles(spark, schema, fs)
      // the row condition and per-file row positions apply before any
      // union hides the per-file _metadata column
      keep.foreach { k =>
        d = d.where(k { f =>
          val tpe = IceType.toSpark(f.tpe)
          if (absentDefaulted.contains(f.id)) lit(f.initialDefault.get).cast(tpe)
          else if (renames.isDefined) col(aliasName(f)).cast(tpe)
          else col(f.name)
        })
      }
      // v3 lineage: a materialized value (rewrite-preserved) wins over
      // inheritance from the file's manifest entry
      if (lineage) d = d
        .withColumn("_row_id", coalesce(col("_row_id"),
          col("_metadata.first_row_id") + col("_metadata.row_index")))
        .withColumn(IceTable.LastUpdatedSeqCol, coalesce(col(IceTable.LastUpdatedSeqCol),
          col("_metadata.data_sequence_number")))
      if (stampPathPos) d = d
        .withColumn("__path", col("_metadata.data_file"))
        .withColumn("__pos", col("_metadata.row_index"))
      renames.foreach { rs =>
        // cast to the canonical type: struct casts rename NESTED aliased
        // fields back positionally (same tree shape by construction)
        val canonical = rs.map { case (alias, canon, tpe) =>
          col(alias).cast(tpe).as(canon)
        } ++ (if (stampPathPos) Seq(col("__path"), col("__pos")) else Nil)
        d = d.select(canonical: _*)
      }
      d
    }
    // ID-less files read with an ID-free alias schema: pure by-name
    // matching, nested levels included — struct children, list elements,
    // and map entries take their mapped aliases so the foreign file's own
    // nested names resolve; the rename-select then CASTS back to the
    // canonical type (struct casts rename positionally), so aliased names
    // never leave the scan
    val aliasFn: Int => Option[String] = aliasOf.get _
    val foreignSchema = org.apache.spark.sql.types.StructType(readSchema.fields.map(f =>
      org.apache.spark.sql.types.StructField(aliasName(f),
        NameMapping.aliasedSparkType(f.tpe, aliasFn), nullable = !f.required)))
    val branches = groups.map { case ((hasIds, absentDefaulted), fs) =>
      var d =
        if (hasIds) readBranch(fs, readSchema.toSpark, absentDefaulted, None)
        else readBranch(fs, foreignSchema, absentDefaulted,
          Some(readSchema.fields.map(f =>
            (aliasName(f), f.name, IceType.toSpark(f.tpe)))))
      defaultedFields.filter(f => absentDefaulted.contains(f.id)).foreach { f =>
        d = d.withColumn(f.name, lit(f.initialDefault.get).cast(IceType.toSpark(f.tpe)))
      }
      d
    }
    branches.reduce(_.unionByName(_))
  }
}

object IceScan {
  /** (hits, misses) of the JVM-wide delete-file cache ([[DeleteCache]])
    * since JVM start: a repeated merge-on-read scan should add hits only,
    * and misses grow only with delete files no task of this JVM decoded.
    */
  def deleteCacheStats: (Long, Long) = (DeleteCache.hits.get, DeleteCache.misses.get)

  /** Parquet read of files the manifests already describe. Spark's
    * path-based reader rediscovers what the entries record: it stats every
    * path (a listing JOB past 32 paths) and infers a schema when none is
    * given. Here the relation's file index is the tasks' entries
    * themselves — qualified path and `fileSizeInBytes`, one partition
    * directory, and a `sizeInBytes` equal to the summed file sizes, so
    * broadcast and join choices see exactly what a listed read would.
    * Each entry also carries its task's facts as file-constant `_metadata`
    * fields: `_metadata.data_file` is the manifest's own path string (the
    * key of the file's deletes, and what position deletes record), beside
    * `first_row_id` and `data_sequence_number` for v3 lineage. Building
    * the frame touches no storage and submits no Spark job. The schema is
    * made nullable, as Spark's own reader does with a user schema.
    */
  private[table] def readFiles(spark: SparkSession, schema: StructType,
      tasks: Seq[FileScanTask]): DataFrame = {
    val qualify = qualifier(spark.sessionState.newHadoopConf())
    val statuses = tasks.distinctBy(_.file.filePath).map { t =>
      org.apache.spark.sql.execution.datasources.FileStatusWithMetadata(
        new org.apache.hadoop.fs.FileStatus(t.file.fileSizeInBytes, false, 0, 0L, 0L,
          qualify(t.file.filePath)),
        Map("data_file" -> t.file.filePath, "data_sequence_number" -> t.dataSeq) ++
          t.firstRowId.map("first_row_id" -> _))
    }
    val relation = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      ManifestFileIndex(statuses), new StructType(),
      org.apache.spark.sql.graftshim.GraftShim.asNullable(schema), None,
      new ManifestParquetFormat, Map.empty)(spark)
    spark.baseRelationToDataFrame(relation)
  }

  /** Qualifies manifest paths against their filesystems, resolving each
    * (scheme, authority) once.
    */
  private[table] def qualifier(hadoopConf: org.apache.hadoop.conf.Configuration)
      : String => org.apache.hadoop.fs.Path = {
    val fsByRoot = collection.mutable.HashMap
      .empty[(String, String), org.apache.hadoop.fs.FileSystem]
    path => {
      val p = new org.apache.hadoop.fs.Path(path)
      val u = p.toUri
      fsByRoot.getOrElseUpdate((u.getScheme, u.getAuthority), p.getFileSystem(hadoopConf))
        .makeQualified(p)
    }
  }
}

/** Spark file index over manifest entries: the files a scan planned, with
  * the sizes the manifests recorded, as one unpartitioned directory.
  * Listing is a lookup — no storage call — and pruning already happened in
  * [[IceScan.planFiles]], so the filters Spark passes are ignored.
  */
private[table] final case class ManifestFileIndex(
    files: Seq[org.apache.spark.sql.execution.datasources.FileStatusWithMetadata])
    extends org.apache.spark.sql.execution.datasources.FileIndex {
  import org.apache.spark.sql.execution.datasources.PartitionDirectory
  override def rootPaths: Seq[org.apache.hadoop.fs.Path] = files.map(_.getPath)
  override def listFiles(
      partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[PartitionDirectory] =
    Seq(PartitionDirectory(org.apache.spark.sql.catalyst.InternalRow.empty, files))
  override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
  override def refresh(): Unit = ()
  override val sizeInBytes: Long = files.map(_.getLen).sum
  override def partitionSchema: StructType = new StructType()
}

/** Parquet whose `_metadata` also holds the facts [[IceScan.readFiles]]
  * attaches to each file from its manifest entry, beside Parquet's own
  * `row_index`: `data_file` (the path exactly as the manifest records
  * it), `first_row_id` (null for files without lineage) and
  * `data_sequence_number`. The scan fills them once per file, so a row's
  * delete key and lineage need no per-row path parsing and no join.
  */
private[table] final class ManifestParquetFormat
    extends org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat {
  import org.apache.spark.sql.catalyst.expressions.FileSourceConstantMetadataStructField
  override def metadataSchemaFields: Seq[StructField] = super.metadataSchemaFields ++ Seq(
    FileSourceConstantMetadataStructField("data_file", StringType, nullable = false),
    FileSourceConstantMetadataStructField("first_row_id", LongType, nullable = true),
    FileSourceConstantMetadataStructField("data_sequence_number", LongType, nullable = false))
}

/** A create-table staged client-side (reference `StagedTable`,
  * `table/transaction.go`): nothing is visible in the catalog until
  * [[commit]], which materializes version 1 under an AssertCreate guard —
  * of N racing staged creates exactly one wins, the rest get
  * [[graft.meta.CommitConflictException]]. Property/metadata adjustments
  * before the commit stay local.
  */
final class StagedCreate private[table] (catalog: Catalog, val name: String,
    private var staged: TableMetadata) {

  /** The staged (uncommitted) metadata. */
  def metadata: TableMetadata = staged

  /** Adjust staged properties before the create commits. */
  def updateProperties(set: Map[String, String] = Map.empty,
      remove: Seq[String] = Nil): StagedCreate = {
    staged = staged.copy(properties = staged.properties ++ set -- remove)
    this
  }

  /** Materialize: exactly one concurrent commit of `name` succeeds. */
  def commit(): IceTable = {
    catalog.commitCreate(name, staged)
    IceTable.fromMetadata(catalog, name, staged, 1)
  }
}
