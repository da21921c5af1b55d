package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Ingest

/** Incremental dedup must (a) return exactly the full-corpus pair set
  * restricted to pairs touching the increment, and (b) NEVER re-read or
  * re-tokenize rows the index already covers — the whole point of keeping
  * the accumulated state as a table artifact. (b) is proven structurally:
  * the only text-bearing scan in the plan is the incremental read, and its
  * input files are disjoint from the watermark snapshot's files.
  */
final class IncrementalDedupSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("incremental-dedup-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  /** inputFiles yields file: URIs, planFiles raw paths — compare as paths
    * (an unnormalized compare would make every disjointness assert pass
    * vacuously).
    */
  private def norm(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  test("incremental pairs equal full-corpus pairs restricted to the increment") {
    val f = IceQueries.incremental(spark, sfDir)
    val incremental = pairSet(
      IncrementalDedup.incrementalJaccardPairs(spark, f.docs, f.tokenIndex, f.watermark, 0.5))
    val full = pairSet(Dedup.jaccardPairs(spark, sfDir, 0.5))
    val expected = full.filter { case (a, b) => a % 10 == 0 || b % 10 == 0 }
    assert(incremental == expected)
    assert(incremental.nonEmpty, "fixture should produce pairs touching new docs")
    // and none of the increment's output re-reports an old-old pair
    assert(incremental.forall { case (a, b) => a % 10 == 0 || b % 10 == 0 })
  }

  test("increment scan plans only post-watermark files — old rows are never re-read") {
    val f = IceQueries.incremental(spark, sfDir)
    val docs = f.docs
    val since = f.watermark
    val oldFiles = docs.newScan(snapshotId = Some(since)).planFiles()
      .map(t => norm(t.file.filePath)).toSet
    assert(oldFiles.nonEmpty)
    val newScanFiles = Ingest.changesSince(spark, docs, since)
      .inputFiles.map(norm).toSet
    assert(newScanFiles.nonEmpty)
    assert(newScanFiles.intersect(oldFiles).isEmpty,
      s"incremental read touched pre-watermark files: ${newScanFiles.intersect(oldFiles)}")
    // the full current snapshot covers both — proves the diff is a strict subset
    val allFiles = docs.newScan().planFiles().map(t => norm(t.file.filePath)).toSet
    assert(newScanFiles.subsetOf(allFiles) && oldFiles.subsetOf(allFiles))
    assert(newScanFiles.union(oldFiles) == allFiles)
  }

  test("pair-join plan reads no pre-watermark document file (tokens come from the index)") {
    val f = IceQueries.incremental(spark, sfDir)
    val oldFiles = f.docs.newScan(snapshotId = Some(f.watermark)).planFiles()
      .map(t => norm(t.file.filePath)).toSet
    val pairs = IncrementalDedup.incrementalJaccardPairs(
      spark, f.docs, f.tokenIndex, f.watermark, 0.5)
    val planInputs = pairs.inputFiles.map(norm).toSet
    assert(planInputs.nonEmpty)
    assert(planInputs.intersect(oldFiles).isEmpty,
      "pair plan scans old document files instead of the persisted token index")
    // repeat run is read-only and deterministic
    val c1 = pairs.count()
    val c2 = IncrementalDedup.incrementalJaccardPairs(
      spark, f.docs, f.tokenIndex, f.watermark, 0.5).count()
    assert(c1 == c2)
  }

  test("incremental containment equals full-corpus containment restricted to the increment") {
    QueryScope.run {
      val f = IceQueries.incremental(spark, sfDir)
      val incremental = pairSet(IncrementalDedup.incrementalContainmentPairs(
        spark, f.docs, f.tokenIndex, f.watermark, 0.9))
      val full = pairSet(Dedup.containmentPairs(spark, sfDir, 0.9))
      val expected = full.filter { case (a, b) => a % 10 == 0 || b % 10 == 0 }
      assert(incremental == expected)
      assert(incremental.nonEmpty, "fixture should contain excerpt pairs touching new docs")
      // same structural guarantee as the jaccard variant: tokens come from
      // the persisted index, never a pre-watermark document file
      val oldFiles = f.docs.newScan(snapshotId = Some(f.watermark)).planFiles()
        .map(t => norm(t.file.filePath)).toSet
      val planInputs = IncrementalDedup.incrementalContainmentPairs(
        spark, f.docs, f.tokenIndex, f.watermark, 0.9).inputFiles.map(norm).toSet
      assert(planInputs.nonEmpty)
      assert(planInputs.intersect(oldFiles).isEmpty,
        "containment pair plan scans old document files instead of the token index")
    }
  }

  test("incremental span stats equal full-corpus stats restricted to the increment") {
    QueryScope.run {
      val f = IceQueries.incremental(spark, sfDir)
      val incremental = IncrementalDedup.incrementalSpanStats(
          spark, f.docs, f.spanIndex, f.watermark, 5)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      // oracle: the FULL corpus pass (df over every doc), restricted to the
      // increment's docs — a df miss against old docs would show here
      val full = Dedup.sharedSpanStats(spark, sfDir, 5)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val expected = full.filter { case (id, _) => id % 10 == 0 }
      assert(incremental == expected)
      assert(incremental.nonEmpty, "fixture increment should contain spans")
      assert(incremental.values.exists(_._2 > 0),
        "increment should share at least one span with the accumulated corpus")
      // shingles come from the persisted span index, never a pre-watermark
      // document file
      val oldFiles = f.docs.newScan(snapshotId = Some(f.watermark)).planFiles()
        .map(t => norm(t.file.filePath)).toSet
      val planInputs = IncrementalDedup.incrementalSpanStats(
        spark, f.docs, f.spanIndex, f.watermark, 5).inputFiles.map(norm).toSet
      assert(planInputs.nonEmpty)
      assert(planInputs.intersect(oldFiles).isEmpty,
        "span plan scans old document files instead of the span index")
      // the span-index roll appends ONLY the increment's rows: after
      // extendSpanIndex the index equals the full corpus's span rows
    }
  }

  test("incremental minhash: only the increment is signed; recall pinned vs exact pairs") {
    val f = IceQueries.incremental(spark, sfDir)
    val lsh = pairSet(IncrementalDedup.incrementalMinhashCandidates(
      spark, f.docs, f.signatures, f.watermark, 0.5))
    // every candidate touches the increment, and the fixture yields some
    // (an empty set would make every assertion below vacuous)
    assert(lsh.nonEmpty)
    assert(lsh.forall { case (a, b) => a % 10 == 0 || b % 10 == 0 })
    // structural no-re-sign proof: the signature table's schema has no text
    // column (signing is impossible from it), and the plan's only document
    // scan is the incremental read — no pre-watermark file appears
    assert(!f.signatures.schema.toSpark.fieldNames.contains("text"))
    val oldFiles = f.docs.newScan(snapshotId = Some(f.watermark)).planFiles()
      .map(t => norm(t.file.filePath)).toSet
    val planInputs = IncrementalDedup.incrementalMinhashCandidates(
      spark, f.docs, f.signatures, f.watermark, 0.5).inputFiles.map(norm).toSet
    assert(planInputs.intersect(oldFiles).isEmpty,
      "minhash increment re-signed old document files")
    // recall vs the exact incremental pairs at high threshold: 16 bands ×
    // 4 rows at j>=0.9 detect with p ≈ 1 - (1-0.9^4)^16 ≈ 0.999
    val exact = pairSet(IncrementalDedup.incrementalJaccardPairs(
      spark, f.docs, f.tokenIndex, f.watermark, 0.9))
    val recalled = exact.count(lsh.contains).toDouble
    assert(exact.isEmpty || recalled / exact.size >= 0.9,
      s"recall ${recalled / exact.size} over ${exact.size} true pairs")
  }

  test("banded minhash: same candidates as the legacy variant, zero corpus-wide banding") {
    val f = IceQueries.incremental(spark, sfDir)
    val legacy = pairSet(IncrementalDedup.incrementalMinhashCandidates(
      spark, f.docs, f.signatures, f.watermark, 0.5))
    val before = IncrementalDedup.corpusBandings.get()
    val banded = pairSet(graft.SparkEntry.queries("dedup_incremental_minhash")(spark, sfDir))
    assert(banded == legacy,
      "persisted band buckets changed the candidate set vs banding-on-read")
    assert(IncrementalDedup.corpusBandings.get() == before,
      "registered query re-banded the stored corpus instead of joining persisted buckets")
    // repeat run: still no corpus-wide banding
    graft.SparkEntry.queries("dedup_incremental_minhash")(spark, sfDir).count()
    assert(IncrementalDedup.corpusBandings.get() == before)
    // structural: the band-bucket table carries no signatures and no text —
    // neither signing nor banding is derivable from it
    val btCols = f.bandBuckets.schema.toSpark.fieldNames.toSet
    assert(!btCols.contains("sig") && !btCols.contains("text"))
  }

  test("extendBands keeps the bucket table in lockstep with extendSignatures") {
    val s = spark
    // fresh private fixture (don't mutate the shared memoized one)
    val wh = java.nio.file.Files.createTempDirectory("graft-band-roll").toString
    val catalog = new graft.meta.FileCatalog(wh)
    val docsRaw = spark.read.parquet(s"$sfDir/documents.parquet")
    val b1 = docsRaw.where("doc_id % 10 != 0")
    val b2 = docsRaw.where("doc_id % 10 = 0")
    val dt = graft.table.IceTable.create(catalog, "docs_band_roll",
      graft.core.SchemaConv.fromSpark(docsRaw.schema))
    val snap1 = dt.append(b1).snapshotId
    dt.refresh()
    val sigs0 = IncrementalDedup.signaturesOf(b1)
    val st = graft.table.IceTable.create(catalog, "sigs_roll",
      graft.core.SchemaConv.fromSpark(sigs0.schema))
    st.append(sigs0); st.refresh()
    val bands0 = Dedup.bandsOf(sigs0)
    val bt = graft.table.IceTable.create(catalog, "bands_roll",
      graft.core.SchemaConv.fromSpark(bands0.schema))
    bt.append(bands0); bt.refresh()
    dt.append(b2); dt.refresh()
    IncrementalDedup.extendSignatures(spark, dt, st, snap1)
    IncrementalDedup.extendBands(spark, dt, bt, snap1)
    // retried rolls with the same stale watermark are no-ops
    val (nSigs, nBands) = (st.scan(spark).count(), bt.scan(spark).count())
    IncrementalDedup.extendSignatures(spark, dt, st, snap1)
    IncrementalDedup.extendBands(spark, dt, bt, snap1)
    assert(st.scan(spark).count() === nSigs && bt.scan(spark).count() === nBands,
      "retried signature/band rolls duplicated rows")
    // rolled-forward buckets == banding the rolled-forward signatures
    val fromSigs = Dedup.bandsOf(
      st.scan(spark).select("doc_id", "source", "sig"))
    val stored = bt.scan(spark).select("doc_id", "source", "band", "band_hash")
    assert(stored.count() == fromSigs.count())
    assert(stored.exceptAll(fromSigs).isEmpty && fromSigs.exceptAll(stored).isEmpty)
  }

  test("extendIndex rolls the watermark: a third batch dedups against index+increment only") {
    val s = spark
    import s.implicits._
    // fresh private fixture (don't mutate the shared memoized one)
    val wh = java.nio.file.Files.createTempDirectory("graft-incr-roll").toString
    val catalog = new graft.meta.FileCatalog(wh)
    val docsRaw = spark.read.parquet(s"$sfDir/documents.parquet")
    val b1 = docsRaw.where("doc_id % 10 NOT IN (0, 1)")
    val b2 = docsRaw.where("doc_id % 10 = 0")
    val b3 = docsRaw.where("doc_id % 10 = 1")
    val dt = graft.table.IceTable.create(catalog, "docs_roll",
      graft.core.SchemaConv.fromSpark(docsRaw.schema))
    val snap1 = dt.append(b1).snapshotId
    dt.refresh()
    val idx0 = IncrementalDedup.tokenIndexOf(b1)
    val it = graft.table.IceTable.create(catalog, "idx_roll",
      graft.core.SchemaConv.fromSpark(idx0.schema))
    it.append(idx0)
    it.refresh()
    // batch 2 lands; run the increment, then roll the index forward
    val snap2 = dt.append(b2).snapshotId
    dt.refresh()
    val beforeExtend = pairSet(
      IncrementalDedup.incrementalJaccardPairs(spark, dt, it, snap1, 0.5))
    IncrementalDedup.extendIndex(spark, dt, it, snap1)
    // a RETRIED roll with the same stale watermark must be a no-op — a
    // second plain append would double the increment's token rows and every
    // later run would inflate intersections from the doubled index
    val afterFirstRoll = it.scan(spark).count()
    IncrementalDedup.extendIndex(spark, dt, it, snap1)
    assert(it.scan(spark).count() === afterFirstRoll,
      "retried extendIndex duplicated index rows")
    // a retry with a STALE watermark after extendIndex must not double-join
    // the increment's now-indexed tokens (which would triple-count shared
    // tokens and corrupt jaccard) — the anti-join makes the re-run exact
    val staleRerun = pairSet(
      IncrementalDedup.incrementalJaccardPairs(spark, dt, it, snap1, 0.5))
    assert(staleRerun == beforeExtend)
    // batch 3 lands; its run must see batch-1 AND batch-2 docs via the index
    dt.append(b3)
    dt.refresh()
    val got = pairSet(
      IncrementalDedup.incrementalJaccardPairs(spark, dt, it, snap2, 0.5))
    val full = pairSet(Dedup.jaccardPairs(spark, sfDir, 0.5))
    val expected = full.filter { case (a, b) => a % 10 == 1 || b % 10 == 1 }
    assert(got == expected)
  }

  test("incremental chunk stats equal full-corpus stats restricted to the increment") {
    QueryScope.run {
      val f = IceQueries.incremental(spark, sfDir)
      val incremental = IncrementalDedup.incrementalChunkStats(
          spark, f.docs, f.chunkIndex, f.watermark, 20)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val full = Dedup.chunkDedupStats(docs, 20)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val expected = full.filter { case (id, _) => id % 10 == 0 }
      assert(incremental == expected)
      assert(incremental.nonEmpty)
      // the increment's doc_ids (0, 10, 20…) are often SMALLER than stored
      // ids, so this equality exercises first-occurrence MOVES, not just
      // lookups — and the chunk plan reads no pre-watermark document file
      val oldFiles = f.docs.newScan(snapshotId = Some(f.watermark)).planFiles()
        .map(t => norm(t.file.filePath)).toSet
      val planInputs = IncrementalDedup.incrementalChunkStats(
        spark, f.docs, f.chunkIndex, f.watermark, 20).inputFiles.map(norm).toSet
      assert(planInputs.nonEmpty)
      assert(planInputs.intersect(oldFiles).isEmpty,
        "chunk stats plan scans old document files instead of the chunk index")
    }
  }

  test("incremental chunk scrub equals the full scrub restricted to the increment") {
    QueryScope.run {
      val f = IceQueries.incremental(spark, sfDir)
      val inc = IncrementalDedup.incrementalChunkScrub(
          spark, f.docs, f.chunkIndex, f.watermark, 20)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val full = Dedup.chunkScrub(docs, 20)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      val expected = full.filter { case (id, _) => id % 10 == 0 }
      // fingerprints included: the rebuilt text must be byte-identical, and
      // increment docs whose every chunk is owned elsewhere must dissolve
      assert(inc == expected)
      assert(inc.nonEmpty)
    }
  }

  test("extendChunkIndex upserts moved first-occurrences; stale retry stays exact") {
    QueryScope.run {
      val s = spark
      // fresh private fixture (don't mutate the shared memoized one)
      val wh = java.nio.file.Files.createTempDirectory("graft-chunk-roll").toString
      val catalog = new graft.meta.FileCatalog(wh)
      val docsRaw = spark.read.parquet(s"$sfDir/documents.parquet")
      val b1 = docsRaw.where("doc_id % 10 != 0")
      val b2 = docsRaw.where("doc_id % 10 = 0")
      val dt = graft.table.IceTable.create(catalog, "docs_chunk_roll",
        graft.core.SchemaConv.fromSpark(docsRaw.schema))
      val snap1 = dt.append(b1).snapshotId
      dt.refresh()
      val reps0 = Dedup.chunkRows(b1, 20).groupBy("h")
        .agg(org.apache.spark.sql.functions.min(
          org.apache.spark.sql.functions.struct(
            org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("chunk_idx"))).as("first"))
        .select(org.apache.spark.sql.functions.col("h"),
          org.apache.spark.sql.functions.col("first.doc_id").as("doc_id"),
          org.apache.spark.sql.functions.col("first.chunk_idx").as("chunk_idx"))
      val ct = graft.table.IceTable.create(catalog, "chunk_roll",
        graft.core.SchemaConv.fromSpark(reps0.schema))
      ct.append(reps0); ct.refresh()
      dt.append(b2); dt.refresh()
      val before = IncrementalDedup.incrementalChunkStats(spark, dt, ct, snap1, 20)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      IncrementalDedup.extendChunkIndex(spark, dt, ct, snap1, 20)
      // rolled index == the full corpus's first-occurrence representatives —
      // including hashes whose first MOVED to a smaller increment doc_id
      val fromFull = Dedup.chunkRows(docsRaw, 20).groupBy("h")
        .agg(org.apache.spark.sql.functions.min(
          org.apache.spark.sql.functions.struct(
            org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("chunk_idx"))).as("first"))
        .select(org.apache.spark.sql.functions.col("h"),
          org.apache.spark.sql.functions.col("first.doc_id").as("doc_id"),
          org.apache.spark.sql.functions.col("first.chunk_idx").as("chunk_idx"))
      val stored = ct.scan(spark).select("h", "doc_id", "chunk_idx")
      assert(stored.count() == fromFull.count())
      assert(stored.exceptAll(fromFull).isEmpty && fromFull.exceptAll(stored).isEmpty)
      // a retry with a STALE watermark after the roll must not double-merge
      val staleRerun = IncrementalDedup.incrementalChunkStats(spark, dt, ct, snap1, 20)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(staleRerun == before)
    }
  }

  test("incremental verdict equals the full verdict restricted to the increment") {
    QueryScope.run {
      val f = IceQueries.incremental(spark, sfDir)
      val inc = IncrementalDedup.incrementalVerdict(spark, f.docs, f.tokenIndex,
          f.hashIndex, f.pairIndex, f.watermark, 0.5)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val full = Dedup.dedupVerdict(docs, Dedup.duplicateClusters(
          Dedup.jaccardPairs(spark, sfDir, 0.5).select("doc_a", "doc_b")))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      val expected = full.filter { case (id, _) => id % 10 == 0 }
      assert(inc == expected)
      assert(inc.nonEmpty)
      // the verdict plan reads no pre-watermark document file: hashes come
      // from the hash index, tokens from the token index, old-old pairs from
      // the pair index
      val oldFiles = f.docs.newScan(snapshotId = Some(f.watermark)).planFiles()
        .map(t => norm(t.file.filePath)).toSet
      val planInputs = IncrementalDedup.incrementalVerdict(spark, f.docs,
        f.tokenIndex, f.hashIndex, f.pairIndex, f.watermark, 0.5)
        .inputFiles.map(norm).toSet
      assert(planInputs.nonEmpty)
      assert(planInputs.intersect(oldFiles).isEmpty,
        "verdict plan scans old document files instead of the persisted indexes")
    }
  }

  test("hash/pair index rolls reproduce full-corpus state; stale verdict retry exact") {
    QueryScope.run {
      import org.apache.spark.sql.functions.{col, md5, min => fmin}
      val wh = java.nio.file.Files.createTempDirectory("graft-verdict-roll").toString
      val catalog = new graft.meta.FileCatalog(wh)
      val docsRaw = spark.read.parquet(s"$sfDir/documents.parquet")
      val b1 = docsRaw.where("doc_id % 10 != 0")
      val b2 = docsRaw.where("doc_id % 10 = 0")
      val dt = graft.table.IceTable.create(catalog, "docs_verdict_roll",
        graft.core.SchemaConv.fromSpark(docsRaw.schema))
      val snap1 = dt.append(b1).snapshotId
      dt.refresh()
      val idx0 = IncrementalDedup.tokenIndexOf(b1)
      val it = graft.table.IceTable.create(catalog, "tok_verdict_roll",
        graft.core.SchemaConv.fromSpark(idx0.schema))
      it.append(idx0); it.refresh()
      val h0 = b1.select(col("doc_id"),
          md5(col("text").cast(org.apache.spark.sql.types.BinaryType)).as("h"))
        .groupBy("h").agg(fmin(col("doc_id")).as("doc_id"))
        .select(col("h"), col("doc_id"))
      val ht = graft.table.IceTable.create(catalog, "hash_verdict_roll",
        graft.core.SchemaConv.fromSpark(h0.schema))
      ht.append(h0); ht.refresh()
      val p0 = Dedup.countJoinJaccardPersisted(
        Dedup.tokensPersisted(b1.select(col("doc_id"), col("source"),
          Dedup.wordSet(col("text")).as("ws"))), 0.5)
        .select(col("doc_a"), col("doc_b"))
      val pt = graft.table.IceTable.create(catalog, "pair_verdict_roll",
        graft.core.SchemaConv.fromSpark(p0.schema))
      pt.append(p0); pt.refresh()
      dt.append(b2); dt.refresh()
      val before = IncrementalDedup.incrementalVerdict(
          spark, dt, it, ht, pt, snap1, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSet
      // roll all three artifacts (pair roll consumes the PRE-roll token index)
      IncrementalDedup.extendPairIndex(spark, dt, it, pt, snap1, 0.5)
      IncrementalDedup.extendHashIndex(spark, dt, ht, snap1)
      IncrementalDedup.extendIndex(spark, dt, it, snap1)
      // rolled pair index == the FULL corpus pair set (old-old ∪ touching
      // covers every pair) and rolled hash index == global per-hash minima
      val fullPairs = pairSet(Dedup.jaccardPairs(spark, sfDir, 0.5))
      val storedPairs = pt.scan(spark).select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(storedPairs == fullPairs)
      val fullMins = docsRaw.select(col("doc_id"),
          md5(col("text").cast(org.apache.spark.sql.types.BinaryType)).as("h"))
        .groupBy("h").agg(fmin(col("doc_id")).as("doc_id"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val storedMins = ht.scan(spark).select("h", "doc_id").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(storedMins == fullMins)
      // a STALE-watermark retry after all rolls must return the same verdict
      // (duplicate edges are harmless to the closure; the hash anti-join +
      // re-union reproduces the same minima)
      val staleRerun = IncrementalDedup.incrementalVerdict(
          spark, dt, it, ht, pt, snap1, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSet
      assert(staleRerun == before)
    }
  }

  private def vecPairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("incremental embedding pairs equal full-corpus LSH restricted to the increment") {
    QueryScope.run {
      val f = IceQueries.incrementalEmb(spark, sfDir)
      val incremental = vecPairSet(IncrementalDedup.incrementalEmbeddingPairs(
        spark, f.emb, f.buckets, f.watermark, 0.2))
      val full = vecPairSet(Similarity.embeddingNearDupLSH(spark, sfDir, 0.2))
      val expected = full.filter { case (a, b) => a % 10 == 0 || b % 10 == 0 }
      assert(incremental == expected)
      assert(incremental.nonEmpty, "fixture should contain near-dup pairs touching new vectors")
    }
  }

  test("embedding candidate plan buckets only the increment; verify is candidate-keyed") {
    QueryScope.run {
      val f = IceQueries.incrementalEmb(spark, sfDir)
      val oldFiles = f.emb.newScan(snapshotId = Some(f.watermark)).planFiles()
        .map(t => norm(t.file.filePath)).toSet
      assert(oldFiles.nonEmpty)
      // the CANDIDATE stage (where all per-vector compute lives: int8
      // quantization + hyperplane projections) must not read a pre-watermark
      // embedding file — stored vectors arrive as persisted bucket rows
      val candInputs = IncrementalDedup.incrementalEmbeddingCandidates(
        spark, f.emb, f.buckets, f.watermark).inputFiles.map(norm).toSet
      assert(candInputs.nonEmpty)
      assert(candInputs.intersect(oldFiles).isEmpty,
        "candidate plan scans old embedding files instead of the bucket table")
      // the verify join DOES read old vectors, but only candidate-keyed —
      // its plan must carry the candidate join, not a second bucketing pass
      val pairs = IncrementalDedup.incrementalEmbeddingPairs(
        spark, f.emb, f.buckets, f.watermark, 0.2)
      assert(pairs.count() ==
        IncrementalDedup.incrementalEmbeddingPairs(
          spark, f.emb, f.buckets, f.watermark, 0.2).count())
    }
  }

  test("incremental kNN equals the full kNN graph restricted to increment queries") {
    QueryScope.run {
      val f = IceQueries.incrementalEmb(spark, sfDir)
      val inc = IncrementalDedup.incrementalKnn(spark, f.emb, f.buckets, f.watermark, 5)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      val full = Similarity.knnGraph(spark, sfDir, 5)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      val expected = full.filter(_._1 % 10 == 0)
      // bit-identical ranked lists: a stored-bucket miss or a fresh-path
      // bucketing drift would change a neighbor or a rank
      assert(inc == expected)
      assert(inc.nonEmpty)
    }
  }

  test("extendEmbeddingBuckets rolls the bucket table to the full corpus's rows") {
    QueryScope.run {
      val s = spark
      // fresh private fixture (don't mutate the shared memoized one)
      val wh = java.nio.file.Files.createTempDirectory("graft-emb-roll").toString
      val catalog = new graft.meta.FileCatalog(wh)
      val embRaw = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val b1 = embRaw.where("vec_id % 10 != 0")
      val b2 = embRaw.where("vec_id % 10 = 0")
      val et = graft.table.IceTable.create(catalog, "emb_roll",
        graft.core.SchemaConv.fromSpark(embRaw.schema))
      val snap1 = et.append(b1).snapshotId
      et.refresh()
      val buckets0 = Similarity.bucketRows(b1)
      val bt = graft.table.IceTable.create(catalog, "emb_buckets_roll",
        graft.core.SchemaConv.fromSpark(buckets0.schema))
      bt.append(buckets0); bt.refresh()
      et.append(b2); et.refresh()
      IncrementalDedup.extendEmbeddingBuckets(spark, et, bt, snap1)
      // rolled-forward buckets == bucketing the full corpus fresh
      val fromFull = Similarity.bucketRows(embRaw)
      val stored = bt.scan(spark).select("vec_id", "label", "tbl", "bucket")
      assert(stored.count() == fromFull.count())
      assert(stored.exceptAll(fromFull).isEmpty && fromFull.exceptAll(stored).isEmpty)
    }
  }
}
