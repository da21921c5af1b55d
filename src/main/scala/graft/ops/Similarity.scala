package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._



/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Two paths, as a 100 TB pipeline needs:
  *   - brute-force cosine top-k as the exactness baseline: broadcast the
  *     (small) query set, one pass over the corpus, per-query top-k via
  *     window rank — no corpus self-shuffle;
  *   - LSH-bucketed ANN as the scale path: 16 deterministic random
  *     hyperplanes → 16-bit bucket key, candidates restricted to
  *     bucket-mates (the shuffle key is the bucket, not the pair).
  */
object Similarity {
  import QueryDef.t

  /** Cosine as a native codegen expression (`graft.functions.CosineSimExpr`):
    * one fused loop in whole-stage codegen, accumulating in double in index
    * order — bit-identical to the interpreted HOF fold it replaced, which
    * was the hot path of every embedding operator.
    */
  private[ops] def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExprs.cosineSim(a, b)

  /** Shared tail of every ANN/exact re-rank: per-query top-k over a scored
    * (query_id, neighbor_id, cos_sim) frame via the native PARTIAL-
    * AGGREGATING [[graft.functions.TopKByScore]] aggregate. The
    * `row_number().over(Window.partitionBy("query_id"))` formulation it
    * replaces shuffled every scored corpus×queries row into nQueries
    * partitions — corpus-sized single-task partitions once the query batch
    * grows. The aggregate reduces each map task's slice to ≤k entries per
    * query BEFORE the exchange (the per-group TakeOrderedAndProject
    * discipline), with the identical (score desc, id asc) ordering, so
    * results are bit-unchanged — for NON-NULL scores: the aggregate skips
    * null-scored rows, whereas the window ranked them nulls-last, so a
    * query with fewer than k non-null candidates returns fewer rows here.
    * Every current caller scores with cosine over non-null embeddings;
    * a future caller with nullable scores must pre-filter.
    */
  private[ops] def perQueryTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(graft.functions.TopKByScore.topKByScore(
        col("cos_sim"), col("neighbor_id"), k).as("nbrs"))
      .select(col("query_id"), posexplode(col("nbrs")).as(Seq("pos", "nbr")))
      .select(col("query_id"), col("nbr.id").as("neighbor_id"),
        col("nbr.score").as("cos_sim"),
        (col("pos") + 1).cast(IntegerType).as("rn"))

  /** Exact top-k neighbors for the query vectors (vec_id < nQueries). */
  def bruteForceTopK(spark: SparkSession, dir: String, nQueries: Int, k: Int): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val queries = emb.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    perQueryTopK(
      emb.select(col("vec_id").as("neighbor_id"), col("embedding"))
        .crossJoin(broadcast(queries))
        .where(col("neighbor_id") =!= col("query_id"))
        .withColumn("cos_sim", round(cosine(col("qvec"), col("embedding")), 4)),
      k)
  }

  /** Per-vector symmetric int8 quantization: `code_i = round(x_i / scale)`
    * with `scale = max(max_i |x_i|, 1e-12) / 127` — codes in [-127, 127],
    * one float scale per vector (a 4× at-rest/bandwidth reduction for the
    * candidate passes that read only codes). DETERMINISTIC BY CONSTRUCTION:
    * scale is a max (no accumulation order), the division+round is one IEEE
    * op per element with identical half-away-from-zero semantics in Spark
    * and DuckDB, and every downstream dot product over codes is an exact
    * small-integer sum — which is what lets the LSH/quantized ANN oracles
    * restate candidate generation bit-for-bit in SQL.
    */
  private[ops] def withInt8Codes(emb: DataFrame,
      embCol: String = "embedding"): DataFrame =
    emb.withColumn("codes",
      graft.functions.VectorExprs.int8Codes(col(embCol)))

  /** The codes CTE of every embedding oracle — the SQL statement of
    * [[withInt8Codes]], verbatim. `private[ops]`: the incremental embedding
    * dedup's oracle (IncrementalDedup) composes the same CTEs so the two
    * restatements cannot drift.
    */
  private[ops] def codesCteSql: String = """
c AS (
  SELECT vec_id, label, embedding,
    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) /
      (greatest(list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))), 1e-12)/127.0))
      AS BIGINT)) AS codes
  FROM embeddings)"""

  /** The per-table LSH bucket expressions over the codes CTE, generated
    * from the SAME [[graft.functions.LshBuckets.plane]] integers the
    * codegen expression uses — the two engines cannot drift.
    */
  private[ops] def bucketColsSql: String = {
    import graft.functions.LshBuckets.{Tables, PlanesPerTable, plane}
    (0 until Tables).map { tb =>
      val planes = (0 until PlanesPerTable).map { p =>
        val proj = (0 until 64).map(d => s"(${plane(tb, p, d)})*codes[${d + 1}]")
          .mkString(" + ")
        s"(CASE WHEN ($proj) >= 0 THEN ${1 << p} ELSE 0 END)"
      }.mkString(" + ")
      s"($planes) AS b$tb"
    }.mkString(", ")
  }

  /** Multi-table hyperplane LSH over int8 codes: L tables of k planes each
    * (higher recall at the same bucket sparsity). Planes are deterministic
    * LCG integers and projections are exact integer sums — the bucket
    * computation is the native codegen expression
    * [[graft.functions.LshBucketsExpr]], restated verbatim by the oracle.
    */
  private def lshBuckets(codes: Column): Column =
    org.apache.spark.sql.graftshim.GraftShim.column(
      graft.functions.LshBucketsExpr(
        org.apache.spark.sql.graftshim.GraftShim.expression(codes)))

  /** Exploded LSH bucket rows (vec_id, label, tbl, bucket) for an embedding
    * frame — the per-vector artifact the INCREMENTAL embedding dedup
    * accumulates ([[IncrementalDedup.extendEmbeddingBuckets]]): 4 small
    * rows per vector instead of the 64 floats, so bucketing cost is paid
    * once per vector ever, not once per run.
    */
  private[ops] def bucketRows(emb: DataFrame): DataFrame =
    withInt8Codes(emb).select(col("vec_id"), col("label"),
      posexplode(lshBuckets(col("codes"))).as(Seq("tbl", "bucket")))

  /** ANN via multi-table LSH: neighbors searched only among bucket-mates of
    * any table. The shuffle key is (table, bucket); the corpus is never
    * self-joined all-pairs. Bucket recall is a design property, but the
    * OUTPUT is deterministic (integer buckets + rounded-cosine verify), so
    * the oracle restates the whole pipeline.
    */
  def lshTopK(spark: SparkSession, dir: String, nQueries: Int, k: Int): DataFrame = {
    // persisted: the quantization transform is an interpreted HOF (its
    // array_max scale sub-expression inlines per element under projection
    // collapse), and the banded frame is read by BOTH join sides — without
    // the cache the codes evaluate twice per row
    val emb = withInt8Codes(t(spark, dir, "embeddings"))
      .withColumn("buckets", lshBuckets(col("codes")))
      .transform(QueryScope.persist(_))
    val banded = emb.select(col("vec_id"), col("embedding"),
      posexplode(col("buckets")).as(Seq("tbl", "bucket")))
    val queries = banded.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("tbl").as("qtbl"), col("bucket").as("qbucket"))
    perQueryTopK(
      banded.select(col("vec_id").as("neighbor_id"), col("embedding"),
          col("tbl"), col("bucket"))
        .join(broadcast(queries), col("tbl") === col("qtbl") &&
          col("bucket") === col("qbucket") && col("neighbor_id") =!= col("query_id"))
        .select("query_id", "neighbor_id", "qvec", "embedding").distinct()
        .withColumn("cos_sim", round(cosine(col("qvec"), col("embedding")), 4)),
      k)
  }

  /** Per-(table, bucket) membership cap for the k-NN graph's candidate
    * self-join — the vector analogue of [[Dedup.BandBucketCap]]. The LSH
    * bucket space is small (4 tables × 2⁴ buckets), so bucket populations
    * grow LINEARLY with the corpus and the ungated self-join grows
    * QUADRATICALLY: the sf1 probe measured 97 s (35× for 10× data) before
    * the gate. A bucket over the cap splits into S = ceil(n/cap)
    * deterministic sub-buckets by a modular fold of (vec_id, tbl), which
    * bounds a vector's candidate width at ≤ 4·cap REGARDLESS of corpus
    * size — candidate volume is then ≤ 4·cap·N, linear in N. Recall for a
    * hot-bucket pair is 1-(1-1/S)⁴ across the 4 tables (each vector still
    * ranks its top-k among ~cap near neighbors — the standard bounded-probe
    * ANN trade). Buckets at or under the cap are EXACTLY as before (salt
    * constant 0), and the DuckDB oracle restates the identical fold, so
    * engine and oracle agree bit-for-bit at every corpus shape.
    */
  val VecBucketCap = 256

  /** [[Dedup.saltBands]] for vector buckets: count per bucket key (default
    * (tbl, bucket); near-dup adds label), salt 0 under the cap, else an
    * exact-integer fold of (vec_id, tbl) into S = ceil(n/cap) sub-buckets —
    * every step restatable in ANSI SQL so the oracle computes the identical
    * salt. Cool-corpus fast path: when no bucket exceeds the cap, emit the
    * constant without the count-join.
    */
  private[ops] def bucketCounts(banded: DataFrame,
      keys: Seq[String] = Seq("tbl", "bucket")): DataFrame =
    banded.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__bn"))

  private[ops] def hasHotBucket(counts: DataFrame, cap: Int): Boolean = {
    val hottest = counts.agg(max(col("__bn"))).first()
    !hottest.isNullAt(0) && hottest.getLong(0) > cap
  }

  /** Attach the salt given precomputed counts. Split from [[saltBuckets]]
    * so the incremental ops can compute counts ONCE over the full corpus
    * and salt both join sides from the same cached frame — salts then equal
    * the batch pipeline's bit-for-bit without persisting any corpus-sized
    * frame. The counts join is left unhinted like [[Dedup.saltBands]]'s:
    * counts are bucket-space-sized (× label cardinality for the near-dup
    * key), so AQE broadcasts them when small and falls back safely when a
    * high-cardinality label column makes them large.
    */
  private[ops] def saltWith(banded: DataFrame, counts: DataFrame, cap: Int,
      keys: Seq[String], anyHot: Boolean): DataFrame =
    if (!anyHot) banded.withColumn("salt", lit(0L))
    else banded.join(counts, keys)
      .withColumn("salt",
        when(col("__bn") <= cap, lit(0L))
          .otherwise(
            ((col("vec_id") % lit(2147483647L)) * lit(1000003L) + col("tbl"))
              % lit(2147483647L)
              // ⌈n/cap⌉ via INTEGER `div`, exactly as the SQL oracle's `//`:
              // double `/` then cast happens to agree only because the cap
              // is a power of two — a non-power-of-two cap could round the
              // double differently and silently break engine/oracle parity
              % expr(s"(__bn + ${cap - 1}) div ${cap.toLong}")))
      .drop("__bn")

  private[ops] def saltBuckets(banded: DataFrame, cap: Int,
      keys: Seq[String] = Seq("tbl", "bucket")): DataFrame = {
    val counts = bucketCounts(banded, keys)
    saltWith(banded, counts, cap, keys, hasHotBucket(counts, cap))
  }

  /** The k-NN GRAPH: every corpus vector's top-k neighbors among its LSH
    * bucket-mates — the neighbor structure graph-based curation consumes
    * (SemDeDup variants, graph clustering, coverage sampling). Unlike the
    * query-batch ANN ops there is no broadcastable query side: the
    * candidate stage is a bucket-keyed SELF-join (shuffle keys (tbl,
    * bucket, salt) — never all-pairs, hot buckets sub-bucketed by
    * [[saltBuckets]] under [[VecBucketCap]] so candidate volume stays
    * linear in the corpus), candidate pairs drop to slim id pairs and
    * dedup BEFORE any vector payload is attached, and the per-vector top-k
    * is the partial-aggregating [[graft.functions.TopKByScore]] — each map
    * task reduces to ≤k per vector before the exchange, so the corpus-sized
    * scored frame never crosses a shuffle unreduced. Deterministic
    * end-to-end (integer planes, deterministic salt fold, rounded cosine,
    * (score desc, id asc) ranking): the oracle restates the whole graph.
    */
  def knnGraph(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val emb = withInt8Codes(t(spark, dir, "embeddings"))
      .transform(QueryScope.persist(_))
    // persist the BANDED frame (not just emb): both sides of the self-join
    // read it, and unpersisted each side would re-run the 4-table x 16-plane
    // x 64-dim integer projections per corpus row
    val banded = QueryScope.persist(saltBuckets(
      emb.select(col("vec_id"),
        posexplode(lshBuckets(col("codes"))).as(Seq("tbl", "bucket"))),
      VecBucketCap))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
        col("a.salt") === col("b.salt") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"))
      .distinct()
    val va = emb.select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val vb = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("nvec"))
    perQueryTopK(cand.join(va, "query_id").join(vb, "neighbor_id")
      .withColumn("cos_sim", round(cosine(col("qvec"), col("nvec")), 4)), k)
  }

  /** Embedding near-dup via LSH pre-candidates + exact cosine verify — the
    * 100 TB plan: the only shuffle keys are (table, bucket, label, salt), so
    * cost is Σ_bucket C(n,2) over bucket populations instead of C(n,2) over
    * whole label blocks — and a bucket whose population outgrows
    * [[VecBucketCap]] (the mass-duplicate-embedding degenerate case, e.g. a
    * boilerplate page embedded millions of times) sub-buckets under the
    * same deterministic fold as [[knnGraph]], keeping candidate volume
    * linear in the corpus. Probabilistic recall (a pair must share ≥1 of
    * the 4 table buckets; co-salt within a hot bucket at 1-(1-1/S)⁴);
    * every emitted pair is exactly verified. SimilaritySpec pins the
    * recall against the exact blocked join.
    */
  def embeddingNearDupLSH(spark: SparkSession, dir: String, threshold: Double): DataFrame = {
    val emb = withInt8Codes(t(spark, dir, "embeddings"))
      .transform(QueryScope.persist(_))
    // candidate generation is ID-only: a pair surfaces once per shared
    // bucket, so dedup BEFORE attaching the 64-float vectors — the distinct
    // then shuffles slim (id, id, label) rows, not array payloads
    // persisted for the same both-sides-of-the-self-join reason as knnGraph
    val banded = QueryScope.persist(saltBuckets(emb
      .select(col("vec_id"), col("label"),
        posexplode(lshBuckets(col("codes"))).as(Seq("tbl", "bucket"))),
      VecBucketCap, Seq("tbl", "bucket", "label")))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
        col("a.label") === col("b.label") && col("a.salt") === col("b.salt") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.label").as("label"))
      .distinct()
    val ea = emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val eb = emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
    cand.join(ea, "vec_a").join(eb, "vec_b")
      .withColumn("cos_sim", round(cosine(col("ea"), col("eb")), 4))
      .where(col("cos_sim") >= threshold)
      .select("vec_a", "vec_b", "label", "cos_sim")
  }

  /** Exact near-dup pairs blocked by label. All-pairs within a block is
    * inherently C(n,2) COMPARES, but the naive label-keyed join also put a
    * hot label's entire C(n,2) on ONE shuffle key — the single-task
    * hotspot that kills the plan at 100×. Triangle grid partitioning fixes
    * the skew while staying exact: a label with n rows splits into
    * g = ⌈n / blockCap⌉ hash groups, each row replicates to its g
    * (min(gid,j), max(gid,j)) group-pair keys, and every unordered row
    * pair meets on EXACTLY one (label, k1, k2) key — so no shuffle key
    * holds more than ~2·blockCap rows, the quadratic work spreads over
    * g(g+1)/2 tasks, and a label under the cap (g = 1) degenerates to the
    * plain label join. Exactness is untouched (oracle-checked); the LSH
    * variant above remains the sub-quadratic scale path.
    */
  def embeddingNearDupExact(spark: SparkSession, dir: String, threshold: Double,
      blockCap: Int = 4096): DataFrame =
    gridPairs(gridKeyed(t(spark, dir, "embeddings"), blockCap), "label", threshold)

  /** The triangle-grid pair join over a [[gridKeyed]] frame, shared by the
    * label-blocked exact near-dup and the cell-blocked semantic dedup so
    * the EXACTNESS-critical home-cell filter (each unordered pair kept only
    * where (least, greatest) of the two gids equals the cell key) lives in
    * one place. Pairs are verified by exact rounded cosine at `threshold`.
    */
  private[ops] def gridPairs(keyed: DataFrame, key: String,
      threshold: Double): DataFrame = {
    val a = keyed.select(col(key), col("k1"), col("k2"),
      col("vec_id").as("vec_a"), col("gid").as("ga"), col("embedding").as("ea"))
    val b = keyed.select(col(key), col("k1"), col("k2"),
      col("vec_id").as("vec_b"), col("gid").as("gb"), col("embedding").as("eb"))
    a.join(b, Seq(key, "k1", "k2")).where(col("vec_a") < col("vec_b") &&
        least(col("ga"), col("gb")) === col("k1") &&
        greatest(col("ga"), col("gb")) === col("k2"))
      .withColumn("cos_sim", round(cosine(col("ea"), col("eb")), 4))
      .where(col("cos_sim") >= threshold)
      .select(col("vec_a"), col("vec_b"), col(key), col("cos_sim"))
  }

  /** Triangle-grid replication: each row of a label with n > blockCap rows
    * fans out to its g group-pair keys (g = ⌈n / blockCap⌉); the count per
    * label is a broadcast-joined aggregate, metadata-sized. Same-group rows
    * share ALL g of their keys, so consumers must keep a pair only in its
    * home cell: (least(gid_a, gid_b), greatest(gid_a, gid_b)) == (k1, k2) —
    * cross-group pairs co-occur on exactly that one key, and the filter
    * picks the diagonal cell for same-group pairs.
    */
  private[ops] def gridKeyed(emb: DataFrame, blockCap: Int,
      key: String = "label"): DataFrame = {
    val counts = emb.groupBy(key).agg(count(lit(1)).as("n"))
    emb.join(broadcast(counts), key)
      // integer ceil-division (see saltWith): identical to the oracle's
      // ceil for every count a long can hold, double rounding never enters
      .withColumn("g", expr(s"cast((n + ${blockCap - 1}) div $blockCap as int)"))
      .withColumn("gid", pmod(xxhash64(col("vec_id")), col("g")).cast(IntegerType))
      .withColumn("j", explode(sequence(lit(0), col("g") - 1)))
      .select(col(key), col("vec_id"), col("embedding"), col("gid"),
        least(col("gid"), col("j")).as("k1"),
        greatest(col("gid"), col("j")).as("k2"))
  }

  /** Fit an IVF codebook from a DETERMINISTIC row-capped sample: order by
    * md5 of the id (a pseudo-random but stable AND engine-portable
    * permutation — the pipeline_split discipline), take the first
    * `sampleCap` (a distributed top-k, one pass, no full sort), run the
    * PORTABLE integer Lloyd's ([[graft.functions.IvfCodebook.fitPortable]])
    * on the driver over micro-quantized coordinates, then release the
    * centers as doubles via one exact division each. At 100 TB the sample
    * is still `sampleCap` rows — codebook cost never scales with the
    * corpus. Every step is restatable in SQL, which is what lets the DuckDB
    * oracle reproduce the codebook — and therefore the whole IVF pipeline —
    * bit-for-bit.
    */
  /** Test hook: counts codebook fits. With a Puffin-persisted codebook the
    * table path must load metadata without ever incrementing this.
    */
  val codebookFits = new java.util.concurrent.atomic.AtomicLong()

  private[ops] val MicroScale = 10000d

  private[ops] def fitCodebook(emb: DataFrame, nCells: Int,
      sampleCap: Int = 4096): Array[Array[Double]] = {
    import graft.functions.IvfCodebook
    codebookFits.incrementAndGet()
    val sample = emb.select(col("vec_id"), col("embedding"))
      .orderBy(md5(col("vec_id").cast(StringType).cast(BinaryType)), col("vec_id"))
      .limit(sampleCap)
      .collect()
      .map(_.getSeq[Float](1)
        .map(f => IvfCodebook.halfAwayRound(f.toDouble * MicroScale)).toArray)
    IvfCodebook.fitPortable(sample, nCells).map(_.map(_ / MicroScale))
  }

  /** IVF-Flat ANN over a given codebook: one corpus pass assigns each
    * vector to its euclidean-nearest cell; each query probes its `nProbe`
    * cosine-nearest cells and re-ranks candidates with exact cosine. The
    * 100 TB shape: candidates shuffle on the cell id (never all-pairs) and
    * the codebook is tiny broadcast state — the classic inverted-file trade
    * of recall for a nCells/nProbe cost bound.
    */
  private def ivfTopKFrom(emb: DataFrame, centers: Array[Array[Double]],
      nQueries: Int, k: Int, nProbe: Int): DataFrame = {
    // cell assignment/probing are native codegen expressions with the (tiny)
    // codebook as referenced state — the corpus-wide assignment pass stays in
    // whole-stage codegen (PlanAuditSpec asserts no UDF node in this plan)
    import graft.functions.IvfExprs.{ivfAssign, ivfProbe}
    val assigned = emb.withColumn("cell", ivfAssign(col("embedding"), centers))
      .transform(QueryScope.persist(_))
    val queries = assigned.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        explode(ivfProbe(col("embedding"), centers, nProbe)).as("cell"))
    // each corpus vector lives in exactly one cell → no candidate dedup
    perQueryTopK(
      assigned.select(col("vec_id").as("neighbor_id"), col("embedding"), col("cell"))
        .join(broadcast(queries), Seq("cell"))
        .where(col("neighbor_id") =!= col("query_id"))
        .withColumn("cos_sim", round(cosine(col("qvec"), col("embedding")), 4)),
      k)
  }

  /** IVF-Flat ANN over a raw parquet dir: fits the sample-capped codebook
    * inline (no persistence seam to key it on).
    */
  def ivfTopK(spark: SparkSession, dir: String, nQueries: Int, k: Int,
      nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    ivfTopKFrom(emb, fitCodebook(emb, nCells), nQueries, k, nProbe)
  }

  /** Table-backed IVF ANN: loads the codebook persisted as a Puffin
    * statistics blob ([[graft.table.IceTable.setIvfCodebook]]), fitting and
    * persisting it on first use — subsequent invocations read tiny metadata
    * instead of re-clustering any part of the corpus.
    */
  def ivfTopKForTable(spark: SparkSession, table: graft.table.IceTable,
      nQueries: Int, k: Int, nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val emb = table.scan(spark)
    ivfTopKFrom(emb, tableCodebook(table, emb, nCells), nQueries, k, nProbe)
  }

  /** The persisted-codebook discipline shared by every table-backed
    * embedding op: load the Puffin blob, fitting + persisting only on first
    * use — so repeat invocations read tiny metadata, never a corpus sample.
    */
  private def tableCodebook(table: graft.table.IceTable, emb: DataFrame,
      nCells: Int): Array[Array[Double]] =
    table.ivfCodebookOf("embedding").getOrElse {
      val fitted = fitCodebook(emb, nCells)
      table.setIvfCodebook("embedding", fitted)
      fitted
    }

  /** SemDeDup-style semantic dedup: every vector gets a keep/drop decision
    * from embedding-space duplicate groups. The corpus is partitioned by
    * the deterministic sample-fitted IVF codebook (codegen cell
    * assignment — the same machinery as sim_ann_ivf), near-dup pairs are
    * generated only WITHIN a cell (triangle-grid keyed on the cell, so a
    * hot cell never lands on one shuffle key), pairs connect into groups
    * via duplicateClusters, and each group keeps its minimum vec_id.
    *
    * 100 TB shape: cells bound the pairing the way labels bound the exact
    * near-dup baseline, but need NO labels — this is the semantic-dedup
    * recipe for unlabeled web-scale corpora (cluster, then dedup inside
    * clusters only). Cross-cell near-dups are the accepted recall loss —
    * probabilistic by construction, so the registered query is rows-only;
    * SimilaritySpec pins perfect recall on planted exact duplicates (an
    * identical vector pair can never split across cells) and determinism.
    */
  private[ops] def semanticDedupFrom(emb0: DataFrame, centers: Array[Array[Double]],
      threshold: Double, blockCap: Int = 4096): DataFrame = {
    import graft.functions.IvfExprs.ivfAssign
    val emb = emb0.withColumn("cell", ivfAssign(col("embedding"), centers))
      .transform(QueryScope.persist(_))
    val pairs = gridPairs(gridKeyed(emb, blockCap, "cell"), "cell", threshold)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val clusters = Dedup.duplicateClusters(pairs)
      .withColumnRenamed("doc_id", "vec_id")
    emb.select(col("vec_id"))
      .join(clusters, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id")).as("rep_id"),
        (coalesce(col("cluster_id"), col("vec_id")) === col("vec_id"))
          .cast(LongType).as("keep"))
  }

  def semanticDedup(spark: SparkSession, dir: String, threshold: Double,
      nCells: Int = 16, blockCap: Int = 4096): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    semanticDedupFrom(emb, fitCodebook(emb, nCells), threshold, blockCap)
  }

  /** Table-backed SemDeDup: the same persisted-codebook discipline as
    * [[ivfTopKForTable]] — the registered query routes through the curation
    * embeddings table, so the codebook fits at most once per table and every
    * later invocation partitions the corpus from metadata.
    */
  def semanticDedupForTable(spark: SparkSession, table: graft.table.IceTable,
      threshold: Double, nCells: Int = 16, blockCap: Int = 4096): DataFrame = {
    val emb = table.scan(spark)
    semanticDedupFrom(emb, tableCodebook(table, emb, nCells), threshold, blockCap)
  }

  /** Scalar int8 quantization + quantized ANN — the memory/IO scale path.
    * Per-vector symmetric codes ([[withInt8Codes]]) map each float32 vector
    * to 64 one-byte codes + one scale: a 4× at-rest and scan-bandwidth
    * reduction, which at 100 TB of embeddings is the difference between an
    * in-memory and a disk-bound candidate pass. Candidate generation scores
    * CODES only — cosine over code vectors, an exact integer dot product
    * (scales cancel in cosine up to quantization error, so candidates never
    * read the scale either); the exact re-rank then fetches original
    * vectors for just the k×oversample candidate ids per query — a
    * candidate-keyed lookup, never a second corpus pass.
    *
    * Candidate RECALL is approximate by construction, but every arithmetic
    * step is cross-engine exact (integer dots, IEEE sqrt/divide, rounded
    * re-rank), so the oracle restates the whole pipeline and hash-matches;
    * SimilaritySpec additionally pins recall against the exact top-k and
    * the per-element reconstruction-error bound (≤ scale/2).
    */
  def quantizedTopK(spark: SparkSession, dir: String, nQueries: Int, k: Int,
      oversample: Int = 4): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val coded = withInt8Codes(emb)
      // codes as doubles for the exact fused cosine loop (small-int values:
      // every product/sum below 2^53 is exact, so accumulation order is
      // irrelevant — unlike float inputs); all-zero codes (a zero vector)
      // would make cosine 0/0 — flag once per vector, score -2 (ranked last)
      .select(col("vec_id"),
        transform(col("codes"), _.cast(DoubleType)).as("codesd"),
        (array_max(transform(col("codes"), x => abs(x))) === 0L).as("qzero"))
      .transform(QueryScope.persist(_))
    val queries = coded.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("codesd").as("qcodes"),
        col("qzero").as("q_zero"))
    // approx candidate stage: same partial top-k aggregate (k·oversample
    // per query) — the corpus-sized quantized scores never cross an
    // exchange un-reduced
    val cand = coded
      .select(col("vec_id").as("neighbor_id"), col("codesd").as("ncodes"),
        col("qzero").as("n_zero"))
      .crossJoin(broadcast(queries))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim", when(col("q_zero") || col("n_zero"), lit(-2.0))
        .otherwise(cosine(col("qcodes"), col("ncodes"))))
      .transform(perQueryTopK(_, k * oversample))
      .select("query_id", "neighbor_id")
    exactRerank(cand, emb, nQueries, k)
  }

  /** Exact re-rank of a (query_id, neighbor_id) candidate frame: fetch
    * original vectors candidate-keyed (never a second corpus pass), score
    * with exact rounded cosine, keep per-query top-k via the partial
    * aggregate.
    */
  private[ops] def exactRerank(cand: DataFrame, emb: DataFrame,
      nQueries: Int, k: Int): DataFrame =
    perQueryTopK(
      cand
        .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding")),
          "neighbor_id")
        .join(broadcast(emb.where(col("vec_id") < nQueries)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))),
          "query_id")
        .withColumn("cos_sim", round(cosine(col("qvec"), col("embedding")), 4)),
      k)

  /** Test hook: the per-vector quantization machinery round-tripped, exposed
    * so the spec can pin the reconstruction-error bound (≤ qscale/2 per
    * element) directly.
    */
  private[ops] def quantizeRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val scale = greatest(
      array_max(transform(col("embedding"), x => abs(x.cast(DoubleType)))),
      lit(1e-12)) / lit(127.0)
    emb.select(col("vec_id"), col("embedding"), scale.as("qscale"),
        transform(col("embedding"), x =>
          round(x.cast(DoubleType) / col("qscale")).cast(LongType)).as("codes"))
      .select(col("vec_id"), col("embedding"), col("qscale"),
        transform(col("codes"), c => c.cast(DoubleType) * col("qscale"))
          .as("dequantized"))
  }

  /** Label centroid distances: per-label mean vector, then each vector's
    * cosine to its label centroid — a typical embedding-quality signal.
    */
  def labelCentroidStats(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
      .withColumn("vd", transform(col("embedding"), x => x.cast(DoubleType)))
    val agg = emb.groupBy("label")
      .agg(count(lit(1)).as("n_vectors"),
        array((0 until 64).map(i => sum(element_at(col("vd"), i + 1))): _*).as("sumvec"))
      .select(col("label"), col("n_vectors"),
        transform(col("sumvec"), s => s / col("n_vectors")).as("centroid"))
    emb.join(broadcast(agg), "label")
      .withColumn("cos_c", cosine(col("vd"), col("centroid")))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vectors"),
        round(avg(col("cos_c")), 3).as("avg_cos_to_centroid"))
      .select("label", "n_vectors", "avg_cos_to_centroid")
  }

  /** The portable-IVF fit + corpus-assignment CTEs the IVF/semantic oracles
    * share — the SQL restatement of [[fitCodebook]] (md5-ordered capped
    * sample, micro quantization, two integer Lloyd rounds with floor-div
    * centroids and empty-cells-keep-previous) followed by the
    * double-arithmetic argmin assignment of
    * [[graft.functions.IvfCodebook.nearest]] (sequential dim sums — DuckDB's
    * left-fold `list_reduce` adds in the same order as the Scala loop, so
    * the doubles are bitwise identical).
    *
    * Precondition: the corpus has ≥ 16 vectors — the seed CTE hardcodes 16
    * cells, while `fitPortable` clamps to min(16, n). Every driver SF has
    * ≥ 500; a sub-16-vector corpus would diverge here and must not be
    * oracle-gated through these CTEs.
    */
  private def ivfFitCtes: String = """
samp AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS m,
    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS srn
  FROM embeddings QUALIFY srn <= 4096),
scnt AS (SELECT COUNT(*) AS n FROM samp),
seed AS (
  SELECT g.i AS cell, s.m
  FROM (SELECT unnest(range(0, 16)) AS i) g, scnt, samp s
  WHERE s.srn = (g.i * scnt.n) // 16 + 1),
a1 AS (
  SELECT s.srn, s.m, c.cell,
    row_number() OVER (PARTITION BY s.srn ORDER BY
      list_reduce(list_transform(range(1, 65),
        i -> (s.m[i] - c.m[i]) * (s.m[i] - c.m[i])), (a, b) -> a + b), c.cell) AS r
  FROM samp s, seed c),
g1 AS (SELECT srn, m, cell FROM a1 WHERE r = 1),
c1e AS (
  SELECT cell, u.i AS d,
    CAST(floor(CAST(SUM(m[u.i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
  FROM g1, unnest(range(1, 65)) u(i) GROUP BY cell, u.i),
c1m AS (SELECT cell, list(v ORDER BY d) AS m FROM c1e GROUP BY cell),
c1 AS (SELECT s.cell, COALESCE(c1m.m, s.m) AS m
       FROM seed s LEFT JOIN c1m USING (cell)),
a2 AS (
  SELECT s.srn, s.m, c.cell,
    row_number() OVER (PARTITION BY s.srn ORDER BY
      list_reduce(list_transform(range(1, 65),
        i -> (s.m[i] - c.m[i]) * (s.m[i] - c.m[i])), (a, b) -> a + b), c.cell) AS r
  FROM samp s, c1 c),
g2 AS (SELECT srn, m, cell FROM a2 WHERE r = 1),
c2e AS (
  SELECT cell, u.i AS d,
    CAST(floor(CAST(SUM(m[u.i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
  FROM g2, unnest(range(1, 65)) u(i) GROUP BY cell, u.i),
c2m AS (SELECT cell, list(v ORDER BY d) AS m FROM c2e GROUP BY cell),
c2 AS (SELECT s.cell, COALESCE(c2m.m, s.m) AS m
       FROM c1 s LEFT JOIN c2m USING (cell)),
cb AS (SELECT cell, list_transform(m, v -> CAST(v AS DOUBLE) / 10000) AS c FROM c2),
emb2 AS (SELECT vec_id, label, embedding,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
asgn AS (
  SELECT vec_id, label, embedding, e, cell FROM (
    SELECT v.vec_id, v.label, v.embedding, v.e, cb.cell,
      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        list_reduce(list_transform(range(1, 65),
          i -> (v.e[i] - cb.c[i]) * (v.e[i] - cb.c[i])), (a, b) -> a + b), cb.cell) AS r
    FROM emb2 v, cb) z WHERE r = 1)"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "sim_bruteforce_topk",
      (s, dir) => bruteForceTopK(s, dir, 5, 10),
      Some("""
        SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INTEGER) AS rn FROM (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
            round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
              CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim,
            row_number() OVER (PARTITION BY a.vec_id
              ORDER BY round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                CAST(b.embedding AS DOUBLE[])), 4) DESC, b.vec_id) AS rn
          FROM embeddings a, embeddings b
          WHERE a.vec_id < 5 AND b.vec_id <> a.vec_id) sub
        WHERE rn <= 10""")),

    // RANGE (radius) similarity search — the fixed-threshold sibling of
    // top-k: ALL neighbors with cosine >= θ, however many there are. The
    // brute-force exactness baseline (queries broadcast, one corpus scan,
    // selective threshold filter directly on the codegen cosine — no
    // per-query state at all); the bucketed scale path for radius queries
    // is the same LSH candidate machinery sim_ann_lsh rides.
    QueryDef("sim_range_search",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val queries = emb.where(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
        emb.select(col("vec_id").as("neighbor_id"), col("embedding"))
          .crossJoin(broadcast(queries))
          .where(col("neighbor_id") =!= col("query_id"))
          .withColumn("cos_sim", round(cosine(col("qvec"), col("embedding")), 4))
          .where(col("cos_sim") >= 0.2)
          .select("query_id", "neighbor_id", "cos_sim")
      },
      Some("""
        SELECT query_id, neighbor_id, cos_sim FROM (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
            round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
              CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim
          FROM embeddings a, embeddings b
          WHERE a.vec_id < 5 AND b.vec_id <> a.vec_id)
        WHERE cos_sim >= 0.2""")),

    // multi-table LSH ANN, fully deterministic since r12 (integer planes
    // over int8 codes): the oracle restates codes → buckets → bucket-mate
    // candidates → rounded-cosine top-k and hash-matches
    QueryDef("sim_ann_lsh", (s, dir) => lshTopK(s, dir, 5, 10),
      Some(s"""
        WITH $codesCteSql,
        bk AS (SELECT vec_id, embedding, $bucketColsSql FROM c),
        cand AS (
          SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
            q.embedding AS qe, n.embedding AS ne
          FROM bk q, bk n
          WHERE q.vec_id < 5 AND n.vec_id <> q.vec_id
            AND (q.b0 = n.b0 OR q.b1 = n.b1 OR q.b2 = n.b2 OR q.b3 = n.b3))
        SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INTEGER) AS rn FROM (
          SELECT query_id, neighbor_id,
            round(list_cosine_similarity(CAST(qe AS DOUBLE[]),
              CAST(ne AS DOUBLE[])), 4) AS cos_sim,
            row_number() OVER (PARTITION BY query_id
              ORDER BY round(list_cosine_similarity(CAST(qe AS DOUBLE[]),
                CAST(ne AS DOUBLE[])), 4) DESC, neighbor_id) AS rn
          FROM cand) z WHERE rn <= 10""")),

    // int8-quantized candidate generation + exact re-rank — deterministic
    // end-to-end since r12 (integer code dots, IEEE sqrt/divide, rounded
    // re-rank), so the whole pipeline faces the oracle; recall +
    // reconstruction bound additionally pinned in SimilaritySpec
    QueryDef("sim_quantized_topk",
      (s, dir) => quantizedTopK(s, dir, 5, 10),
      Some(s"""
        WITH $codesCteSql,
        n AS (SELECT vec_id, codes,
            list_reduce(list_transform(codes, x -> x*x), (a,b) -> a+b) AS nrm
          FROM c),
        scored AS (
          SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
            CASE WHEN q.nrm = 0 OR b.nrm = 0 THEN -2.0
              ELSE CAST(list_reduce(list_transform(range(1,65),
                  i -> q.codes[i]*b.codes[i]), (x,y) -> x+y) AS DOUBLE)
                / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE)))
              END AS approx
          FROM n q, n b WHERE q.vec_id < 5 AND b.vec_id <> q.vec_id),
        cand AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY approx DESC, neighbor_id) AS crn
            FROM scored) z WHERE crn <= 40),
        rer AS (
          SELECT cd.query_id, cd.neighbor_id,
            round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
              CAST(ne.embedding AS DOUBLE[])), 4) AS cos_sim
          FROM cand cd JOIN embeddings qe ON qe.vec_id = cd.query_id
            JOIN embeddings ne ON ne.vec_id = cd.neighbor_id)
        SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INTEGER) AS rn FROM (
          SELECT query_id, neighbor_id, cos_sim,
            row_number() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, neighbor_id) AS rn
          FROM rer) z WHERE rn <= 10""")),

    // the exact RE-RANK stage oracle-tightened: over a DETERMINISTIC
    // candidate rule both engines state identically (neighbor_id % 5 <>
    // query_id % 5 — a fixed 80% candidate subset), the re-rank pipeline
    // (candidate-keyed vector fetch, rounded exact cosine, the partial
    // top-k aggregate) is HASH-EXACT against DuckDB's row_number ranking.
    // sim_quantized_topk above then carries only candidate RECALL as its
    // probabilistic remainder
    QueryDef(
      "sim_rerank_exact",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val cand = emb.select(col("vec_id").as("neighbor_id"))
          .crossJoin(broadcast(emb.where(col("vec_id") < 5)
            .select(col("vec_id").as("query_id"))))
          .where(col("neighbor_id") =!= col("query_id") &&
            col("neighbor_id") % 5 =!= col("query_id") % 5)
          .select("query_id", "neighbor_id")
        exactRerank(cand, emb, 5, 10)
      },
      Some("""
        SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INTEGER) AS rn FROM (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
            round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
              CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim,
            row_number() OVER (PARTITION BY a.vec_id
              ORDER BY round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                CAST(b.embedding AS DOUBLE[])), 4) DESC, b.vec_id) AS rn
          FROM embeddings a, embeddings b
          WHERE a.vec_id < 5 AND b.vec_id <> a.vec_id
            AND b.vec_id % 5 <> a.vec_id % 5) sub
        WHERE rn <= 10""")),

    // IVF-Flat ANN — hash-exact since r12's portable integer-Lloyd fit:
    // the oracle restates the ENTIRE pipeline (md5-sampled fit, two integer
    // Lloyd rounds, double argmin assignment, cosine-ranked multi-probe,
    // rounded re-rank), so a codebook drift, an assignment tie-flip, or a
    // probe-order change all break the hash. Table-backed: the codebook
    // persists as a Puffin blob on first use, so repeat invocations fit
    // nothing; recall vs the exact top-k stays pinned in SimilaritySpec.
    QueryDef("sim_ann_ivf",
      (s, dir) => ivfTopKForTable(s, IceQueries.curation(s, dir)._2, 5, 10),
      Some(s"""
        WITH $ivfFitCtes,
        prb AS (
          SELECT query_id, cell FROM (
            SELECT q.vec_id AS query_id, cb.cell,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                (list_reduce(list_transform(range(1, 65),
                   i -> q.e[i] * cb.c[i]), (a, b) -> a + b) /
                 (sqrt(list_reduce(list_transform(range(1, 65),
                    i -> q.e[i] * q.e[i]), (a, b) -> a + b)) *
                  sqrt(list_reduce(list_transform(range(1, 65),
                    i -> cb.c[i] * cb.c[i]), (a, b) -> a + b)) + 1e-12)) DESC,
                cb.cell) AS r
            FROM emb2 q, cb WHERE q.vec_id < 5) z WHERE r <= 4),
        cand AS (
          SELECT p.query_id, n.vec_id AS neighbor_id,
            round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
              CAST(n.embedding AS DOUBLE[])), 4) AS cos_sim
          FROM prb p JOIN asgn n USING (cell)
            JOIN embeddings q ON q.vec_id = p.query_id
          WHERE n.vec_id <> p.query_id)
        SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INTEGER) AS rn FROM (
          SELECT query_id, neighbor_id, cos_sim,
            row_number() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, neighbor_id) AS rn
          FROM cand) z
        WHERE rn <= 10""")),

    // the all-corpus k-NN graph over LSH buckets — deterministic
    // end-to-end, the oracle restates codes → buckets → per-bucket counts →
    // the hot-bucket salt fold (verbatim [[saltBuckets]]) → co-salted
    // bucket-mate pairs → rounded-cosine top-k per vector
    QueryDef("sim_knn_graph", (s, dir) => knnGraph(s, dir, 5),
      Some(s"""
        WITH $codesCteSql,
        bk AS (SELECT vec_id, embedding, $bucketColsSql FROM c),
        bnd AS (SELECT vec_id, u.tbl,
            CASE u.tbl WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END
              AS bucket
          FROM bk, unnest([0,1,2,3]) AS u(tbl)),
        bcnt AS (SELECT tbl, bucket, count(*) AS n
          FROM bnd GROUP BY tbl, bucket),
        sb AS (SELECT b.vec_id, b.tbl, b.bucket,
            CASE WHEN c.n <= $VecBucketCap THEN 0
                 ELSE ((b.vec_id % 2147483647) * 1000003 + b.tbl) % 2147483647
                      % ((c.n + ${VecBucketCap - 1}) // $VecBucketCap) END
              AS salt
          FROM bnd b JOIN bcnt c ON b.tbl = c.tbl AND b.bucket = c.bucket),
        cand AS (
          SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
          FROM sb a JOIN sb b ON a.tbl = b.tbl AND a.bucket = b.bucket
            AND a.salt = b.salt AND a.vec_id <> b.vec_id)
        SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INTEGER) AS rn FROM (
          SELECT query_id, neighbor_id,
            round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
              CAST(n.embedding AS DOUBLE[])), 4) AS cos_sim,
            row_number() OVER (PARTITION BY query_id
              ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                CAST(n.embedding AS DOUBLE[])), 4) DESC, neighbor_id) AS rn
          FROM cand JOIN embeddings q ON q.vec_id = cand.query_id
            JOIN embeddings n ON n.vec_id = cand.neighbor_id) z
        WHERE rn <= 5""")),

    // embedding-cosine near-dup pairs, blocked by label (exact within block;
    // the oracle-checkable baseline — dedup_embedding_lsh is the scale path)
    QueryDef(
      "dedup_embedding_cosine",
      (s, dir) => embeddingNearDupExact(s, dir, 0.2),
      Some("""
        SELECT * FROM (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
            round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
              CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim
          FROM embeddings a, embeddings b
          WHERE a.label = b.label AND a.vec_id < b.vec_id) sub
        WHERE cos_sim >= 0.2""")),

    // LSH-candidate near-dup — the shape that survives unbounded label
    // blocks. Bucket recall is a design property, but the output is
    // deterministic since r12 (integer planes over int8 codes + exact
    // rounded-cosine verify), so the oracle restates the full pipeline
    QueryDef("dedup_embedding_lsh",
      (s, dir) => embeddingNearDupLSH(s, dir, 0.2),
      Some(s"""
        WITH $codesCteSql,
        bk AS (SELECT vec_id, label, embedding, $bucketColsSql FROM c),
        bnd AS (SELECT vec_id, label, u.tbl,
            CASE u.tbl WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END
              AS bucket
          FROM bk, unnest([0,1,2,3]) AS u(tbl)),
        bcnt AS (SELECT tbl, bucket, label, count(*) AS n
          FROM bnd GROUP BY tbl, bucket, label),
        sb AS (SELECT b.vec_id, b.label, b.tbl, b.bucket,
            CASE WHEN c.n <= $VecBucketCap THEN 0
                 ELSE ((b.vec_id % 2147483647) * 1000003 + b.tbl) % 2147483647
                      % ((c.n + ${VecBucketCap - 1}) // $VecBucketCap) END
              AS salt
          FROM bnd b JOIN bcnt c ON b.tbl = c.tbl AND b.bucket = c.bucket
            AND b.label = c.label),
        cand AS (
          SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
            a.label AS label
          FROM sb a JOIN sb b ON a.tbl = b.tbl AND a.bucket = b.bucket
            AND a.label = b.label AND a.salt = b.salt
            AND a.vec_id < b.vec_id)
        SELECT vec_a, vec_b, label, cos_sim FROM (
          SELECT cand.vec_a, cand.vec_b, cand.label,
            round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
              CAST(eb.embedding AS DOUBLE[])), 4) AS cos_sim
          FROM cand JOIN embeddings ea ON ea.vec_id = cand.vec_a
            JOIN embeddings eb ON eb.vec_id = cand.vec_b) z
        WHERE cos_sim >= 0.2""")),

    // SemDeDup: cluster (IVF cells), dedup within clusters, keep one rep
    // per duplicate group — the label-free semantic dedup for web-scale
    // corpora. Hash-exact since r12's portable fit: cells, within-cell
    // rounded-cosine pairs, the recursive closure, and the keep map all
    // restate in SQL (cross-cell recall stays a design property — of the
    // OPERATOR, no longer of the check). 0.4 sits above the synthetic
    // corpus's noise floor (cos 0.2 matches ~6% of ALL pairs — a dedup
    // there would chain whole cells together) and selects the genuine
    // near-dup tail. SimilaritySpec keeps planted-duplicate recall pinned.
    QueryDef("dedup_semantic",
      (s, dir) => semanticDedupForTable(s, IceQueries.curation(s, dir)._2, 0.4),
      Some(s"""
        WITH RECURSIVE $ivfFitCtes,
        p AS (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
          FROM asgn a JOIN asgn b ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
            CAST(b.embedding AS DOUBLE[])), 4) >= 0.4),
        eg AS (SELECT vec_a AS src, vec_b AS dst FROM p
               UNION ALL SELECT vec_b, vec_a FROM p),
        reach(src, node) AS (
          SELECT src, src FROM (SELECT DISTINCT src FROM eg)
          UNION
          SELECT r.src, eg.dst FROM reach r JOIN eg ON r.node = eg.src),
        cl AS (SELECT src AS vec_id, MIN(node) AS cluster_id
               FROM reach GROUP BY src)
        SELECT m.vec_id,
          COALESCE(cl.cluster_id, m.vec_id) AS rep_id,
          CAST(COALESCE(cl.cluster_id, m.vec_id) = m.vec_id AS BIGINT) AS keep
        FROM embeddings m LEFT JOIN cl USING (vec_id)""")),

    // exact oracle: per-(label, dim) centroid via UNNEST, cosine re-derived
    // per vector, avg rounded to 3 decimals (double math both sides; the
    // rounding absorbs summation-order noise exactly as the other cosine
    // oracles do)
    QueryDef("sim_label_centroids", (s, dir) => labelCentroidStats(s, dir),
      Some("""
        WITH ex AS (
          SELECT label, vec_id, u.i AS i, CAST(embedding[i] AS DOUBLE) AS v
          FROM embeddings, UNNEST(range(1, 65)) AS u(i)
        ),
        cent AS (SELECT label, i, SUM(v) / COUNT(*) AS c FROM ex GROUP BY label, i),
        dots AS (
          SELECT ex.label, ex.vec_id,
            SUM(ex.v * cent.c) AS dot, SUM(ex.v * ex.v) AS n1, SUM(cent.c * cent.c) AS n2
          FROM ex JOIN cent ON ex.label = cent.label AND ex.i = cent.i
          GROUP BY ex.label, ex.vec_id)
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
          ROUND(AVG(dot / (SQRT(n1) * SQRT(n2))), 3) AS avg_cos_to_centroid
        FROM dots GROUP BY label"""))
  )
}
