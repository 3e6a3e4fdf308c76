package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}

/** Embedding-column utilities beyond search: storage quantization and
  * cluster-bucketed semantic dedup (the SemDeDup recipe: k-means cells
  * make the quadratic pair scan local).
  *
  *   - [[quantizeInt8]]: per-vector max-abs int8 scalar quantization —
  *     the 4x storage/bandwidth reduction an embedding store applies
  *     before anything else, with the per-vector reconstruction error so
  *     a corpus owner can audit the precision loss. Pure codegen'd
  *     higher-order Column functions over the array — one narrow scan,
  *     no shuffle, no driver state.
  *   - [[semDedup]]: near-duplicate removal where candidate pairs come
  *     from shared k-means cells instead of LSH buckets — the
  *     SemDeDup-style alternative to [[Similarity.embeddingDedup]]; both
  *     declare the same min-lower-id survivor rule and the same cosine
  *     threshold, so the two bucketing strategies are directly
  *     comparable on one corpus.
  *
  * Scale shape: quantization is embarrassingly parallel. SemDeDup's cell
  * self-join is quadratic WITHIN a (cell, salt) group, linear across
  * them — the 100 TB deployment picks the cell count so the mean cell
  * fits a work budget (K ∝ N / target_cell_size, the published SemDeDup
  * configuration, [[Similarity.ivfDedupCells]] capped at
  * [[Similarity.MaxDedupCells]]), and the [[LshSkew.saltBuckets]] guard
  * bounds the cells that overshoot it anyway ([[SemDedupCellCap]]). The
  * codebook is trained hierarchically
  * ([[Similarity.learnHierarchicalCentroids]]): driver work ∝ √K, the
  * per-cell refine distributed — so the K ∝ N law never turns back into
  * a driver-side K² loop.
  */
object EmbeddingOps {

  /** Int8 code range: symmetric [-127, 127] (the usual zero-preserving
    * max-abs scheme — -128 is unused so negation stays in range). */
  val QuantLevels = 127.0

  /** The quantized corpus with codes still as arrays — the form the
    * int8 search path consumes (and [[quantized]] renders for the
    * differential harness): per-vector max-abs scale, nearest-int codes
    * (floor(x+0.5) — explicit so the oracle replays the exact rounding).
    * All-zero vectors quantize to all-zero codes (scale 0 guard). */
  private[graft] def quantizedArrays(emb: DataFrame): DataFrame = {
    val scale = array_max(transform(col("embedding"),
      x => abs(x.cast("double"))))
    val withScale = emb.select(col("vec_id"), col("embedding"),
      scale.as("scale"))
    val codes = transform(col("embedding"), x =>
      when(col("scale") === 0.0, lit(0L))
        .otherwise(floor(x.cast("double") * lit(QuantLevels) / col("scale")
          + lit(0.5))))
    withScale.select(col("vec_id"), col("embedding"),
      col("scale"), codes.as("codes"))
  }

  /** Presentation form of [[quantizedArrays]] plus the L2 reconstruction
    * error; codes are emitted comma-joined because the differential
    * harness compares scalar columns. */
  private[graft] def quantized(emb: DataFrame): DataFrame = {
    val withCodes = quantizedArrays(emb)
    val errTerms = zip_with(col("embedding"), col("codes"), (x, c) => {
      val d = x.cast("double") - c.cast("double") * col("scale") / lit(QuantLevels)
      d * d
    })
    withCodes.select(
      col("vec_id"),
      size(col("embedding")).cast("long").as("n_dims"),
      col("scale"),
      concat_ws(",", transform(col("codes"), _.cast("string"))).as("codes"),
      sqrt(aggregate(errTerms, lit(0.0), (a, b) => a + b)).as("recon_err"))
  }

  def quantizeInt8(s: SparkSession, dir: String): DataFrame =
    quantized(Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")))
      .orderBy(col("vec_id"))

  /** Top-k search OVER THE QUANTIZED CODES — the int8 serving path that
    * justifies the 4× compression: the integer code dot product is exact
    * 64-bit arithmetic, descaled once per pair by the two max-abs scales
    * (score ≈ the float dot; ranking quality pinned against the exact
    * float top-k in EmbeddingOpsSpec). Query convention matches
    * [[Similarity.topKExact]] (vec_id < NumQueryVectors, self excluded);
    * the scan touches only (vec_id, scale, codes) — at 100 TB the float
    * embedding column stays on disk, the point of quantized serving. */
  def topKInt8(s: SparkSession, dir: String): DataFrame = {
    val q = quantizedArrays(
      Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")))
      .select(col("vec_id"), col("scale"), col("codes"))
    val queries = q.filter(col("vec_id") < Similarity.NumQueryVectors)
      .select(col("vec_id").as("query_id"), col("scale").as("qscale"),
        col("codes").as("qcodes"))
    val dotL = aggregate(
      zip_with(col("qcodes"), col("codes"), (a, b) => a * b),
      lit(0L), (acc, x) => acc + x)
    Similarity.rankTopK(broadcast(queries)
      .join(q.select(col("vec_id"), col("scale"), col("codes")),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (dotL.cast("double") * col("qscale") * col("scale")
          / lit(QuantLevels * QuantLevels)).as("score")))
  }

  /** Embedding-column QA — the audit an indexing owner runs before
    * trusting a corpus of vectors: per label, vector counts, zero-vector
    * incidence, and the norm envelope (a norm far from 1 on a supposedly
    * normalized corpus flags a broken producer). Deliberately NO double
    * averages: min/max/counts are partition-order-independent, where a
    * float mean would hash-differ run to run (the data-card rule). One
    * narrow scan, tiny-key groupBy with map-side combine. */
  def embeddingStats(s: SparkSession, dir: String): DataFrame = {
    val sq = transform(col("embedding"), x => x.cast("double") * x.cast("double"))
    val norm = sqrt(aggregate(sq, lit(0.0), (a, b) => a + b))
    Tables.embeddings(s, dir)
      .select(col("label"), norm.as("norm"),
        size(col("embedding")).cast("long").as("n_dims"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("norm") === 0.0, 1L).otherwise(0L)).as("n_zero_vecs"),
        min(col("norm")).as("min_norm"),
        max(col("norm")).as("max_norm"),
        min(col("n_dims")).as("min_dims"),
        max(col("n_dims")).as("max_dims"))
      .orderBy(col("label"))
  }

  /** Same declared threshold as the LSH dedup path — the point of the
    * query is comparing bucketing strategies, not thresholds. */
  val SemDedupThreshold: Double = Similarity.NearDupThreshold

  /** Hot-cell cap: k-means cells go hot exactly like LSH buckets (a
    * degenerate corpus can put every vector in one cell), so the cell
    * self-join gets the same [[LshSkew.saltBuckets]] guard — over-cap
    * cells split into id-mod salt groups, bounding per-cell work at
    * ~cell·cap (cross-salt pairs lost, the standard bounded-work trade).
    * Under the cap the salt is constant 0 and the join is unguarded-
    * identical. */
  val SemDedupCellCap = 1024

  /** SemDeDup decision layer over any (vec_id, embedding) frame with a
    * given codebook: assign each vector to its nearest centroid cell,
    * scan pairs within a (cell, salt) group, and mark a vector duplicate
    * iff a lower-id same-group vector sits within the cosine threshold
    * (keeper = smallest such id — the same survivor rule as
    * [[Similarity.embeddingDedup]], so outputs differ only where the
    * bucketing strategies disagree). */
  private[graft] def semDedupOn(emb: DataFrame,
      centroids: Seq[Array[Float]],
      cap: Int = SemDedupCellCap): DataFrame =
    semDedupOver(Similarity.assignedCells(emb, centroids), cap)

  /** The decision layer over a PRE-ASSIGNED (vec_id, embedding, cell)
    * frame — shared by the flat-codebook form above (tests, small
    * tiers) and the declared query's hierarchical assignment. */
  private[graft] def semDedupOver(assigned0: DataFrame,
      cap: Int = SemDedupCellCap): DataFrame = {
    // persist: three consumers (both pair-join sides and the final keeper
    // join) would otherwise re-run the centroid-assignment kernels and
    // both windows. broadcastSizes: the key space is the trained cell
    // count — corpus-adaptive (K ∝ N) but capped at
    // [[Similarity.MaxDedupCells]], the case LshSkew documents for the
    // groupBy+broadcast sizing form — no window sort-shuffle just to
    // count cells.
    val assigned = LshSkew.saltBuckets(
      assigned0,
      Seq("cell"), "vec_id", cap, broadcastSizes = true)
      .persist()
    val left = assigned.select(col("cell"), col("salt"),
      col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val right = assigned.select(col("cell"), col("salt"),
      col("vec_id").as("vec_b"), col("embedding").as("eb"))
    val dupOf = left.join(right, Seq("cell", "salt"))
      .filter(col("vec_a") < col("vec_b") &&
        Similarity.cos(col("ea"), col("eb")) >= SemDedupThreshold)
      .groupBy(col("vec_b")).agg(min(col("vec_a")).as("dup_of"))
    assigned.join(dupOf, col("vec_id") === col("vec_b"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("dup_of"), col("vec_id")).as("keeper"),
        col("dup_of").isNotNull.cast("long").as("is_dup"))
  }

  /** Declared query — fully oracle-checked: the trained codebook is
    * recorded as SQL literals ([[Similarity.learnCentroids]]), so DuckDB
    * replays assignment, the salt split and the min-lower-id keeper rule
    * bit-for-bit; the decision rule is additionally pinned against an
    * independent brute-force reimplementation in EmbeddingOpsSpec. */
  def semDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    // K ∝ N, not the serving tier's K ∝ √N: dedup pair volume inside
    // cells is N²/K, so only a corpus-proportional codebook keeps the
    // join linear. Trained HIERARCHICALLY (driver ∝ √K, per-cell refine
    // distributed — VERDICT r14 #3) so the K ∝ N law survives past the
    // old flat-train cap; both levels recorded for the oracle replay,
    // and the trained codebook cached per corpus ([[graft.StateCache]]).
    val cb = graft.StateCache.cached(dir, "semdedup/hier") {
      Similarity.learnHierarchicalCentroids(emb,
        Similarity.ivfDedupCells(emb.count()),
        Similarity.SemDedupCoarseKey, Similarity.SemDedupLeavesKey)
    }
    semDedupOver(Similarity.hierAssignedCells(emb, cb))
      .orderBy(col("vec_id"))
  }

  // -------------------------------------------------------------------
  // Binary (sign-bit) quantization tier — the 32x compression rung
  // below int8's 4x: one bit per dimension, hamming distance as the
  // shortlist metric, exact float rerank only on the survivors.
  // -------------------------------------------------------------------

  /** Bits per packed word. Codes pack as ceil(dims/32) 32-bit words in
    * BIGINT columns — 32, not 64, so every packed value stays strictly
    * positive (a bit-63 shift would wrap a 64-bit word negative) and the
    * SQL replay needs no two's-complement care. This corpus's 64-dim
    * vectors take exactly two words (`code_lo` dims 0–31, `code_hi` dims
    * 32–63); a wider corpus adds words, it does not change the scheme. */
  val BinaryWordBits = 32

  /** Hamming shortlist depth for the rerank serving path: 5× the final
    * k, the usual rerank budget (the IVF tier's probe-depth analogue). */
  val BinaryShortlist = 50

  /** Sign rule x >= 0 → 1 (ties-to-one, same convention as the SimHash
    * kernel) packed positionally: bit i of the word is dimension
    * word*32+i. Exact powers of two through `pow` — integral and ≤ 2³¹,
    * so the double is exact and the cast loses nothing. */
  private[graft] def packedSignBits(emb: DataFrame): DataFrame = {
    def word(base: Int): Column =
      aggregate(
        transform(col("embedding"), (x, i) =>
          when(i >= base && i < base + BinaryWordBits && x >= 0,
            pow(lit(2.0), (i - lit(base)).cast("double")).cast("long"))
            .otherwise(lit(0L))),
        lit(0L), (a, b) => a + b)
    emb.select(col("vec_id"),
      size(col("embedding")).cast("long").as("n_dims"),
      word(0).as("code_lo"), word(BinaryWordBits).as("code_hi"))
  }

  /** Declared query: the packed sign-bit corpus with per-vector bit
    * population — 8 bytes of code per 256-byte vector, the storage form
    * the hamming serving path scans. n_ones is the binary tier's QA
    * column (a corpus whose vectors are all-positive packs to all-ones
    * codes and hamming stops discriminating — visible here at a
    * glance). */
  def quantizeBinary(s: SparkSession, dir: String): DataFrame =
    packedSignBits(
      Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")))
      .select(col("vec_id"), col("n_dims"), col("code_lo"), col("code_hi"),
        (bit_count(col("code_lo")) + bit_count(col("code_hi")))
          .cast("long").as("n_ones"))
      .orderBy(col("vec_id"))

  /** Top-k served through the binary tier: hamming distance over the
    * packed codes shortlists [[BinaryShortlist]] candidates per query
    * (two XOR+popcount ops per pair — whole-stage-codegen'd builtins,
    * vs 64 multiply-adds for the float dot), then ONLY the shortlist
    * re-attaches float vectors by equi-join for the exact cosine rerank.
    * This self-contained query packs inline (it must read the float
    * column once); the deployment shape persists the packed table once
    * — the build-once/serve-forever lifecycle the IVF tier demonstrates
    * — after which the corpus-wide serving scan touches (vec_id, 2
    * longs) ≈ 24 bytes/row and the float column leaves disk only for
    * the ~250 shortlisted rows per query batch: the int8 scan-narrowing
    * argument, 8× smaller again. Deterministic end to end: hamming ties
    * break on vec_id before the cut, so the shortlist — and therefore
    * the rerank — replays bit-exactly in SQL. */
  def topKBinary(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val codes = packedSignBits(emb)
    binaryServe(codes, emb,
      codes.filter(col("vec_id") < Similarity.NumQueryVectors)
        .select(col("vec_id").as("query_id"),
          col("code_lo").as("qlo"), col("code_hi").as("qhi")))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The serving body behind the batch query AND the streaming twin —
    * one definition of shortlist + rerank so the two paths cannot
    * drift. `queryCodes` is (query_id, qlo, qhi); the corpus is
    * `codes` (packed) for the hamming pass and `emb` (float) for the
    * rerank equi-join. */
  private[graft] def binaryServe(codes: DataFrame, emb: DataFrame,
      queryCodes: DataFrame): DataFrame = {
    val ham = (bit_count(col("qlo").bitwiseXOR(col("code_lo"))) +
      bit_count(col("qhi").bitwiseXOR(col("code_hi")))).cast("long")
    val wH = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("vec_id").asc)
    val shortlist = codes.join(broadcast(queryCodes),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), ham.as("hamming"))
      .withColumn("hrank", row_number().over(wH))
      .filter(col("hrank") <= BinaryShortlist)
      .select(col("query_id"), col("vec_id"), col("hamming"))
    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    broadcast(shortlist)
      .join(emb.select(col("vec_id").as("query_id"),
        col("embedding").as("qv")), Seq("query_id"))
      .join(emb, Seq("vec_id"))
      .select(col("query_id"), col("vec_id"), col("hamming"),
        Similarity.cos(col("qv"), col("embedding")).as("score"))
      .withColumn("rank", row_number().over(wR).cast("long"))
      .filter(col("rank") <= Similarity.TopK)
      .select(col("query_id"), col("rank"), col("vec_id"),
        col("hamming"), col("score"))
  }

  /** Declared query — binary serving IN-STREAM against a PERSISTED code
    * table: the packed corpus is written once (the build-once shape the
    * [[topKBinary]] doc names — after this, serving scans touch the
    * ~24-byte/row code table, never the float column except for
    * shortlisted rows), then the query stream is answered per
    * micro-batch, each batch packing its own arrivals and landing
    * results in a batch-id-keyed overwrite dir (idempotent replay).
    * The index is frozen during the drain and each query is answered
    * independently, so batch boundaries cannot change the result — the
    * drained output equals [[topKBinary]] row-for-row and the twin
    * carries sim_topk_binary's oracle text VERBATIM. */
  def streamBinaryServeQuery(spark: SparkSession, dir: String): DataFrame = {
    val codesDir = graft.TempDirs.scoped("graft_binserve_codes")
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    packedSignBits(emb).write.mode("overwrite").parquet(codesDir)
    val frozen = spark.read.parquet(codesDir)
    val stream = Tables.stream(spark, dir, "embeddings")
      .filter(col("vec_id") < Similarity.NumQueryVectors)
      // stream-side projection — the foreachBatch scan-pruning rule
      .select(col("vec_id"), col("embedding"))
    graft.streaming.MicroBatchPipeline.drainToSlices(stream, "binserve") { batch =>
      binaryServe(frozen, emb,
        packedSignBits(batch.select(col("vec_id"), col("embedding")))
          .select(col("vec_id").as("query_id"),
            col("code_lo").as("qlo"), col("code_hi").as("qhi")))
    }.orderBy(col("query_id"), col("rank"))
  }

  /** The binary tier's recall-vs-exact audit — the number that decides
    * whether 32× compression is affordable for a given corpus, through
    * the same [[Similarity.recallVsExact]] body as the ANN audit. */
  def binaryRecall(s: SparkSession, dir: String): DataFrame =
    Similarity.recallVsExact(s, dir, topKBinary(s, dir))

  // -------------------------------------------------------------------
  // Persisted binary index lifecycle — append / delete / as-of on the
  // packed code table through the shared IndexFiles slice+tombstone
  // machinery. Unlike the IVF/PQ lifecycles (data-trained geometry ⇒
  // rows-only), the binary codes are a pure function of the corpus, so
  // EVERY lifecycle query here carries a full differential oracle —
  // the delete and as-of verbs hash-checked end to end.
  // -------------------------------------------------------------------

  private[graft] val binaryLayout = IndexFiles.Layout("binary index",
    sliced = Seq("codes"), tombs = "tombstones", idCol = "vec_id",
    partitionCol = None, frozen = Nil)

  /** Append the packed codes of `emb` as slice `sliceId`. */
  private[graft] def appendBinarySlice(emb: DataFrame, idx: String,
      sliceId: Long): Long =
    binaryLayout.append(
      packedSignBits(emb).select(col("vec_id"), col("code_lo"), col("code_hi")),
      idx, sliceId)

  /** Serve the standard query set against the persisted code table as
    * of `asOf` — queries pack from the embeddings table (a tombstoned
    * id may still ASK; it just can't be returned), the corpus side is
    * the tombstone-aware live read. */
  private def serveBinaryIndex(s: SparkSession, dir: String, idx: String,
      asOf: Long = Long.MaxValue): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val live = binaryLayout.live(s, idx, asOf)
    val queryCodes = packedSignBits(
        emb.filter(col("vec_id") < Similarity.NumQueryVectors))
      .select(col("vec_id").as("query_id"),
        col("code_lo").as("qlo"), col("code_hi").as("qhi"))
    binaryServe(live, emb, queryCodes).orderBy(col("query_id"), col("rank"))
  }

  /** Declared query — the persisted form: two id-ordered slices, then
    * serve; equals [[topKBinary]] exactly (same oracle text). */
  def topKBinaryPersisted(s: SparkSession, dir: String): DataFrame = {
    val idx = graft.TempDirs.scoped("graft_binidx")
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val cut = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
    appendBinarySlice(emb.filter(col("vec_id") <= cut), idx, 0L)
    appendBinarySlice(emb.filter(col("vec_id") > cut), idx, 1L)
    serveBinaryIndex(s, dir, idx)
  }

  /** Declared query — the DELETE verb with a FULL differential oracle:
    * build, forget vec_id % 5 == 2, serve. Tombstoned vectors must not
    * appear; survivors rank exactly as in an index built without them
    * (the shortlist recomputes over the live set). */
  def topKBinaryDeleted(s: SparkSession, dir: String): DataFrame = {
    val idx = graft.TempDirs.scoped("graft_binidxdel")
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    appendBinarySlice(emb, idx, 0L)
    binaryLayout.delete(
      emb.filter(col("vec_id") % 5 === 2).select(col("vec_id")), idx)
    serveBinaryIndex(s, dir, idx)
  }

  /** Declared query — COMPACTION, hash-checked: build, delete, fold the
    * tombstones into the physical rows ([[IndexFiles.Layout.compact]]),
    * then serve. The fold must be invisible
    * to readers, so the oracle is the DELETED oracle verbatim — if
    * compaction dropped a live row, resurrected a dead one, or
    * duplicated anything through a crashed rename, this query diverges
    * where the rows-only IVF twin could only count slices. */
  def topKBinaryCompacted(s: SparkSession, dir: String): DataFrame = {
    val idx = graft.TempDirs.scoped("graft_binidxcomp")
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    appendBinarySlice(emb, idx, 0L)
    binaryLayout.delete(
      emb.filter(col("vec_id") % 5 === 2).select(col("vec_id")), idx)
    binaryLayout.compact(s, idx, 1L)
    serveBinaryIndex(s, dir, idx)
  }

  /** Declared query — AS-OF snapshot serving, hash-checked: two
    * id-ordered slices, a delete, then serve AS OF slice 0 — only
    * slice-0 vectors answer, and the LATER delete is invisible (its
    * tombstone postdates the snapshot): time travel, not filtering. */
  def topKBinaryAsOf(s: SparkSession, dir: String): DataFrame = {
    val idx = graft.TempDirs.scoped("graft_binidxasof")
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val cut = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
    appendBinarySlice(emb.filter(col("vec_id") <= cut), idx, 0L)
    appendBinarySlice(emb.filter(col("vec_id") > cut), idx, 1L)
    binaryLayout.delete(
      emb.filter(col("vec_id") % 5 === 2).select(col("vec_id")), idx)
    serveBinaryIndex(s, dir, idx, asOf = 0L)
  }

  // -------------------------------------------------------------------
  // Matryoshka (prefix-dim) serving tier — MRL-trained embeddings carry
  // their coarse geometry in the leading dimensions, so a prefix slice
  // is itself a usable low-cost embedding: shortlist on the first
  // [[MatryoshkaDims]] dims, exact full-dim rerank on the survivors.
  // -------------------------------------------------------------------

  /** Prefix length for the shortlist pass — 1/4 of the corpus's 64 dims,
    * the published MRL halving ladder's second rung. */
  val MatryoshkaDims = 16

  /** Shortlist depth, same rerank budget as the binary tier. */
  val MatryoshkaShortlist = 50

  /** Top-k served through the prefix tier: cosine over the leading
    * [[MatryoshkaDims]] dims shortlists candidates (a 4× cheaper dot on
    * a 4× narrower scan), full-dim exact rerank on the shortlist only.
    * Same narrow-scan-then-equi-join shape as [[topKBinary]]; the
    * prefix score ships in the output so the audit can see how the
    * tiers disagree. */
  def topKMatryoshka(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val prefix = emb.select(col("vec_id"),
      slice(col("embedding"), 1, MatryoshkaDims).as("pv"))
    val queries = prefix.filter(col("vec_id") < Similarity.NumQueryVectors)
      .select(col("vec_id").as("query_id"), col("pv").as("qpv"))
    val wP = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("prefix_score").desc, col("vec_id").asc)
    val shortlist = prefix.join(broadcast(queries),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        Similarity.cos(col("qpv"), col("pv")).as("prefix_score"))
      .withColumn("prank", row_number().over(wP))
      .filter(col("prank") <= MatryoshkaShortlist)
      .select(col("query_id"), col("vec_id"), col("prefix_score"))
    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    broadcast(shortlist)
      .join(emb.select(col("vec_id").as("query_id"),
        col("embedding").as("qv")), Seq("query_id"))
      .join(emb, Seq("vec_id"))
      .select(col("query_id"), col("vec_id"), col("prefix_score"),
        Similarity.cos(col("qv"), col("embedding")).as("score"))
      .withColumn("rank", row_number().over(wR).cast("long"))
      .filter(col("rank") <= Similarity.TopK)
      .select(col("query_id"), col("rank"), col("vec_id"),
        col("prefix_score"), col("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The prefix tier's recall-vs-exact audit, same shared body. */
  def matryoshkaRecall(s: SparkSession, dir: String): DataFrame =
    Similarity.recallVsExact(s, dir, topKMatryoshka(s, dir))

  /** Shared quantization-oracle prefix (per-vector scale -> int8 codes):
    * ONE SQL text behind the quantize and int8-search oracles so the
    * rounding replay cannot drift. */
  private[operators] val quantOracleCtes: String =
    s"""WITH q AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding,
      |      x -> abs(CAST(x AS DOUBLE)))) AS scale
      |  FROM embeddings),
      |c AS (
      |  SELECT vec_id, embedding, scale,
      |    list_transform(embedding, x ->
      |      CASE WHEN scale = 0 THEN 0
      |        ELSE CAST(floor(CAST(x AS DOUBLE) * $QuantLevels / scale + 0.5)
      |          AS BIGINT) END) AS codes
      |  FROM q)""".stripMargin

  /** Shared binary-tier oracle prefix: the packed sign-bit words —
    * DuckDB replays the identical positional pack (bit i of a word =
    * dimension word·32+i, sign rule x >= 0). */
  private[operators] val binCtes: String =
    s"""WITH bits AS (
      |  SELECT e.vec_id, CAST(len(e.embedding) AS BIGINT) AS n_dims,
      |    CAST(SUM(CASE WHEN i < $BinaryWordBits AND e.embedding[i+1] >= 0
      |      THEN CAST(1 AS BIGINT) << i ELSE 0 END) AS BIGINT) AS code_lo,
      |    CAST(SUM(CASE WHEN i >= $BinaryWordBits AND i < ${2 * BinaryWordBits}
      |        AND e.embedding[i+1] >= 0
      |      THEN CAST(1 AS BIGINT) << (i - $BinaryWordBits) ELSE 0 END)
      |      AS BIGINT) AS code_hi
      |  FROM embeddings e,
      |    UNNEST(generate_series(0, CAST(len(e.embedding) AS INT) - 1)) AS g(i)
      |  GROUP BY e.vec_id, len(e.embedding))""".stripMargin

  /** Hamming-shortlist CTE (`sl`) — shared by the binary top-k, its
    * recall audit, and the lifecycle oracles (which restrict the corpus
    * side: the live set after a delete, the snapshot as of a slice). */
  private[operators] def binShortlistCte(corpusCond: String = "TRUE"): String = {
    val hamSql = "bit_count(xor(q.code_lo, c.code_lo))" +
      " + bit_count(xor(q.code_hi, c.code_hi))"
    s"""sl AS (SELECT query_id, vec_id, hamming FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id,
       |      CAST($hamSql AS BIGINT) AS hamming,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY $hamSql ASC, c.vec_id ASC) AS hrank
       |    FROM bits q JOIN bits c
       |      ON q.vec_id < ${Similarity.NumQueryVectors}
       |     AND c.vec_id <> q.vec_id
       |     AND ($corpusCond)) t
       |  WHERE hrank <= $BinaryShortlist)""".stripMargin
  }

  /** Exact rerank over the hamming shortlist, as a full select (top-k
    * oracle) or wrapped as a membership CTE (recall oracle). */
  private[operators] def binRerankSql: String =
    s"""SELECT query_id, rank, vec_id, hamming, score FROM (
       |  SELECT s.query_id, s.vec_id, s.hamming,
       |    ${Similarity.cosSql("q.embedding", "v.embedding")} AS score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY s.query_id
       |      ORDER BY ${Similarity.cosSql("q.embedding", "v.embedding")} DESC,
       |        s.vec_id ASC) AS BIGINT) AS rank
       |  FROM sl s
       |  JOIN embeddings q ON q.vec_id = s.query_id
       |  JOIN embeddings v ON v.vec_id = s.vec_id) t
       |WHERE rank <= ${Similarity.TopK}""".stripMargin

  /** Matryoshka prefix CTEs (`pfx`, `msl`) — slice, prefix-cosine
    * shortlist; shared by the prefix top-k and its recall audit. */
  private[operators] def mslCtes: String =
    s"""WITH pfx AS (SELECT vec_id, embedding,
       |    list_slice(embedding, 1, $MatryoshkaDims) AS pv
       |  FROM embeddings),
       |msl AS (SELECT query_id, vec_id, prefix_score FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id,
       |      ${Similarity.cosSql("q.pv", "c.pv")} AS prefix_score,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${Similarity.cosSql("q.pv", "c.pv")} DESC,
       |          c.vec_id ASC) AS prank
       |    FROM pfx q JOIN pfx c
       |      ON q.vec_id < ${Similarity.NumQueryVectors}
       |     AND c.vec_id <> q.vec_id) t
       |  WHERE prank <= $MatryoshkaShortlist)""".stripMargin

  /** Full-dim rerank over the prefix shortlist. */
  private[operators] def mslRerankSql: String =
    s"""SELECT query_id, rank, vec_id, prefix_score, score FROM (
       |  SELECT s.query_id, s.vec_id, s.prefix_score,
       |    ${Similarity.cosSql("q.embedding", "v.embedding")} AS score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY s.query_id
       |      ORDER BY ${Similarity.cosSql("q.embedding", "v.embedding")} DESC,
       |        s.vec_id ASC) AS BIGINT) AS rank
       |  FROM msl s
       |  JOIN embeddings q ON q.vec_id = s.query_id
       |  JOIN embeddings v ON v.vec_id = s.vec_id) t
       |WHERE rank <= ${Similarity.TopK}""".stripMargin

  /** ONE text behind the delete verb and the compaction that folds it. */
  private def binDeletedOracleSql: String =
    s"""$binCtes,
       |${binShortlistCte("c.vec_id % 5 <> 2")}
       |$binRerankSql
       |ORDER BY query_id, rank""".stripMargin

  /** ONE text behind the batch binary top-k and its streaming twin. */
  private def topKBinaryOracleSql: String =
    s"""$binCtes,
       |${binShortlistCte()}
       |$binRerankSql
       |ORDER BY query_id, rank""".stripMargin

  // -------------------------------------------------------------------
  // Corpus-calibrated dedup threshold — SURVEY §8.1's own 100 TB
  // prescription ("hold the threshold in the planted-duplicate regime,
  // corpus-relative") as declared, oracle-checked queries. A fixed
  // absolute threshold (0.45) sits wherever the corpus's background
  // cosine distribution puts it — on a structureless corpus that is the
  // random tail and the qualifying-pair count grows quadratically; the
  // calibrated cutoff mean + z·std moves WITH the corpus, so the pairs
  // that qualify are the planted near-duplicates, whose count is linear
  // by construction.
  // -------------------------------------------------------------------

  /** Background-pair sample: md5-bucket the ids and pair each bucket's
    * min with its max — deterministic, distributed (one 4096-key
    * aggregate), uncorrelated with id-adjacent plant structure, and
    * exactly replayable in SQL. */
  val CalibrationBuckets = 4096

  /** Tail width of the calibrated cutoff: mean + [[CalibrationZ]]·std.
    * Six sigmas puts the cutoff in the planted-duplicate regime
    * (P ≈ 1e-9 per background pair) while staying a FIXED rational
    * factor — the formula stays IEEE-deterministic across engines
    * (sqrt is correctly rounded; no libm ln/erf whose last ulp is
    * implementation-defined). */
  val CalibrationZ = 6.0

  private val D38 =
    org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)

  /** Exact nano-cosine moments over the background-pair sample: n, Σc,
    * Σc² with c = round(cos·1e9) — the integer-moments recipe (cents(),
    * scaled), so ANY partitioning folds to the identical row and the
    * mean/std/threshold are fixed double formulas over exact integers. */
  private def calibrationMoments(emb: DataFrame): DataFrame = {
    val bucket = conv(substring(md5(col("vec_id").cast("string")), 1, 8),
      16, 10).cast("long") % CalibrationBuckets
    val ids = emb.select(col("vec_id"), bucket.as("b"))
      .groupBy(col("b"))
      .agg(min(col("vec_id")).as("va"), max(col("vec_id")).as("vb"),
        count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
    val c = round(Similarity.cos(col("ea"), col("eb")) * lit(1e9))
      .cast("long")
    ids
      .join(emb.select(col("vec_id").as("va"), col("embedding").as("ea")),
        "va")
      .join(emb.select(col("vec_id").as("vb"), col("embedding").as("eb")),
        "vb")
      .select(c.as("c"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("c")).as("sc"),
        sum((col("c") * col("c")).cast(D38)).as("scc"))
  }

  /** Declared query — the calibration readout a corpus owner checks
    * before fixing a dedup cutoff: background sample size, mean and std
    * of the background cosine, and the calibrated threshold
    * mean + z·std. On this corpus: mean ≈ 0, std ≈ 1/√64, threshold
    * ≈ 0.8 — above the random tail that made the fixed 0.45 cutoff
    * quadratic. */
  def thresholdCalibration(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val mean =
      col("sc").cast("double") / col("n_pairs").cast("double") / lit(1e9)
    val varNum = col("n_pairs").cast(D38) * col("scc") -
      col("sc").cast(D38) * col("sc").cast(D38)
    val std = sqrt(varNum.cast("double")
      / (col("n_pairs") * col("n_pairs")).cast("double")) / lit(1e9)
    calibrationMoments(emb).select(col("n_pairs"),
      mean.as("mean_cos"), std.as("std_cos"),
      (mean + lit(CalibrationZ) * std).as("threshold"))
  }

  /** Declared query — embedding dedup at the CALIBRATED threshold: the
    * same LSH candidate stream and min-lower-id survivor policy as
    * dedup_embedding, with the cutoff computed from the corpus instead
    * of fixed. The 1-row calibration broadcasts; at the calibrated
    * cutoff the verified-pair volume is the genuine-duplicate count —
    * on THIS corpus zero, the statistically honest answer (the pairs
    * the fixed 0.45 cutoff "deduped" are background-tail pairs of a
    * structureless corpus, the SURVEY §8.1 diagnosis), and on a corpus
    * with real plants the ≈1.0-cosine copies, linear by construction —
    * which is what makes this the uncapped lifecycle's scale-safe
    * sibling. */
  def calibratedDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val thr = thresholdCalibration(s, dir).select(col("threshold"))
    // candidates at the CORPUS-ADAPTIVE geometry (keys ∝ N): the
    // calibrated threshold bounds the VERIFIED-pair volume, but the
    // candidate volume is set by the key space — at the historical fixed
    // 128 keys it is ~N²/keys and the rig measured the query 5.3× at 10×
    // (round 15); on the ladder it is ~N·occupancy, and the oracle
    // replays the same ladder (adaptivePairScoresCtes)
    val dups = Similarity.lshCandidatePairScores(s, dir,
        Similarity.corpusBits(s, dir))
      .crossJoin(broadcast(thr))
      .filter(col("score") >= col("threshold"))
      .select(col("vec_b"))
    emb.select(col("vec_id"))
      .join(dups, col("vec_id") === col("vec_b"), "left_anti")
      .orderBy(col("vec_id"))
  }

  /** The calibration CTEs (`calm` exact moments, `cal` finalized row) —
    * one text behind both declared queries' oracles. */
  private def calibrationCteSql: String = {
    def d(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.17e", Double.box(v))
    s"""calm AS (
       |  SELECT COUNT(*) AS n, SUM(c) AS sc, SUM(c * c) AS scc FROM (
       |    SELECT CAST(ROUND(
       |        (${Similarity.cosSql("ea.embedding", "eb.embedding")}) * 1e9)
       |      AS BIGINT) AS c
       |    FROM (
       |      SELECT MIN(vec_id) AS va, MAX(vec_id) AS vb
       |      FROM (SELECT vec_id,
       |          CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
       |            AS BIGINT) % $CalibrationBuckets AS b
       |        FROM embeddings) t
       |      GROUP BY b HAVING COUNT(*) >= 2) p
       |    JOIN embeddings ea ON ea.vec_id = p.va
       |    JOIN embeddings eb ON eb.vec_id = p.vb) sm),
       |cal AS (
       |  SELECT CAST(n AS BIGINT) AS n_pairs,
       |    CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) / 1e9 AS mean_cos,
       |    sqrt(CAST(CAST(n AS HUGEINT) * scc
       |        - CAST(sc AS HUGEINT) * CAST(sc AS HUGEINT) AS DOUBLE)
       |      / CAST(n * n AS DOUBLE)) / 1e9 AS std_cos
       |  FROM calm)""".stripMargin +
      s""",
       |calt AS (
       |  SELECT n_pairs, mean_cos, std_cos,
       |    mean_cos + ${d(CalibrationZ)} * std_cos AS threshold
       |  FROM cal)""".stripMargin
  }

  import graft.QuerySpec.{rowsOnly, withOracle}

  val specs: Seq[QuerySpec] = Seq(
    withOracle("sim_threshold_calibration", thresholdCalibration,
      s"""WITH $calibrationCteSql
         |SELECT n_pairs, mean_cos, std_cos, threshold FROM calt""".stripMargin),
    withOracle("dedup_embedding_calibrated", calibratedDedup,
      s"""${Similarity.adaptivePairScoresCtes},
         |$calibrationCteSql
         |SELECT e.vec_id FROM embeddings e
         |WHERE NOT EXISTS (SELECT 1 FROM pair_scores ps, calt
         |  WHERE ps.vec_b = e.vec_id AND ps.score >= calt.threshold)
         |ORDER BY e.vec_id""".stripMargin),
    withOracle("sim_quantize_binary", quantizeBinary,
      s"""$binCtes
        |SELECT vec_id, n_dims, code_lo, code_hi,
        |  CAST(bit_count(code_lo) + bit_count(code_hi) AS BIGINT) AS n_ones
        |FROM bits ORDER BY vec_id""".stripMargin),
    withOracle("sim_topk_binary", topKBinary, topKBinaryOracleSql),
    // Streaming twin: frozen index + per-query independence => batch-
    // boundary invariant, so it carries the batch oracle text VERBATIM.
    withOracle("stream_binary_serve", streamBinaryServeQuery,
      topKBinaryOracleSql),
    // Lifecycle verbs with FULL differential oracles (codes are a pure
    // function of the corpus — no data-trained geometry): persisted
    // serve equals the transient query; delete recomputes the shortlist
    // over the live set; as-of serves the slice-0 snapshot with the
    // later delete invisible.
    withOracle("sim_topk_binary_persisted", topKBinaryPersisted,
      topKBinaryOracleSql),
    withOracle("sim_topk_binary_deleted", topKBinaryDeleted,
      binDeletedOracleSql),
    // Compaction must be invisible to readers: the DELETED oracle,
    // verbatim, after the fold.
    withOracle("sim_topk_binary_compacted", topKBinaryCompacted,
      binDeletedOracleSql),
    withOracle("sim_topk_binary_asof", topKBinaryAsOf,
      s"""$binCtes,
         |${binShortlistCte(
            "c.vec_id <= (SELECT MAX(vec_id) // 2 FROM embeddings)")}
         |$binRerankSql
         |ORDER BY query_id, rank""".stripMargin),
    withOracle("sim_binary_recall", binaryRecall,
      s"""$binCtes,
        |${binShortlistCte()},
        |bin AS (SELECT query_id, vec_id FROM ($binRerankSql) r),
        |${Similarity.exactTopKCteSql},
        |${Similarity.recallTailSql("bin")}""".stripMargin),
    withOracle("sim_topk_matryoshka", topKMatryoshka,
      s"""$mslCtes
        |$mslRerankSql
        |ORDER BY query_id, rank""".stripMargin),
    withOracle("sim_matryoshka_recall", matryoshkaRecall,
      s"""$mslCtes,
        |mat AS (SELECT query_id, vec_id FROM ($mslRerankSql) r),
        |${Similarity.exactTopKCteSql},
        |${Similarity.recallTailSql("mat")}""".stripMargin),
    withOracle("sim_quantize_int8", quantizeInt8,
      s"""$quantOracleCtes
        |SELECT vec_id,
        |  CAST(len(embedding) AS BIGINT) AS n_dims,
        |  scale,
        |  array_to_string(codes, ',') AS codes,
        |  sqrt(list_sum(list_transform(list_zip(embedding, codes),
        |    p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) * scale / $QuantLevels)
        |       * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) * scale / $QuantLevels))))
        |    AS recon_err
        |FROM c ORDER BY vec_id""".stripMargin),
    withOracle("sim_topk_int8", topKInt8,
      s"""$quantOracleCtes,
         |scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
         |    CAST(list_sum(list_transform(list_zip(a.codes, b.codes),
         |      p -> p[1] * p[2])) AS DOUBLE) * a.scale * b.scale
         |      / ${QuantLevels * QuantLevels} AS score
         |  FROM c a JOIN c b
         |    ON a.vec_id < ${Similarity.NumQueryVectors}
         |   AND b.vec_id <> a.vec_id)
         |SELECT query_id, rank, vec_id, score FROM (
         |  SELECT query_id, vec_id, score,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id ASC) AS BIGINT) AS rank
         |  FROM scored) t
         |WHERE rank <= ${Similarity.TopK}
         |ORDER BY query_id, rank""".stripMargin),
    withOracle("sim_embedding_stats", embeddingStats,
      """WITH v AS (SELECT label,
        |    CAST(len(embedding) AS BIGINT) AS n_dims,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
        |  FROM embeddings)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  CAST(SUM(CASE WHEN norm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_vecs,
        |  MIN(norm) AS min_norm, MAX(norm) AS max_norm,
        |  CAST(MIN(n_dims) AS BIGINT) AS min_dims,
        |  CAST(MAX(n_dims) AS BIGINT) AS max_dims
        |FROM v GROUP BY label ORDER BY label""".stripMargin),
    withOracle("sim_semdedup", semDedup,
      s"""WITH ${Similarity.hierAssignCtesFor(
             Similarity.SemDedupCoarseKey, Similarity.SemDedupLeavesKey)},
         |sal AS (SELECT a.vec_id, a.cell,
         |    a.vec_id % CAST(CEIL(COUNT(*) OVER (PARTITION BY a.cell)
         |      / $SemDedupCellCap.0) AS BIGINT) AS salt
         |  FROM assigned a),
         |dup AS (SELECT b.vec_id AS vec_b, MIN(a.vec_id) AS dup_of
         |  FROM sal a
         |  JOIN sal b ON b.cell = a.cell AND b.salt = a.salt
         |    AND a.vec_id < b.vec_id
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN embeddings eb ON eb.vec_id = b.vec_id
         |  WHERE ${Similarity.cosSql("ea.embedding", "eb.embedding")}
         |    >= $SemDedupThreshold
         |  GROUP BY 1)
         |SELECT s.vec_id, s.cell, COALESCE(d.dup_of, s.vec_id) AS keeper,
         |  CAST(d.dup_of IS NOT NULL AS BIGINT) AS is_dup
         |FROM sal s LEFT JOIN dup d ON d.vec_b = s.vec_id
         |ORDER BY s.vec_id""".stripMargin))
}
