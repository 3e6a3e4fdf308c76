package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Deduplication operators for the training-data tier: exact, n-gram
  * Jaccard (inverted index), MinHash+LSH, SimHash. All are expressed as
  * shuffle-conscious DataFrame plans:
  *
  *   - Exact dedup is one hash-groupBy — the only shuffle is on the md5
  *     key, with map-side partial aggregation.
  *   - Pairwise similarity NEVER does a cross join. Candidates come from an
  *     inverted index (shingle → docs) or LSH buckets (band hash → docs),
  *     so the shuffle volume is O(docs × shingles), not O(docs²) — the
  *     difference between feasible and impossible at 100 TB.
  *   - MinHash signatures are computed per-row inside codegen (no explode,
  *     no shuffle): one base xxhash64 per shingle, then 128 affine
  *     permutations folded with array_min.
  *   - Candidate pairs are verified with EXACT Jaccard before emission, so
  *     LSH false positives never surface; banding (32 bands × 4 rows)
  *     makes false negatives vanishingly rare above the 0.6 threshold.
  */
object Dedup {

  val ShingleSize = 3
  val JaccardThreshold = 0.6

  // ---------------------------------------------------------------------
  // Exact dedup (hash-groupBy)
  // ---------------------------------------------------------------------

  /** Groups by content hash; keeper = min doc_id per group (deterministic
    * survivor policy). */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"))

  def exact(s: SparkSession, dir: String): DataFrame =
    exactGroups(Tables.documents(s, dir)).orderBy(col("content_hash"))

  // ---------------------------------------------------------------------
  // N-gram Jaccard via inverted shingle index
  // ---------------------------------------------------------------------

  /** All pairs with exact shingle-set Jaccard >= threshold, via prefix
    * filtering (the PPJoin family, Xiao et al.): order each doc's shingles
    * by ascending global frequency and index only the first
    * n - ceil(θ·n) + 1 of them. The prefix-filtering lemma guarantees any
    * pair with Jaccard >= θ shares a prefix element, so the self-join hits
    * only RARE shingles — with a skewed/small vocabulary this collapses
    * the candidate set from Σ bucket² (tens of millions here) to
    * near-duplicates only. Survivors are verified with an exact
    * intersection; the verification, not the pruning, decides membership,
    * so the output is exactly the oracle's pair set.
    *
    * Shingles are 64-bit hashes throughout (8-byte shuffle keys; a
    * collision needs 2^-64 within one doc pair). Prefix/length pruning
    * uses exact integer math on θ as a rational (round(θ*1000)/1000 >= θ
    * in binary, and no Jaccard rational with these set sizes falls in the
    * gap, so pruning is never tighter than verification). */
  def ngramJaccardPairs(docs: DataFrame,
      threshold: Double = JaccardThreshold): DataFrame = {
    val tNum = math.round(threshold * 1000).toInt
    val tDen = 1000
    // Materialize the hashed sets once: five downstream subplans reuse
    // them, and recomputing the shingle+hash transform per subplan costs
    // more than the whole join (~12 MB at sf0.1; at scale this is a
    // persisted intermediate table). The tokenize→shingle→hash→distinct
    // chain is one codegen'd kernel (ShingleHashes64), not interpreted
    // higher-order functions.
    val sets = docs.select(col("doc_id"),
        graft.functions.GraftExpressions.shingleHashes64(
          col("text"), ShingleSize).as("hv"))
      .withColumn("n", size(col("hv")).cast("long"))
      .persist()
    val idx = sets.select(col("doc_id"), col("n"), explode(col("hv")).as("s"))
    val freq = idx.groupBy(col("s")).agg(count(lit(1)).as("f"))
    // Window row_number over (doc_id) is the cheapest prefix mechanism
    // measured: a collect_list + per-row array_sort variant was ~1.4x
    // slower (struct shuffle + re-explode outweigh the window sort).
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("f"), col("s"))
    // No broadcast hint: freq is the shingle VOCABULARY, which grows with
    // the corpus — a forced broadcast dies at 100 TB. AQE's runtime stats
    // still pick a broadcast join at scales where it actually fits.
    val prefix = idx.join(freq, "s")
      .withColumn("rn", row_number().over(wDoc))
      .filter(expr(s"rn <= n - ((n * $tNum + ${tDen - 1}) div $tDen) + 1"))
      .select(col("doc_id"), col("n"), col("s"))
    val candidates = prefix.as("x").join(prefix.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id") &&
          col("y.n") * tDen >= col("x.n") * tNum &&   // length filter both ways
          col("x.n") * tDen >= col("y.n") * tNum)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    candidates
      .join(sets.select(col("doc_id").as("doc_a"), col("hv").as("hv_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("hv").as("hv_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        jaccardOf(col("hv_a"), col("hv_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The corpus's verified near-dup pair set at the default threshold,
    * built ONCE per corpus into StateCache-backed parquet — the
    * production artifact shape (ngramJaccardPairs' own comment calls the
    * hashed sets "a persisted intermediate table" at 100 TB; the verified
    * PAIR SET is the next one up). Ten default-threshold consumers
    * (groups/stats/survivor, the joint and leakage tiers, the funnel and
    * pipeline, cross-source overlap, the mm pair matrix) previously
    * re-ran the PPJoin per invocation; they now serve read-only from one
    * build, the round-15 amortization convention. Values are identical —
    * the state IS the query's output materialized. */
  private[graft] def corpusPairs(s: SparkSession, dir: String): DataFrame = {
    // ONE PPJoin materialization serves both thresholds: by the operator's
    // own contract the pair set is exact at any cutoff, so the default-
    // threshold pairs are exactly the sweep scan's rows filtered at 0.6 —
    // building a second near-identical state would double the per-corpus
    // build time and state disk for a filter's worth of work.
    require(JaccardThreshold >= SweepThresholds.min,
      "corpusPairs serves from the sweep-threshold state; the default " +
        "threshold must not go below the sweep floor")
    sweepPairs(s, dir).filter(col("jaccard") >= JaccardThreshold)
  }

  /** Corpus-level component labels over [[corpusPairs]] — the shared
    * contraction behind every default-threshold grouping consumer. */
  private[graft] def corpusGroups(s: SparkSession, dir: String): DataFrame =
    componentsOver(Tables.documents(s, dir).select(col("doc_id")),
      corpusPairs(s, dir).select(col("doc_a"), col("doc_b")))

  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    corpusPairs(s, dir).orderBy(col("doc_a"), col("doc_b"))

  /** Thresholds the sweep audit evaluates (ascending; the lowest one
    * bounds the single pair scan). */
  val SweepThresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9)

  /** Threshold WHAT-IF sweep — the table a dedup owner reads before
    * fixing the cutoff: for each candidate threshold, how many exact
    * Jaccard pairs qualify and how many documents the min-lower-id rule
    * would drop. ONE exact PPJoin pass at the lowest threshold (exact at
    * any cutoff — the prefix scheme adapts), then a 5-way explode and a
    * tiny-key aggregate; thresholds with zero qualifying pairs drop out
    * (both engines agree). */
  def dedupThresholdSweep(s: SparkSession, dir: String): DataFrame =
    sweepPairs(s, dir)
      .select(col("doc_b"), col("jaccard"),
        explode(array(SweepThresholds.map(lit): _*)).as("threshold"))
      .filter(col("jaccard") >= col("threshold"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("doc_b")).as("n_docs_dropped"))
      .orderBy(col("threshold"))

  /** A pair qualifies as doc-in-doc when the smaller shingle set is at
    * least this contained in the larger. */
  val ContainmentThreshold = 0.9

  /** CONTAINMENT (doc-in-doc) near-dup pairs — Broder's asymmetric
    * companion to Jaccard: containment = |A∩B| / min(|A|,|B|). The scrape
    * pathology it catches is a document republished inside a boilerplate
    * wrapper: the wrapper dilutes symmetric Jaccard below the dedup
    * cutoff (union grows with the wrapper) while containment of the
    * original stays ≈ 1. Emits both set sizes with the score — the
    * direction (which doc is the contained one) is the smaller n.
    *
    * Candidate generation is the PPJoin inverted index with an ASYMMETRIC
    * prefix: a qualifying pair shares ≥ ceil(t·n_small) shingles, so the
    * smaller doc must hit within its own (n − ceil(t·n) + 1)-prefix in
    * rarest-first order — the probe side is that prefix, the build side
    * the FULL posting list restricted to n_build ≥ n_probe (the smaller
    * side drives). Still O(docs × shingles), never n²; the full-index
    * side concentrates rare shingles against hot ones exactly like the
    * Jaccard prefix (rarest-first prefixes rarely contain hot shingles —
    * a hot posting list is probed only by near-all-boilerplate docs; cap
    * or salt it the [[LshSkew]] way if a corpus is that degenerate).
    * Exact verification (array intersection over the full hashed sets)
    * before emission, the PPJoin contract. */
  def containmentPairs(docs: DataFrame,
      threshold: Double = ContainmentThreshold): DataFrame = {
    val tNum = math.round(threshold * 1000).toInt
    val tDen = 1000
    val sets = docs.select(col("doc_id"),
        graft.functions.GraftExpressions.shingleHashes64(
          col("text"), ShingleSize).as("hv"))
      .withColumn("n", size(col("hv")).cast("long"))
      .filter(col("n") > 0)
      // Deliberately retained for the session (same policy as
      // ngramJaccardPairs' sets): the returned plan is lazy and reads this
      // frame on the probe side, the build side, AND the verification, so
      // an eager unpersist here would defeat the cache before it is used;
      // sweep runs reuse the entry via plan-cache matching.
      .persist()
    val idx = sets.select(col("doc_id"), col("n"), explode(col("hv")).as("s"))
    val freq = idx.groupBy(col("s")).agg(count(lit(1)).as("f"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("f"), col("s"))
    val prefix = idx.join(freq, "s")
      .withColumn("rn", row_number().over(wDoc))
      .filter(expr(s"rn <= n - ((n * $tNum + ${tDen - 1}) div $tDen) + 1"))
      .select(col("doc_id"), col("n"), col("s"))
    val candidates = prefix.as("x").join(idx.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") =!= col("y.doc_id") &&
          col("y.n") >= col("x.n"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
      .distinct()
    candidates
      .join(sets.select(col("doc_id").as("doc_a"), col("hv").as("hv_a"),
        col("n").as("n_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("hv").as("hv_b"),
        col("n").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        (size(array_intersect(col("hv_a"), col("hv_b"))).cast("double") /
          least(col("n_a"), col("n_b"))).as("containment"))
      .filter(col("containment") >= threshold)
  }

  def containment(s: SparkSession, dir: String): DataFrame =
    corpusContainmentPairs(s, dir)
      .orderBy(col("doc_a"), col("doc_b"))

  /** The sweep's one exact pair scan at the lowest candidate threshold
    * and the corpus containment pair set, each materialized once per
    * corpus — the [[corpusPairs]] convention applied to the two other
    * PPJoin passes the dedup family runs (the sweep's min-threshold scan
    * and the asymmetric-prefix containment scan). */
  private def sweepPairs(s: SparkSession, dir: String): DataFrame = {
    val st = graft.StateCache.stateDir(dir, "dedup/ngram_pairs_sweepmin",
        "graft_sweep_pairs") { d =>
      ngramJaccardPairs(Tables.documents(s, dir), SweepThresholds.min)
        .write.parquet(s"$d/pairs")
    }
    s.read.parquet(s"$st/pairs")
  }

  private def corpusContainmentPairs(s: SparkSession, dir: String): DataFrame = {
    val st = graft.StateCache.stateDir(dir, "dedup/containment_pairs",
        "graft_cont_pairs") { d =>
      containmentPairs(Tables.documents(s, dir)).write.parquet(s"$d/pairs")
    }
    s.read.parquet(s"$st/pairs")
  }

  /** The containment DEDUP DECISION: drop the CONTAINED side of every
    * qualifying pair — the smaller doc (its content survives inside the
    * container), tie-broken to keep the min id when sizes are equal (the
    * shared survivor contract across the text/embedding/image/audio/video
    * dedups). Emits the dropped docs with how many containers matched and
    * the min-id container (`kept_in`) — the audit trail a corpus owner
    * follows to see WHERE a dropped doc's content lives on. A container
    * may itself be dropped by a longer chain (A⊂B⊂C drops A and B): the
    * kept corpus is the docs absent from this list, and content is
    * preserved because every dropped doc is ≥-90%-contained in some
    * surviving superset along its chain. */
  def containmentDedup(s: SparkSession, dir: String): DataFrame = {
    val dropped = when(col("n_a") < col("n_b"), col("doc_a"))
      .when(col("n_b") < col("n_a"), col("doc_b"))
      .otherwise(col("doc_b"))
    val container = when(col("n_a") < col("n_b"), col("doc_b"))
      .when(col("n_b") < col("n_a"), col("doc_a"))
      .otherwise(col("doc_a"))
    corpusContainmentPairs(s, dir)
      .select(dropped.as("doc_id"), container.as("container"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_containers"), min(col("container")).as("kept_in"))
      .orderBy(col("doc_id"))
  }

  /** CROSS-SOURCE duplication audit — the crawl-snapshot overlap matrix a
    * corpus owner reads before mixing sources: for every unordered source
    * pair (diagonal included), how many exact-duplicate doc pairs and how
    * many near-dup (Jaccard ≥ [[JaccardThreshold]]) pairs straddle the
    * two. Exact pairs are counted WITHOUT materializing them: group to
    * (content_hash, source, c), join hash-to-hash (≤ |sources| rows per
    * key — never the doc-level quadratic join), cross terms c_a·c_b, and
    * the diagonal c·(c−1)/2 from the group sizes alone. Near-dup pairs
    * ride the PPJoin pair set and only label each pair with its two
    * sources. Both sides shuffle on already-aggregated keys; at 100 TB the
    * matrix costs one dedup pass, not a pairs blow-up. */
  def crossSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val meta = docs.select(col("doc_id"), col("source"), md5(col("text")).as("h"))
    // Deliberately retained (ngramJaccardPairs policy): byHs feeds the
    // cross join, the diagonal, and nothing materializes inside this
    // builder, so the cache can only be released by the caller's session.
    val byHs = meta.groupBy(col("h"), col("source"))
      .agg(count(lit(1)).as("c")).persist()
    val cross = byHs.as("a").join(byHs.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        (col("a.c") * col("b.c")).as("n"))
    val diag = byHs.select(col("source").as("src_a"), col("source").as("src_b"),
      expr("(c * (c - 1)) div 2").as("n"))
    val exactCnt = cross.unionByName(diag).groupBy(col("src_a"), col("src_b"))
      .agg(sum(col("n")).as("n_exact_pairs"))
      .filter(col("n_exact_pairs") > 0)
    val near = corpusPairs(s, dir)
      .select(col("doc_a"), col("doc_b"))
      .join(meta.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(meta.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_neardup_pairs"))
    exactCnt.join(near, Seq("src_a", "src_b"), "full_outer")
      .select(col("src_a"), col("src_b"),
        coalesce(col("n_exact_pairs"), lit(0L)).as("n_exact_pairs"),
        coalesce(col("n_neardup_pairs"), lit(0L)).as("n_neardup_pairs"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** The exact containment pair set as a reusable CTE body (`cpairs`) —
    * the definition shared verbatim by the pair oracle and the dedup
    * oracle, mirroring [[jaccardPairsCte]]'s no-drift contract. */
  val containmentPairsCte: String =
    s"""w AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
       |csh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s
       |       FROM w, UNNEST(generate_series(1, len(toks)-2)) AS t(i)
       |       WHERE len(toks) >= 3),
       |ccnt AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY 1),
       |cinter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
       |          FROM csh a JOIN csh b ON a.s = b.s AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |cpairs AS (SELECT doc_a, doc_b, ca.n AS n_a, cb.n AS n_b,
       |    CAST(i AS DOUBLE) / LEAST(ca.n, cb.n) AS containment
       |  FROM cinter
       |  JOIN ccnt ca ON ca.doc_id = doc_a
       |  JOIN ccnt cb ON cb.doc_id = doc_b
       |  WHERE CAST(i AS DOUBLE) / LEAST(ca.n, cb.n) >= $ContainmentThreshold)""".stripMargin

  /** The exact Jaccard pair set (with scores) as a single reusable CTE
    * body — THE definition of the pair semantics, shared verbatim by the
    * pair oracle, the MinHash+LSH oracle, the connected-components oracle
    * and the curation-pipeline oracle, so the four can never
    * desynchronize. */
  /** The same pair semantics at any threshold (the sweep audit reuses
    * this text at its lowest cutoff). */
  def jaccardPairsCteAt(threshold: Double): String =
    s"""w AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
       |sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s
       |       FROM w, UNNEST(generate_series(1, len(toks)-2)) AS t(i)
       |       WHERE len(toks) >= 3),
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
       |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |jp AS (SELECT doc_a, doc_b, CAST(i AS DOUBLE)/(ca.n + cb.n - i) AS jaccard
       |       FROM inter
       |       JOIN cnt ca ON ca.doc_id = doc_a
       |       JOIN cnt cb ON cb.doc_id = doc_b
       |       WHERE CAST(i AS DOUBLE)/(ca.n + cb.n - i) >= $threshold)""".stripMargin

  val jaccardPairsCte: String = jaccardPairsCteAt(JaccardThreshold)

  /** The winnowed fingerprint CTEs (`fps(doc_id, fp)`, df-capped) — ONE
    * SQL text behind the overlap and decontamination oracles so the
    * window/hash replay cannot drift. */
  private[operators] def winnowFpCtes: String =
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS toks
       |           FROM documents),
       |g AS (SELECT doc_id, i AS pos,
       |        CAST(concat('0x', substr(md5(
       |          toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 8))
       |          AS BIGINT) AS h
       |      FROM w, UNNEST(generate_series(1, len(toks) - 2)) AS t(i)
       |      WHERE len(toks) >= 3),
       |fp0 AS (SELECT DISTINCT doc_id,
       |        MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
       |          ROWS BETWEEN CURRENT ROW
       |          AND ${WinnowWindow - 1} FOLLOWING) AS fp
       |      FROM g),
       |df AS (SELECT fp, COUNT(*) AS df FROM fp0 GROUP BY 1),
       |fps AS (SELECT doc_id, fp FROM fp0 JOIN df USING (fp)
       |        WHERE df <= $WinnowMaxDf)""".stripMargin

  /** Shared DuckDB oracle for the Jaccard-pair semantics (also the oracle
    * for MinHash+LSH, whose verified candidates equal the exact pair set
    * at these thresholds). */
  val jaccardOracleSql: String =
    s"""WITH $jaccardPairsCte
       |SELECT doc_a, doc_b, jaccard FROM jp ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // MinHash + LSH
  // ---------------------------------------------------------------------

  val NumPerm = 128
  val Bands = 32

  /** Fixed-seed affine permutation constants in [1, p), p =
    * [[graft.functions.VectorKernels.MinhashPrime]]. The signature +
    * band reduction itself is the custom codegen'd Catalyst expression
    * GraftExpressions.MinhashBands — higher-order functions would evaluate
    * the 128-permutation inner loop interpretively per element. */
  private[graft] val (permAs, permBs): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(42)
    def c() = (rnd.nextInt(Int.MaxValue - 1) + 1).toLong
    (Array.fill(NumPerm)(c()), Array.fill(NumPerm)(c()))
  }

  /** A band bucket only goes over this size when a corpus is saturated
    * with near-identical documents (boilerplate, empty strings); above
    * it, [[LshSkew.saltBuckets]] splits the bucket so the candidate join
    * stays ~B·cap, not B². Verification-scale buckets are tiny (a band
    * match needs 4 equal minhashes), so bench outputs are unchanged. */
  val MaxBandBucketSize = 1024

  /** The hashed shingle set / band-bucket signature columns and the exact
    * Jaccard verification expression — THE single definition shared by the
    * ngram, MinHash and streaming tiers, so they can never drift. */
  private[graft] def shingleSet(text: Column): Column =
    graft.functions.GraftExpressions.shingleHashes64(text, ShingleSize)
  private[graft] def bandBuckets(hv: Column): Column =
    graft.functions.GraftExpressions.minhashBands(hv, permAs, permBs, Bands)
  private[graft] def jaccardOf(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("long")
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  /** Candidate pairs from LSH buckets, then EXACT Jaccard verification.
    * Only docs sharing >= 1 band bucket meet in the join — O(candidates),
    * not O(n²). */
  def minhashLshPairs(docs: DataFrame,
      threshold: Double = JaccardThreshold,
      bandCap: Int = MaxBandBucketSize): DataFrame = {
    // Materialized once: the bucket index and both verification joins
    // reuse it, and regenerating shingles is the dominant cost otherwise.
    // Hashed shingle sets (8 bytes each) stand in for the string sets in
    // both LSH banding and the exact-Jaccard verification — same set
    // algebra, ~10× less shuffle/cache volume.
    val withSets = docs.select(col("doc_id"), shingleSet(col("text")).as("hv"))
      .persist()
    // persist: the self-join reads this frame on both sides, and the
    // salt WINDOW sits above the reusable Exchange — ReusedExchange
    // dedups the shuffle but re-executes the window per side, so caching
    // buys ~30% here (measured). (Similarity's salt is a broadcast join,
    // no window, hence no persist there.) Like the withSets cache above,
    // it is retained for same-plan reuse across the dedup query family.
    val buckets = LshSkew.saltBuckets(
      withSets.select(col("doc_id"),
        posexplode(bandBuckets(col("hv"))).as(Seq("band", "bucket"))),
      Seq("band", "bucket"), "doc_id", bandCap)
      .persist()
    val candidates = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.salt") === col("y.salt") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    candidates
      .join(withSets.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(withSets.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        jaccardOf(col("sa.hv"), col("sb.hv")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  def minhashLsh(s: SparkSession, dir: String): DataFrame =
    minhashLshPairs(Tables.documents(s, dir)).orderBy(col("doc_a"), col("doc_b"))

  // ---------------------------------------------------------------------
  // SimHash (Charikar) with pigeonhole blocking
  // ---------------------------------------------------------------------

  val SimhashMaxHamming = 3

  /** 64-bit SimHash of the token multiset (Charikar) — the codegen'd
    * GraftExpressions.SimHash64 over a precomputed token-hash array. */
  def simhash64(baseHashes: Column): Column =
    graft.functions.GraftExpressions.simhash64Fast(baseHashes)

  /** Near-dup pairs with Hamming distance <= k via pigeonhole blocking:
    * split the 64-bit simhash into k+1 chunks; any pair within distance k
    * agrees on >= 1 chunk, so candidates come from equi-joins on chunk
    * values — again no cross join. Token hashes are md5-derived
    * (Md5TokenHashes64) so the DuckDB oracle reproduces the simhash
    * bit-for-bit; blocking is a pruning detail the oracle doesn't need —
    * it verifies the SEMANTICS (all pairs within the Hamming radius). */
  def simhashPairs(docs: DataFrame,
      maxHamming: Int = SimhashMaxHamming): DataFrame = {
    val chunks = maxHamming + 1
    val bitsPerChunk = 64 / chunks
    val withSim = docs
      .withColumn("hv", graft.functions.GraftExpressions.md5TokenHashes64(col("text")))
      .select(col("doc_id"), simhash64(col("hv")).as("sim"))
    val blocked = withSim.select(col("doc_id"), col("sim"),
      posexplode(array((0 until chunks).map(c =>
        shiftrightunsigned(col("sim"), c * bitsPerChunk)
          .bitwiseAND(lit((1L << bitsPerChunk) - 1))): _*)).as(Seq("chunk", "chunk_val")))
    blocked.as("x").join(blocked.as("y"),
        col("x.chunk") === col("y.chunk") &&
          col("x.chunk_val") === col("y.chunk_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        call_function("bit_count", col("x.sim").bitwiseXOR(col("y.sim")))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  def simhash(s: SparkSession, dir: String): DataFrame =
    simhashPairs(Tables.documents(s, dir)).orderBy(col("doc_a"), col("doc_b"))

  // ---------------------------------------------------------------------
  // Connected components over the near-dup graph (dedup GROUPS, not pairs)
  // ---------------------------------------------------------------------

  /** Edge-count bound under which components are solved by LOCAL
    * CONTRACTION: the near-dup edge set is orders of magnitude smaller
    * than the corpus (it only contains near-duplicates), so after the
    * distributed pair computation the graph itself usually fits on the
    * driver — union-find there costs one collect + one broadcast join,
    * versus diameter-many shuffle rounds. This mirrors how production CC
    * implementations finish (distributed rounds only until the contracted
    * graph is driver-small). */
  val LocalEdgeLimit = 5000000L

  /** Distributed connected components by alternating large-star /
    * small-star rounds (the MapReduce CC algorithm of Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14):
    *
    *   - large-star: every node u links each LARGER neighbor to the
    *     minimum of N(u) ∪ {u} — long chains fold toward their minimum
    *     from every interior node at once;
    *   - small-star: orient edges large→small, then link each smaller
    *     neighbor (and u itself) to the minimum neighbor — flattening the
    *     partial trees into stars.
    *
    * Each round is two join+aggregate stages over the edge set (no
    * vertex-state table to carry), and the edge set CONTRACTS as
    * components collapse; convergence is O(log n) rounds w.h.p. versus
    * O(diameter) for naive min-label propagation — on a 10k-vertex path
    * that is ~15 rounds instead of 10k. Fixed point = the edge set is a
    * set of stars (u → component minimum), detected by an
    * order-independent checksum (count + bit_xor of the pair hash) going
    * stable across a round; stability also means every non-min vertex
    * points at its component min, so the final edges ARE the label map.
    * Non-convergence inside `maxIters` still fails loudly rather than
    * emit silent mis-dedup. */
  private[graft] def largeSmallStarComponents(pairs: DataFrame,
      maxIters: Int = 40): DataFrame = {

    def largeStar(e: DataFrame): DataFrame = {
      val both = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val minNbr = both.groupBy(col("u"))
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      both.join(minNbr, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(
          greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
      val minNbr = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
      val nbrLinks = oriented.join(minNbr, "u")
        .select(col("v").as("x"), col("m"))
      val selfLinks = minNbr.select(col("u").as("x"), col("m"))
      nbrLinks.union(selfLinks)
        .filter(col("x") =!= col("m"))
        .select(col("x").as("u"), col("m").as("v"))
        .distinct()
    }

    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), call_function("bit_xor",
        xxhash64(col("u"), col("v")))).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    // localCheckpoint (eager) after every round: without it the plan tree
    // nests one full round per iteration and grows exponentially — by
    // round ~15 the driver OOMs just STRINGIFYING the plan. Truncating
    // lineage keeps per-round planning O(1); on a cluster with
    // failure-tolerance requirements this would be reliable checkpointing
    // to the checkpoint dir, same call shape.
    var edges = pairs
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    var sig = checksum(edges)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val nextSig = checksum(next)
      // unpersist alone leaves the retired round's checkpoint blocks to
      // GC; free them deterministically (the final round's blocks stay —
      // the returned frame still reads them)
      edges.unpersist()
      PlanUtils.freeLocalCheckpoint(edges)
      edges = next
      converged = nextSig == sig
      sig = nextSig
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge in $maxIters large/small-star rounds")
    // Stars: every edge is (vertex -> its component min). Roots appear
    // only on the right; they label themselves.
    val nonRoots = edges.select(col("u").as("v"), col("v").as("lbl"))
    val roots = edges.select(col("v").as("v")).distinct()
      .join(edges.select(col("u").as("v")).distinct(), Seq("v"), "left_anti")
      .select(col("v"), col("v").as("lbl"))
    nonRoots.union(roots)
  }

  /** Dedup groups: connected components of the exact-Jaccard near-dup
    * graph, labeled by the minimum doc_id in the component (the survivor
    * a greedy dedup would keep). Vertices not in any near-dup pair are
    * their own singleton component and never enter the propagation.
    *
    * Path 1 (edge set driver-small — the common case at any corpus size,
    * since edges only exist between near-duplicates): collect edges, run
    * union-find locally, broadcast the label map back — one action, one
    * broadcast join, no iteration.
    *
    * Path 2 (giant dup graph): alternating large-star/small-star rounds
    * ([[largeSmallStarComponents]]) — O(log n) rounds w.h.p., each a
    * join+aggregate over a contracting edge set. */
  def dedupGroupsOf(docs: DataFrame,
      threshold: Double = JaccardThreshold): DataFrame =
    componentsOver(docs.select(col("doc_id")),
      ngramJaccardPairs(docs, threshold).select(col("doc_a"), col("doc_b")))

  /** Min-id component labels over an arbitrary undirected edge list —
    * the adjudicated-CC machinery behind [[dedupGroupsOf]], factored so
    * other pair streams (the mutual-kNN cluster query) run the identical
    * contraction. `universe` is a single-id-column frame naming every
    * vertex (isolated ones label themselves); `pairs0` any two-long-column
    * (a, b) frame. Output: (<id column>, component). */
  private[operators] def componentsOver(universe: DataFrame,
      pairs0: DataFrame): DataFrame = {
    val spark = universe.sparkSession
    import spark.implicits._
    val idCol = universe.columns.head
    val pairs = pairs0.toDF("doc_a", "doc_b").persist()
    val nEdges = pairs.count()
    val graphLabels: DataFrame =
      if (nEdges <= LocalEdgeLimit) {
        val edges = pairs.as[(Long, Long)].collect()
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { val (lo, hi) = if (ra < rb) (ra, rb) else (rb, ra)
            parent(hi) = lo }
        }
        val verts = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
        verts.map(v => (v, find(v))).toSeq.toDF("v", "lbl")
      } else largeSmallStarComponents(pairs)
    // pairs were materialized by count() and fully consumed above (local
    // collect, or the iteration's own persists) — release that cache.
    // Any cache INSIDE the pair stream (e.g. ngramJaccardPairs' hashed
    // shingle sets, ~12 MB at sf0.1) is deliberately retained: the other
    // dedup queries in a sweep reuse it via plan-cache matching.
    pairs.unpersist()
    // Broadcast only on the driver-small path; the giant-graph path joins
    // shuffle-side (labels there can exceed broadcast limits).
    val labelsSide =
      if (nEdges <= LocalEdgeLimit) broadcast(graphLabels) else graphLabels
    universe
      .join(labelsSide, col(idCol) === col("v"), "left")
      .select(col(idCol), coalesce(col("lbl"), col(idCol)).as("component"))
  }

  def dedupGroups(s: SparkSession, dir: String): DataFrame =
    corpusGroups(s, dir).orderBy(col("doc_id"))

  /** Dup-group SIZE HISTOGRAM — the audit a dedup owner reads before
    * shipping: how many components of each size, and the documents they
    * cover (n_docs column sums to the corpus). A fat tail here means a
    * template family is collapsing to one survivor each — worth a manual
    * look before deleting. Two map-side-combinable aggregates over the
    * component labels; the histogram key space is tiny. */
  def dedupGroupStats(s: SparkSession, dir: String): DataFrame =
    corpusGroups(s, dir)
      .groupBy(col("component")).agg(count(lit(1)).as("group_size"))
      .groupBy(col("group_size"))
      .agg(count(lit(1)).as("n_groups"))
      .select(col("group_size"), col("n_groups"),
        (col("group_size") * col("n_groups")).as("n_docs"))
      .orderBy(col("group_size"))

  /** Quality-aware survivor selection — the policy refinement real
    * curation applies on top of min-id canonicalization: within each
    * near-dup component, keep the doc with the MOST tokens (near-dups
    * differ by truncation/boilerplate, so longest ≈ most complete copy),
    * tie-broken by min doc_id so the choice is total and deterministic.
    * One row per component with the decision evidence (survivor, its
    * token count, component size).
    *
    * Shape at scale: the component labels come from the shared
    * [[dedupGroupsOf]] contraction; the ranking is a row_number window
    * partitioned BY COMPONENT — partitions are dup groups (bounded,
    * typically tiny), never the corpus, so the sort inside each window
    * partition is a few rows and the shuffle key is the component id. */
  def qualitySurvivor(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val toks = docs.select(col("doc_id"), tokenCount(col("text")).as("toks"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col("toks").desc, col("doc_id").asc)
    corpusGroups(s, dir)
      .join(toks, "doc_id")
      .withColumn("rn", row_number().over(w))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_docs"),
        max(when(col("rn") === 1, col("doc_id"))).as("survivor"),
        max(when(col("rn") === 1, col("toks"))).as("survivor_tokens"))
      .orderBy(col("component"))
  }

  /** Winnowing window width (w consecutive k-gram hashes per window)
    * and the document-frequency / min-shared guards. */
  val WinnowWindow = 4
  /** MOSS's "ignore very common" step: a fingerprint appearing in more
    * than this many docs is boilerplate, not evidence — and it is ALSO
    * the hot-bucket guard (the fingerprint join's bucket population is
    * bounded by construction, the LshSkew concern solved at the
    * algorithm layer). */
  val WinnowMaxDf = 50L
  val WinnowMinShared = 2L

  /** Winnowing fingerprint overlap (Schleimer, Wilkerson & Aiken 2003 —
    * the MOSS algorithm): per document, hash the ORDERED k-gram
    * sequence, slide a [[WinnowWindow]]-wide window and keep each
    * window's MINIMUM hash; the distinct selected values are the doc's
    * fingerprint set. Winnowing guarantees any shared run of ≥ w+k−1
    * tokens yields at least one shared fingerprint while storing only
    * ~2/(w+1) of all grams — the bounded-density overlap detector that
    * sits between exact span dedup (stores every span hash) and MinHash
    * (no locality guarantee). Tail windows shorter than w are kept
    * (frame clamps — both engines compute the same clamped variant).
    * Output: doc pairs sharing ≥ [[WinnowMinShared]] fingerprints with
    * the shared count, the MOSS-style plagiarism/overlap report.
    *
    * Shape at scale: per-row gram+hash kernels, a per-DOC window min
    * (partitions are documents, never the corpus), one df aggregate on
    * the fingerprint key, and the pair join is inverted-index-shaped
    * with bucket population capped by [[WinnowMaxDf]] — never n². */
  def winnowingOverlap(s: SparkSession, dir: String): DataFrame = {
    // persist: both sides of the self-join consume the capped table.
    // Deliberately retained for the session (the ngramJaccardPairs
    // policy): the returned plan is lazy, so an eager unpersist would
    // defeat the cache before the consumer's action; sweep harnesses
    // bound accumulation by clearing the cache between queries
    // (Verify), and the ContextCleaner reclaims dropped entries.
    val fps = winnowFingerprints(Tables.documents(s, dir)).persist()
    fps.as("a").join(fps.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_fp"))
      .filter(col("n_shared_fp") >= WinnowMinShared)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The PER-DOC winnowing pass (doc_id, distinct selected fp) — no
    * corpus-global state, so it is batch-boundary invariant and the
    * streaming decon twin can run it per micro-batch. */
  private[graft] def winnowFp0(docs: DataFrame): DataFrame = {
    val grams = docs.select(col("doc_id"),
        posexplode(graft.functions.GraftExpressions
          .shingleStrings(col("text"), ShingleSize)).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"),
        conv(substring(md5(col("gram")), 1, 8), 16, 10).cast("long").as("h"))
    val wWin = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow,
        WinnowWindow - 1)
    grams.select(col("doc_id"), min(col("h")).over(wWin).as("fp"))
      .distinct()
  }

  /** The winnowed, df-capped fingerprint table (doc_id, fp) — one body
    * behind the overlap report and the decontamination variant.
    * persist: the winnow kernel (gram explode + per-doc window min) is
    * the dominant cost and feeds BOTH the df aggregate and the capped
    * join — the ngramJaccardPairs `sets` precedent (retained for the
    * session; sweep harnesses clear between queries). */
  private[graft] def winnowFingerprints(docs: DataFrame): DataFrame = {
    val fp0 = winnowFp0(docs).persist()
    val df = fp0.groupBy(col("fp")).agg(count(lit(1)).as("df"))
    fp0.join(df, "fp").filter(col("df") <= WinnowMaxDf)
      .select(col("doc_id"), col("fp"))
  }

  /** Winnow decontamination run IN-STREAM — contamination checking at
    * ingest, the shape a training pipeline actually wants (reject a
    * benchmark-overlapping doc when it ARRIVES, not in a later global
    * sweep): the eval split's capped fingerprints and the boilerplate
    * DROPLIST (fps over the df cap on the static corpus) are frozen
    * once; each arriving micro-batch is winnowed PER-DOC (no corpus
    * state), anti-joined against the droplist, and evidence-counted
    * against the frozen eval set. Per-doc work against frozen state is
    * batch-boundary invariant, so the twin carries
    * text_winnow_decontaminate's oracle text VERBATIM. */
  def streamWinnowDeconQuery(spark: SparkSession, dir: String): DataFrame = {
    val staticDocs = Tables.documents(spark, dir)
    val isEval = substring(md5(col("doc_id").cast("string")), 1, 1) === "0"
    // The two frozen artifacts — the boilerplate droplist (df over cap)
    // and the eval fingerprint set (eval docs' fps minus the droplist) —
    // are pure functions of the static corpus and are declared frozen,
    // so they build once per corpus per JVM into StateCache parquet
    // state (the scorer-counts convention) from ONE winnow pass; every
    // drain reads them instead of re-winnowing the whole corpus per
    // invocation. Only the arriving batch's winnow — the serve — runs
    // per micro-batch.
    val frozenDir = graft.StateCache.stateDir(dir, "dedup/winnow_frozen",
        "graft_winfrz") { d =>
      val fp0Static = winnowFp0(staticDocs).persist()
      try {
        fp0Static
          .groupBy(col("fp")).agg(count(lit(1)).as("df"))
          .filter(col("df") > WinnowMaxDf).select(col("fp"))
          .write.parquet(s"$d/boiler")
        fp0Static.filter(isEval)
          .join(spark.read.parquet(s"$d/boiler"), Seq("fp"), "left_anti")
          .select(col("fp")).distinct()
          .write.parquet(s"$d/evalfps")
      } finally { fp0Static.unpersist(); () }
    }
    val boiler = spark.read.parquet(s"$frozenDir/boiler")
    val evalFps = spark.read.parquet(s"$frozenDir/evalfps")
    // Projection AND the eval-split filter live on the STREAM side:
    // inside foreachBatch the batch is a materialized RDD, so neither a
    // select nor a filter in the body can reach the parquet scan
    // (guide §2.3); on the stream they land in the source plan.
    val stream = Tables.stream(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .filter(!isEval)
    graft.streaming.MicroBatchPipeline.drainToSlices(stream, "swdecon") { batch =>
      winnowFp0(batch)
        .join(boiler, Seq("fp"), "left_anti")
        .join(evalFps, "fp")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared_fp"))
        .filter(col("n_shared_fp") >= WinnowMinShared)
    }.orderBy(col("doc_id"))
  }

  /** Winnowing-based DECONTAMINATION — the bounded-memory variant of
    * [[decontaminate]]: instead of indexing every eval shingle, only the
    * eval split's WINNOWED fingerprints (~2/(w+1) density) are checked,
    * trading the shared-run guarantee's granularity (runs ≥ w+k−1
    * tokens are still always caught) for an index a fraction of the
    * size — at 100 TB the difference between a benchmark-contamination
    * sweep that broadcasts and one that shuffles. Train docs sharing ≥
    * [[WinnowMinShared]] df-capped fingerprints with the eval split are
    * flagged with their evidence count. */
  def winnowDecontaminate(s: SparkSession, dir: String): DataFrame = {
    // persist: the eval union set and the train evidence join both
    // consume the capped table (retained for the session — the
    // winnowingOverlap note).
    val fps = winnowFingerprints(Tables.documents(s, dir)).persist()
    val isEval = substring(md5(col("doc_id").cast("string")), 1, 1) === "0"
    val evalFps = fps.filter(isEval).select(col("fp")).distinct()
    fps.filter(!isEval)
      .join(evalFps, "fp")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_fp"))
      .filter(col("n_shared_fp") >= WinnowMinShared)
      .orderBy(col("doc_id"))
  }

  /** JOINT text+embedding dedup groups — the STACKED decision real
    * curation pipelines run: MinHash/Jaccard catches lexical near-dups,
    * embedding cosine catches semantic ones (paraphrases, translations)
    * the n-gram tier cannot see, and the production decision unions the
    * two evidence streams before canonicalizing. The corpora share one
    * id space (embeddings.vec_id == documents.doc_id), so components
    * run over the UNION of both pair sets on the documents universe —
    * a doc with no embedding still participates through its text edges.
    *
    * Shape at scale: both pair generators are the existing bucketed
    * plans (PPJoin prefix filter; hyperplane-LSH buckets) — the union
    * adds no new shuffle class, and the shared [[componentsOver]]
    * contraction is the same O(log n) machinery every other component
    * query rides. */
  def jointDedupGroups(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val textPairs = corpusPairs(s, dir)
      .select(col("doc_a"), col("doc_b"))
    val embPairs = Similarity.lshCandidatePairScores(s, dir)
      .filter(col("score") >= Similarity.NearDupThreshold)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    componentsOver(docs.select(col("doc_id")),
        textPairs.unionByName(embPairs))
      .orderBy(col("doc_id"))
  }

  /** Leakage-safe train/eval split — the GROUP-AWARE assignment every
    * careful evaluation setup needs: a naive per-document hash split
    * puts near-duplicate documents on BOTH sides of the train/eval
    * boundary, so the eval set silently contains paraphrases of training
    * data and the measured loss is contaminated. The fix is standard
    * (The Pile, C4, DCLM all do a variant): split at the NEAR-DUP
    * COMPONENT level — every doc in a component goes to the split its
    * component representative hashes to, so no near-dup pair can ever
    * cross the boundary. Assignment is md5 of the component label
    * (first hex '0' → eval, ~1/16 — the corpus's eval-split convention,
    * lifted from doc granularity to component granularity), seed-free
    * and engine-reproducible.
    *
    * Shape at scale: the component labels come from the shared
    * [[dedupGroupsOf]] contraction (bucketed candidate generation,
    * O(log n) CC rounds); the split column is one per-row md5 on top of
    * the label — no extra shuffle beyond the labeling itself. */
  def leakageSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    splitByComponent(docs.select(col("doc_id")),
        corpusPairs(s, dir).select(col("doc_a"), col("doc_b")))
      .orderBy(col("doc_id"))
  }

  /** The component-md5 split projection over [[componentsOver]] output —
    * ONE body behind the three leakage-split tiers (text / embedding /
    * media), so the split rule cannot desynchronize across the matrix. */
  private[operators] def splitByComponent(universe: DataFrame,
      pairs: DataFrame): DataFrame = {
    val idCol = universe.columns.head
    componentsOver(universe, pairs)
      .select(col(idCol), col("component"),
        when(substring(md5(col("component").cast("string")), 1, 1) === "0",
          "eval").otherwise("train").as("split"))
  }

  /** Split-leakage AUDIT — the one-row readout a curation owner checks
    * before trusting an eval number: over the exact near-dup pair set,
    * how many pairs a NAIVE per-doc md5 split places across the
    * train/eval boundary (each one a contaminated eval doc) versus the
    * group-aware [[leakageSplit]] (provably zero — the audit MEASURES
    * the invariant rather than assuming it, so a regression in the
    * component labeling shows up here as a nonzero count), plus how many
    * docs the group-aware split reassigns relative to their naive
    * per-doc side (the cost of coherence).
    *
    * Shape at scale: the pair set is the PPJoin output (bucketed, never
    * n²) and is tiny relative to the corpus, so the two label joins
    * stream the corpus-sized label frame past it (AQE broadcasts the
    * pair side when it fits — no hint, same reasoning as the shingle
    * vocabulary join); the doc-level aggregate is one map-side-combined
    * pass over the labels. */
  def splitLeakageAudit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    def isEval(c: Column): Column =
      substring(md5(c.cast("string")), 1, 1) === "0"
    // ONE pair scan feeds both the component contraction and the pair
    // labels — and it is the shared corpusPairs state, so the audit reads
    // the same artifact the split queries label from (no persist needed:
    // both consumers scan the materialized parquet)
    val pairs = corpusPairs(s, dir)
      .select(col("doc_a"), col("doc_b"))
    val lab = componentsOver(docs.select(col("doc_id")), pairs)
      .select(col("doc_id"),
        isEval(col("doc_id")).as("doc_eval"),
        isEval(col("component")).as("comp_eval"))
    val pairLab = pairs
      .join(lab.select(col("doc_id").as("doc_a"), col("doc_eval").as("ea"),
        col("comp_eval").as("ca")), "doc_a")
      .join(lab.select(col("doc_id").as("doc_b"), col("doc_eval").as("eb"),
        col("comp_eval").as("cb")), "doc_b")
    val pairAgg = pairLab.agg(
      count(lit(1)).as("n_neardup_pairs"),
      coalesce(sum((col("ea") =!= col("eb")).cast("long")), lit(0L))
        .as("naive_cross_pairs"),
      coalesce(sum((col("ca") =!= col("cb")).cast("long")), lit(0L))
        .as("grouped_cross_pairs"))
    val docAgg = lab.agg(
      coalesce(sum((col("doc_eval") =!= col("comp_eval")).cast("long")),
        lit(0L)).as("n_docs_reassigned"))
    pairAgg.crossJoin(docAgg)
  }

  // ---------------------------------------------------------------------
  // Composed corpus-curation pipeline (the flagship training-data flow)
  // ---------------------------------------------------------------------

  /** End-to-end corpus curation as ONE declared query: near-dup dedup
    * (keep each component's canonical min-id doc) composed with quality
    * gating (alpha ratio + token count) — the standard
    * dedupe-then-filter flow a pretraining corpus goes through, here as
    * a single lazily-planned DataFrame so Catalyst sees the whole
    * pipeline (the quality scan prunes columns independently of the
    * dedup join; survivors join is one broadcast of the tiny label map). */
  def curationPipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    val docs = Tables.documents(s, dir)
    val canonical = corpusGroups(s, dir)
      .filter(col("doc_id") === col("component"))
      .select(col("doc_id"))
    docs.join(canonical, "doc_id")
      .filter(
        (alphaChars(col("text")).cast("double") / length(col("text"))) >= 0.7 &&
          tokenCount(col("text")) >= 20)
      .select(col("doc_id"), col("lang"), col("source"),
        tokenCount(col("text")).as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------------
  // Decontamination: training docs vs an evaluation/benchmark set
  // ---------------------------------------------------------------------

  /** A training doc is contaminated when it shares at least this many
    * distinct 3-gram shingles with the evaluation set. */
  val MinSharedShingles = 5

  /** Benchmark-overlap decontamination — the training-data stage that
    * removes documents leaking evaluation content. The eval split is a
    * deterministic md5 hash sample (≈1/16 of the corpus here, standing in
    * for an external benchmark table); a training doc's contamination
    * score is how many of its distinct shingles appear ANYWHERE in the
    * eval set.
    *
    * Shape at scale: one explode + equi-join on the 8-byte shingle hash +
    * per-doc count — the ngram index family's shuffle, linear in corpus
    * shingles. A real benchmark set (thousands of docs, not a corpus
    * fraction) makes the eval shingle side broadcast-small, deleting the
    * shuffle entirely — same code path with the hint. */
  def decontaminate(docs: DataFrame,
      minShared: Int = MinSharedShingles): DataFrame = {
    val isEval = substring(md5(col("doc_id").cast("string")), 1, 1) === "0"
    // persist: three subplans consume this frame (eval shingles, training
    // explode, training id list) — uncached, the scan + shingle kernel
    // would run three times. The cached projection is EXACTLY the shape
    // minhashLshPairs retains ((doc_id, hv), is_eval derived on top), so
    // a query sweep shares one cache entry instead of holding two
    // full-corpus shingle caches.
    val sets = docs.select(col("doc_id"), shingleSet(col("text")).as("hv"))
      .persist()
      .withColumn("is_eval", isEval)
    val evalShingles = sets.filter(col("is_eval"))
      .select(explode(col("hv")).as("s")).distinct()
    val shared = sets.filter(!col("is_eval"))
      .select(col("doc_id"), explode(col("hv")).as("s"))
      .join(evalShingles, "s")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    sets.filter(!col("is_eval")).select(col("doc_id"))
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) >= minShared)
          .cast("long").as("contaminated"))
      .orderBy(col("doc_id"))
  }

  def decontaminateQuery(s: SparkSession, dir: String): DataFrame =
    decontaminate(Tables.documents(s, dir))

  /** Shared decontamination CTE blocks — one SQL text serving the
    * text_decontaminate oracle and the curation funnel, so the two
    * replays cannot drift. Split in two because the funnel already gets
    * `w`/`sh` (identical definitions) from [[jaccardPairsCte]]. */
  private val deconShingleCtes: String =
    """w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s
      |       FROM w, UNNEST(generate_series(1, len(toks)-2)) AS t(i)
      |       WHERE len(toks) >= 3)""".stripMargin

  private val deconMatchCtes: String =
    """ev AS (SELECT DISTINCT s FROM sh
      |       WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'),
      |tr AS (SELECT doc_id FROM documents
      |       WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> '0'),
      |shared AS (SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
      |           FROM sh JOIN ev USING (s)
      |           WHERE sh.doc_id IN (SELECT doc_id FROM tr)
      |           GROUP BY 1)""".stripMargin

  /** The CURATION FUNNEL — the one-row operational readout a corpus owner
    * watches per run: how many documents (and finally tokens) survive
    * each stage of train-split → quality gate → decontamination →
    * dedup-canonical. Stages are cumulative (each counts survivors of all
    * previous), so a regression in any stage moves exactly one boundary.
    * All columns are integer counts/sums — order-independent and
    * bit-reproducible. The component labels, gate flags, and
    * contamination counts are the same subplans the individual declared
    * queries run (definitional consistency); one final single-row
    * aggregate joins them. */
  def curationFunnel(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val isEval = substring(md5(col("doc_id").cast("string")), 1, 1) === "0"
    val flags = QualityGate.gopherFlags(docs).select(col("doc_id"), col("keep"))
    val contaminated = decontaminate(docs)
      .select(col("doc_id"), col("contaminated"))
    val comps = corpusGroups(s, dir)
    val surviving = !col("is_eval") && col("keep") &&
      coalesce(col("contaminated"), lit(0L)) === 0 &&
      col("component") === col("doc_id")
    docs
      .select(col("doc_id"), isEval.as("is_eval"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("toks"))
      .join(flags, "doc_id")
      .join(contaminated, Seq("doc_id"), "left") // eval docs: no decon row
      .join(comps, "doc_id")
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(!col("is_eval"), 1L).otherwise(0L)).as("n_train"),
        sum(when(!col("is_eval") && col("keep"), 1L).otherwise(0L))
          .as("n_gate"),
        sum(when(!col("is_eval") && col("keep") &&
          coalesce(col("contaminated"), lit(0L)) === 0, 1L).otherwise(0L))
          .as("n_decon"),
        sum(when(surviving, 1L).otherwise(0L)).as("n_canonical"),
        sum(when(surviving, col("toks")).otherwise(0L))
          .as("surviving_tokens"))
  }

  // ---------------------------------------------------------------------

  import graft.QuerySpec
  import graft.QuerySpec.withOracle

  /** Recursive-CC oracle suffix over a pair CTE named `np(a, b)`:
    * edges/r/comp with the given seed table and id column — ONE text
    * behind the component-split and joint-groups oracles (the
    * winnowFpCtes no-drift convention). */
  private[operators] def ccCompCteSql(seedTable: String,
      idCol: String): String =
    s"""edges(a, b) AS (SELECT a, b FROM np
       |                UNION ALL SELECT b, a FROM np),
       |r(v, lbl) AS (
       |  SELECT $idCol, $idCol FROM $seedTable
       |  UNION
       |  SELECT e.b, r.lbl FROM r JOIN edges e ON e.a = r.v),
       |comp AS (SELECT v AS $idCol, CAST(MIN(lbl) AS BIGINT) AS component
       |         FROM r GROUP BY v)""".stripMargin

  /** The component-md5 split projection over `comp` — the SQL half of
    * [[splitByComponent]], shared by all three leakage-split oracles. */
  private[operators] def componentSplitSql(idCol: String): String =
    s"""SELECT $idCol, component,
       |  CASE WHEN substr(md5(CAST(component AS VARCHAR)), 1, 1) = '0'
       |    THEN 'eval' ELSE 'train' END AS split
       |FROM comp ORDER BY $idCol""".stripMargin

  /** The winnow-decon oracle text, shared verbatim by the batch query
    * and its ingest-time streaming twin. */
  private val winnowDeconOracleSql: String =
    s"""WITH $winnowFpCtes,
       |ef AS (SELECT DISTINCT fp FROM fps
       |       WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0')
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_fp
       |FROM fps JOIN ef USING (fp)
       |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> '0'
       |GROUP BY 1 HAVING COUNT(*) >= $WinnowMinShared
       |ORDER BY doc_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    withOracle("dedup_exact", exact,
      """SELECT md5(text) AS content_hash, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  MIN(doc_id) AS keeper
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin),
    withOracle("dedup_ngram_jaccard", ngramJaccard, jaccardOracleSql),
    // Exact containment over the same shingle semantics: the oracle needs
    // no candidate mechanics, only the definition — the Spark side's
    // prefix scheme must therefore be COMPLETE, which is what this
    // differential check proves on every run.
    withOracle("dedup_containment", containment,
      s"""WITH $containmentPairsCte
         |SELECT doc_a, doc_b, n_a, n_b, containment
         |FROM cpairs ORDER BY doc_a, doc_b""".stripMargin),
    // The dedup decision over the SAME pair CTE (shared verbatim with the
    // pair oracle — the two cannot drift): drop the contained side,
    // equal-size ties keep the min id.
    withOracle("dedup_containment_dedup", containmentDedup,
      s"""WITH $containmentPairsCte,
         |drops AS (SELECT
         |    CASE WHEN n_a < n_b THEN doc_a ELSE doc_b END AS doc_id,
         |    CASE WHEN n_a < n_b THEN doc_b ELSE doc_a END AS container
         |  FROM cpairs)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_containers,
         |  MIN(container) AS kept_in
         |FROM drops GROUP BY 1 ORDER BY doc_id""".stripMargin),
    // Exact-pair counts replay from (hash, source) group sizes alone —
    // the oracle never materializes doc pairs either; near-dup counts ride
    // the shared jp CTE.
    withOracle("dedup_cross_source_overlap", crossSourceOverlap,
      s"""WITH $jaccardPairsCte,
         |m AS (SELECT doc_id, source, md5(text) AS h FROM documents),
         |hs AS (SELECT h, source, count(*) AS c FROM m GROUP BY 1, 2),
         |ex AS (
         |  SELECT a.source AS src_a, b.source AS src_b, SUM(a.c * b.c) AS n
         |  FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
         |  GROUP BY 1, 2
         |  UNION ALL
         |  SELECT source, source, SUM(c * (c - 1) // 2) FROM hs GROUP BY 1, 2),
         |exs AS (SELECT src_a, src_b, CAST(SUM(n) AS BIGINT) AS n_exact_pairs
         |        FROM ex GROUP BY 1, 2 HAVING SUM(n) > 0),
         |nd AS (SELECT LEAST(ma.source, mb.source) AS src_a,
         |              GREATEST(ma.source, mb.source) AS src_b,
         |              CAST(COUNT(*) AS BIGINT) AS n_neardup_pairs
         |       FROM jp JOIN m ma ON ma.doc_id = jp.doc_a
         |               JOIN m mb ON mb.doc_id = jp.doc_b
         |       GROUP BY 1, 2)
         |SELECT COALESCE(exs.src_a, nd.src_a) AS src_a,
         |       COALESCE(exs.src_b, nd.src_b) AS src_b,
         |       CAST(COALESCE(n_exact_pairs, 0) AS BIGINT) AS n_exact_pairs,
         |       CAST(COALESCE(n_neardup_pairs, 0) AS BIGINT) AS n_neardup_pairs
         |FROM exs FULL OUTER JOIN nd
         |  ON exs.src_a = nd.src_a AND exs.src_b = nd.src_b
         |ORDER BY 1, 2""".stripMargin),
    withOracle("dedup_minhash_lsh", minhashLsh, jaccardOracleSql),
    // String shingles stand in for the engine's 64-bit hashed shingles:
    // distinct-set counts are hash-invariant (the jaccardPairsCte
    // precedent). md5-prefix eval split replays bit-for-bit in DuckDB.
    withOracle("text_decontaminate", decontaminateQuery,
      s"""WITH $deconShingleCtes,
         |$deconMatchCtes
         |SELECT t.doc_id, COALESCE(s.n_shared, 0) AS n_shared,
         |  CAST(COALESCE(s.n_shared, 0) >= $MinSharedShingles AS BIGINT) AS contaminated
         |FROM tr t LEFT JOIN shared s ON s.doc_id = t.doc_id
         |ORDER BY t.doc_id""".stripMargin),
    withOracle("dedup_simhash", simhash,
      s"""WITH toks AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents),
         |th AS (SELECT doc_id, (concat('0x', substr(md5(t), 1, 16)))::UBIGINT AS h FROM toks),
         |bits AS (SELECT doc_id, b,
         |    SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
         |  FROM th, UNNEST(generate_series(0, 63)) AS g(b) GROUP BY doc_id, b),
         |sh AS (SELECT doc_id,
         |    CAST(SUM(CASE WHEN vote > 0 THEN (1::UBIGINT << b)::HUGEINT ELSE 0 END) AS UBIGINT) AS sim
         |  FROM bits GROUP BY doc_id)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sim, b.sim)) <= $SimhashMaxHamming
         |ORDER BY doc_a, doc_b""".stripMargin),
    withOracle("dedup_groups", dedupGroups,
      s"""WITH RECURSIVE
         |$jaccardPairsCte,
         |edges(a, b) AS (SELECT doc_a, doc_b FROM jp
         |                UNION ALL SELECT doc_b, doc_a FROM jp),
         |r(v, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.b, r.lbl FROM r JOIN edges e ON e.a = r.v)
         |SELECT v AS doc_id, CAST(MIN(lbl) AS BIGINT) AS component
         |FROM r GROUP BY v ORDER BY doc_id""".stripMargin),
    withOracle("text_curation_funnel", curationFunnel,
      s"""WITH RECURSIVE
         |$jaccardPairsCte,
         |edges(a, b) AS (SELECT doc_a, doc_b FROM jp
         |                UNION ALL SELECT doc_b, doc_a FROM jp),
         |r(v, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.b, r.lbl FROM r JOIN edges e ON e.a = r.v),
         |comp AS (SELECT v AS doc_id, MIN(lbl) AS component FROM r GROUP BY v),
         |$deconMatchCtes,
         |${QualityGate.gateCteSql},
         |base AS (SELECT doc_id,
         |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0' AS is_eval,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
         |  FROM documents)
         |SELECT
         |  CAST(COUNT(*) AS BIGINT) AS n_total,
         |  CAST(SUM(CASE WHEN NOT is_eval THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         |  CAST(SUM(CASE WHEN NOT is_eval AND keep THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_gate,
         |  CAST(SUM(CASE WHEN NOT is_eval AND keep
         |    AND COALESCE(s.n_shared, 0) < $MinSharedShingles
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_decon,
         |  CAST(SUM(CASE WHEN NOT is_eval AND keep
         |    AND COALESCE(s.n_shared, 0) < $MinSharedShingles
         |    AND c.component = b.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_canonical,
         |  CAST(SUM(CASE WHEN NOT is_eval AND keep
         |    AND COALESCE(s.n_shared, 0) < $MinSharedShingles
         |    AND c.component = b.doc_id THEN toks ELSE 0 END) AS BIGINT)
         |    AS surviving_tokens
         |FROM base b
         |JOIN gate g USING (doc_id)
         |LEFT JOIN shared s USING (doc_id)
         |JOIN comp c USING (doc_id)""".stripMargin),
    // Winnowing replay: ordered grams with positions via generate_series
    // (1-based vs posexplode's 0-based — positions only order the
    // window, so the clamped window mins agree), md5-derived 32-bit
    // hashes, the same df guard and min-shared threshold.
    withOracle("dedup_winnowing", winnowingOverlap,
      s"""WITH $winnowFpCtes
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(COUNT(*) AS BIGINT) AS n_shared_fp
         |FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= $WinnowMinShared
         |ORDER BY doc_a, doc_b""".stripMargin),
    // Winnowed decon: the shared fps CTE, eval union set, evidence count.
    withOracle("text_winnow_decontaminate", winnowDecontaminate,
      winnowDeconOracleSql),
    // Ingest-time twin: per-doc winnowing against the frozen droplist
    // and eval set is batch-boundary invariant — one oracle text.
    QuerySpec("stream_winnow_decon", streamWinnowDeconQuery,
      Some(() => winnowDeconOracleSql)),
    // Joint components: both pair streams' oracle CTEs side by side (no
    // name collision — w/sh/cnt/inter/jp vs planes/dots/buckets/salted/
    // cand/pair_scores), edges unioned before the same recursive CC.
    withOracle("dedup_joint_groups", jointDedupGroups,
      s"""${Similarity.lshPairScoresCtes.replaceFirst("^WITH ",
             "WITH RECURSIVE ")},
         |$jaccardPairsCte,
         |np0 AS (SELECT vec_a AS a, vec_b AS b FROM pair_scores
         |        WHERE score >= ${Similarity.NearDupThreshold}),
         |np AS (SELECT a, b FROM np0
         |       UNION SELECT doc_a, doc_b FROM jp),
         |${ccCompCteSql("documents", "doc_id")}
         |SELECT doc_id, component FROM comp ORDER BY doc_id""".stripMargin),
    // The recursive-CTE component labels + the component-md5 split rule;
    // md5 over the decimal component string is byte-identical in both
    // engines (the text_quality_sample convention at component grain).
    withOracle("text_leakage_split", leakageSplit,
      s"""WITH RECURSIVE
         |$jaccardPairsCte,
         |np AS (SELECT doc_a AS a, doc_b AS b FROM jp),
         |${ccCompCteSql("documents", "doc_id")}
         |${componentSplitSql("doc_id")}""".stripMargin),
    // Pair aggregate over jp joined to the doc/component split labels,
    // doc aggregate over the labels alone; grouped_cross_pairs MEASURES
    // the zero the component-grain split guarantees.
    withOracle("text_split_leakage_audit", splitLeakageAudit,
      s"""WITH RECURSIVE
         |$jaccardPairsCte,
         |np AS (SELECT doc_a AS a, doc_b AS b FROM jp),
         |${ccCompCteSql("documents", "doc_id")},
         |lab AS (SELECT doc_id,
         |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0' AS doc_eval,
         |    substr(md5(CAST(component AS VARCHAR)), 1, 1) = '0' AS comp_eval
         |  FROM comp),
         |pa AS (SELECT
         |    CAST(COUNT(*) AS BIGINT) AS n_neardup_pairs,
         |    CAST(COALESCE(SUM(CASE WHEN la.doc_eval <> lb.doc_eval
         |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS naive_cross_pairs,
         |    CAST(COALESCE(SUM(CASE WHEN la.comp_eval <> lb.comp_eval
         |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS grouped_cross_pairs
         |  FROM jp JOIN lab la ON jp.doc_a = la.doc_id
         |          JOIN lab lb ON jp.doc_b = lb.doc_id),
         |da AS (SELECT CAST(COALESCE(SUM(CASE WHEN doc_eval <> comp_eval
         |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_docs_reassigned
         |  FROM lab)
         |SELECT pa.*, da.* FROM pa, da""".stripMargin),
    withOracle("dedup_threshold_sweep", dedupThresholdSweep,
      s"""WITH ${jaccardPairsCteAt(SweepThresholds.min)},
         |th AS (SELECT UNNEST([${SweepThresholds.map(t => s"$t::DOUBLE").mkString(", ")}])
         |       AS threshold)
         |SELECT th.threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(COUNT(DISTINCT jp.doc_b) AS BIGINT) AS n_docs_dropped
         |FROM jp JOIN th ON jp.jaccard >= th.threshold
         |GROUP BY th.threshold ORDER BY th.threshold""".stripMargin),
    // The recursive-CTE component labels + the same longest-then-min-id
    // window Spark runs; toks replays tokenCount as len(string_split).
    withOracle("dedup_quality_survivor", qualitySurvivor,
      s"""WITH RECURSIVE
         |$jaccardPairsCte,
         |edges(a, b) AS (SELECT doc_a, doc_b FROM jp
         |                UNION ALL SELECT doc_b, doc_a FROM jp),
         |r(v, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.b, r.lbl FROM r JOIN edges e ON e.a = r.v),
         |comp AS (SELECT v AS doc_id, CAST(MIN(lbl) AS BIGINT) AS component
         |         FROM r GROUP BY v),
         |t AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
         |  FROM documents),
         |ranked AS (SELECT c.component, c.doc_id, t.toks,
         |    ROW_NUMBER() OVER (PARTITION BY c.component
         |      ORDER BY t.toks DESC, c.doc_id ASC) AS rn
         |  FROM comp c JOIN t USING (doc_id))
         |SELECT component, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  MAX(CASE WHEN rn = 1 THEN doc_id END) AS survivor,
         |  MAX(CASE WHEN rn = 1 THEN toks END) AS survivor_tokens
         |FROM ranked GROUP BY component ORDER BY component""".stripMargin),
    withOracle("dedup_group_stats", dedupGroupStats,
      s"""WITH RECURSIVE
         |$jaccardPairsCte,
         |edges(a, b) AS (SELECT doc_a, doc_b FROM jp
         |                UNION ALL SELECT doc_b, doc_a FROM jp),
         |r(v, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.b, r.lbl FROM r JOIN edges e ON e.a = r.v),
         |comp AS (SELECT v AS doc_id, MIN(lbl) AS component FROM r GROUP BY v),
         |sizes AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS group_size
         |          FROM comp GROUP BY 1)
         |SELECT group_size, CAST(COUNT(*) AS BIGINT) AS n_groups,
         |  CAST(group_size * COUNT(*) AS BIGINT) AS n_docs
         |FROM sizes GROUP BY group_size ORDER BY group_size""".stripMargin),
    withOracle("text_curation_pipeline", curationPipeline,
      s"""WITH RECURSIVE
         |$jaccardPairsCte,
         |edges(a, b) AS (SELECT doc_a, doc_b FROM jp
         |                UNION ALL SELECT doc_b, doc_a FROM jp),
         |r(v, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.b, r.lbl FROM r JOIN edges e ON e.a = r.v),
         |comp AS (SELECT v AS doc_id, MIN(lbl) AS component FROM r GROUP BY v)
         |SELECT d.doc_id, d.lang, d.source,
         |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
         |FROM documents d JOIN comp c ON d.doc_id = c.doc_id
         |WHERE c.component = d.doc_id
         |  AND CAST(length(regexp_replace(d.text, '[^a-z]', '', 'g')) AS DOUBLE)
         |      / length(d.text) >= 0.7
         |  AND len(string_split(d.text, ' ')) >= 20
         |ORDER BY d.doc_id""".stripMargin))
}
