package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}
import graft.functions.TextFunctions._

/** Rule-based corpus gating — the two audit tables a pretraining-data
  * owner runs before anything expensive touches the corpus:
  *
  *   - [[gopherRules]]: the Gopher-family per-document quality rules
  *     (token-count bounds, mean word length, type-token ratio, stopword
  *     presence) with one flag column PER RULE plus the conjunctive keep
  *     decision — the per-rule flags are what makes the table an audit
  *     artifact rather than a filter (a corpus owner reads rejection
  *     rates per rule before trusting the gate).
  *   - [[contaminationScore]]: per-document n-gram overlap with the eval
  *     split — the graded companion to the binary decontamination filter
  *     (`text_decontaminate` drops docs over a threshold; this reports
  *     the full distribution so the threshold can be chosen).
  *
  * Scale shape: [[gopherRules]] is a single narrow scan — every rule is a
  * codegen'd Column over one tokenize pass (subexpression elimination
  * collapses the repeated kernels), no shuffle except the presentation
  * sort. [[contaminationScore]] is the ngram-index family's plan: explode
  * distinct grams, one map-side-combined groupBy, the eval gram set
  * joined on the already-shuffled gram key (the eval split is ~1/16 of
  * the corpus — NOT broadcast-small at 100 TB, so join strategy is left
  * to AQE; the bloom-prefilter pattern of text_bloom_decontaminate
  * applies if the join ever dominates).
  *
  * Ratios are single divisions of exact integer counts (bit-reproducible
  * across partitionings and engines), so every rule boundary compares
  * identically in Spark and the DuckDB oracle.
  */
object QualityGate {

  /** Token-count bounds (Gopher uses 50..100k words; scaled to this
    * corpus's 10..99-token documents so the rule discriminates). */
  val MinTokens = 20L
  val MaxTokens = 1000L

  /** Mean-word-length bounds (Gopher: 3..10 chars). */
  val MinMeanTokenLen = 3.0
  val MaxMeanTokenLen = 10.0

  /** Type-token-ratio floor — the repetition guard (a doc that repeats
    * a tiny vocabulary scores near 0). */
  val MinTtr = 0.2

  /** Minimum stopword occurrences — the "looks like prose" check. */
  val MinStopHits = 2L

  /** Per-rule flags + keep decision over any (doc_id, text) frame.
    * Factored from the declared query so planted-fixture tests exercise
    * the exact production expressions. */
  private[graft] def gopherFlags(docs: DataFrame): DataFrame = {
    val nTok = tokenCount(col("text"))
    val meanLen = tokenChars(col("text")).cast("double") / nTok
    val ttr = distinctTokenCount(col("text")).cast("double") / nTok
    val nStop = stopwordCount(col("text"))
    val rLen = nTok >= MinTokens && nTok <= MaxTokens
    val rMean = meanLen >= MinMeanTokenLen && meanLen <= MaxMeanTokenLen
    val rTtr = ttr > MinTtr
    val rStop = nStop >= MinStopHits
    docs.select(
      col("doc_id"),
      nTok.as("n_tokens"),
      meanLen.as("mean_tok_len"),
      ttr.as("ttr"),
      nStop.as("n_stop"),
      rLen.as("r_len"),
      rMean.as("r_mean_len"),
      rTtr.as("r_ttr"),
      rStop.as("r_stop"),
      (rLen && rMean && rTtr && rStop).as("keep"))
  }

  def gopherRules(s: SparkSession, dir: String): DataFrame =
    gopherFlags(Tables.documents(s, dir)).orderBy(col("doc_id"))

  /** Contamination n-gram width IS the decontamination tier's shingle
    * width (same kernel), so the graded score and the binary filter
    * measure the same overlap signal by construction. */
  val ContaminationGram: Int = Dedup.ShingleSize

  /** Graded contamination over any (doc_id, text) frame: for each doc
    * NOT satisfying `isEval`, the fraction of its DISTINCT
    * [[ContaminationGram]]-grams that appear anywhere in the eval split.
    * Docs shorter than the gram width have no grams and drop out (they
    * cannot be contaminated by n-gram evidence).
    *
    * Uses the dedup tier's HASHED shingle-set kernel, not gram strings:
    * ~10x less shuffle/cache volume, and distinct-hash counts equal
    * distinct-string counts (the codebase's hash-invariance contract the
    * decontaminate oracle already relies on). The cached projection is
    * the exact shape [[Dedup.decontaminate]] persists, so a query sweep
    * shares one cache entry; persist is required regardless — the eval
    * gram set and the train-side join both consume it. */
  private[graft] def contaminationOn(docs: DataFrame, isEval: Column): DataFrame = {
    val sets = docs.select(col("doc_id"),
        Dedup.shingleSet(col("text")).as("hv"))
      .persist()
      .withColumn("is_eval", isEval)
    val grams = sets.select(col("doc_id"), col("is_eval"),
      explode(col("hv")).as("g"))
    val evalGrams = grams.filter(col("is_eval"))
      .select(col("g")).distinct()
      .withColumn("in_eval", lit(1))
    grams.filter(!col("is_eval"))
      .join(evalGrams, Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("in_eval") === 1, 1L).otherwise(0L)).as("n_eval_hits"))
      .select(col("doc_id"), col("n_grams"), col("n_eval_hits"),
        (col("n_eval_hits").cast("double") / col("n_grams"))
          .as("contamination"))
  }

  /** Declared query: the corpus's eval split is the same md5(doc_id)
    * 1/16 bucket the data-card and decontamination queries use, so all
    * three audit artifacts describe one split. */
  def contaminationScore(s: SparkSession, dir: String): DataFrame =
    contaminationOn(
      Tables.documents(s, dir),
      substring(md5(col("doc_id").cast("string")), 1, 1) === "0")
      .orderBy(col("doc_id"))

  /** Quality bands for [[qualitySample]] (lexical-diversity boundaries
    * chosen so the synthetic corpus splits into three real bands). */
  val HighTtr = 0.55
  val MidTtr = 0.40

  /** Per-band keep rates out of 65536 md5 draws: keep all high-quality
    * docs, half the mid band, an eighth of the low band. */
  val KeepHigh = 65536L
  val KeepMid = 32768L
  val KeepLow = 8192L

  /** Quality-CONDITIONED sampling — the mixture-weighting step between a
    * hard gate and uniform sampling (the DCLM-family recipe): rather than
    * dropping low-quality documents outright, each quality band keeps a
    * different deterministic fraction, preserving some low-band mass for
    * diversity while upweighting high-quality prose. The draw is the
    * first 16 bits of md5(doc_id) — seed-free, engine-reproducible, and
    * independent of the band signal, so within a band the sample is
    * unbiased. One narrow codegen scan, no shuffle but the presentation
    * sort. */
  def qualitySample(s: SparkSession, dir: String): DataFrame = {
    val ttr = distinctTokenCount(col("text")).cast("double") /
      tokenCount(col("text"))
    val band = when(ttr >= HighTtr, "high")
      .when(ttr >= MidTtr, "mid").otherwise("low")
    val draw = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("long")
    val rate = when(band === "high", KeepHigh)
      .when(band === "mid", KeepMid).otherwise(KeepLow)
    Tables.documents(s, dir)
      .filter(draw < rate)
      .select(col("doc_id"), band.as("band"), ttr.as("ttr"))
      .orderBy(col("doc_id"))
  }

  /** Per-source sample cap: small enough to subset every source at every
    * test scale (min source size is 25 docs at sf0.001). */
  val BalancedCapPerSource = 10

  /** Domain-BALANCED sampling — the mixture-flattening step a pretraining
    * mix applies when one crawl source dwarfs the rest: keep at most
    * [[BalancedCapPerSource]] docs per source, chosen by md5(doc_id)
    * order (a seed-free deterministic shuffle, so the within-source pick
    * is unbiased and engine-reproducible), tie-broken by doc_id so the
    * selection is total even under an md5 collision. Emits the
    * within-source rank — the evidence column a mix owner uses to widen
    * the cap without re-sampling (rank <= newCap IS the wider sample,
    * no fresh draw).
    *
    * Shape at scale: one shuffle on source, then a per-source sort. The
    * window never sees the corpus in one partition UNLESS one source
    * dominates — for that shape swap in the bounded
    * [[graft.functions.TopKAggregate.topkByScore]] aggregate (heap per
    * key, no full sort, as `rel_topk_grouped` runs it), which serves the
    * same order statistic without the skew exposure; at the declared
    * cap the window's determinism (explicit tie-break) is worth more. */
  def balancedSample(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= BalancedCapPerSource)
      .orderBy(col("source"), col("rk"))
  }

  /** The gate run IN-STREAM: each micro-batch of arriving documents is
    * scored and filtered by the same [[gopherFlags]] expressions, and
    * survivors append to batch-id-keyed overwrite dirs (idempotent
    * replay — the [[graft.streaming.StreamingDedup]] sink pattern). The
    * rules are per-row and stateless, so batch boundaries cannot change
    * the result: the drained output equals the batch [[gopherRules]]
    * restricted to keep=true, which is exactly what the oracle replays.
    * This is how a 100 TB ingest actually runs the gate — documents are
    * scored as they arrive, not in a nightly rescan. */
  def streamQualityGateQuery(spark: SparkSession, dir: String): DataFrame = {
    val stream = Tables.stream(spark, dir, "documents")
      // stream-side projection — the foreachBatch scan-pruning rule
      .select(col("doc_id"), col("text"))
    graft.streaming.MicroBatchPipeline.drainToSlices(stream, "sqgate") { batch =>
      gopherFlags(batch)
        .filter(col("keep"))
        .select(col("doc_id"), col("n_tokens"), col("mean_tok_len"),
          col("ttr"), col("n_stop"))
    }.orderBy(col("doc_id"))
  }

  import graft.QuerySpec.withOracle

  private def inList(words: Seq[String]) = words.map(w => s"'$w'").mkString(", ")

  /** The rule-input projection (one row per doc with the four rule
    * signals) — ONE SQL text behind the gate, stream-gate, and funnel
    * oracles so the signal definitions cannot drift. */
  private def ruleInputsSql: String =
    s"""SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(length(replace(text, ' ', '')) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS mean_tok_len,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS ttr,
       |    CAST(len(list_filter(string_split(text, ' '),
       |        x -> x IN (${inList(stopwords)}))) AS BIGINT) AS n_stop
       |  FROM documents""".stripMargin

  /** The conjunctive keep predicate over the rule-input columns — shared
    * by every SQL replay of the decision. */
  private def keepSql: String =
    s"""(n_tokens BETWEEN $MinTokens AND $MaxTokens)
       |    AND (mean_tok_len BETWEEN $MinMeanTokenLen AND $MaxMeanTokenLen)
       |    AND ttr > $MinTtr AND n_stop >= $MinStopHits""".stripMargin

  /** The gate as a named SQL CTE (`gate(doc_id, keep)`) — spliced into
    * the curation-funnel oracle in [[Dedup]] so the two replays of the
    * rule set cannot drift. */
  private[operators] def gateCteSql: String =
    s"""gate AS (SELECT doc_id, $keepSql AS keep
       |  FROM ($ruleInputsSql) t)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    withOracle("text_gopher_rules", gopherRules,
      s"""WITH t AS ($ruleInputsSql)
         |SELECT doc_id, n_tokens, mean_tok_len, ttr, n_stop,
         |  n_tokens BETWEEN $MinTokens AND $MaxTokens AS r_len,
         |  mean_tok_len BETWEEN $MinMeanTokenLen AND $MaxMeanTokenLen AS r_mean_len,
         |  ttr > $MinTtr AS r_ttr,
         |  n_stop >= $MinStopHits AS r_stop,
         |  $keepSql AS keep
         |FROM t ORDER BY doc_id""".stripMargin),
    withOracle("text_quality_sample", qualitySample,
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |      / len(string_split(text, ' ')) AS ttr,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT AS draw
         |  FROM documents),
         |b AS (SELECT doc_id, ttr, draw,
         |    CASE WHEN ttr >= $HighTtr THEN 'high'
         |         WHEN ttr >= $MidTtr THEN 'mid' ELSE 'low' END AS band
         |  FROM t)
         |SELECT doc_id, band, ttr FROM b
         |WHERE draw < CASE band WHEN 'high' THEN $KeepHigh
         |  WHEN 'mid' THEN $KeepMid ELSE $KeepLow END
         |ORDER BY doc_id""".stripMargin),
    // Same md5 draw order + explicit doc_id tie-break; md5 over the
    // decimal doc_id string is byte-identical in both engines.
    withOracle("text_balanced_sample", balancedSample,
      s"""WITH ranked AS (SELECT doc_id, source,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
         |  FROM documents)
         |SELECT doc_id, source, rk FROM ranked
         |WHERE rk <= $BalancedCapPerSource
         |ORDER BY source, rk""".stripMargin),
    withOracle("stream_quality_gate", streamQualityGateQuery,
      s"""WITH t AS ($ruleInputsSql)
         |SELECT doc_id, n_tokens, mean_tok_len, ttr, n_stop
         |FROM t
         |WHERE $keepSql
         |ORDER BY doc_id""".stripMargin),
    withOracle("text_contamination_score", contaminationScore,
      """WITH w AS (SELECT doc_id,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0' AS is_eval,
        |    string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT DISTINCT doc_id, is_eval,
        |        toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram
        |      FROM w, UNNEST(generate_series(1, len(toks) - 2)) AS t(i)
        |      WHERE len(toks) >= 3),
        |ev AS (SELECT DISTINCT gram FROM g WHERE is_eval)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(CASE WHEN gram IN (SELECT gram FROM ev)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_eval_hits,
        |  CAST(SUM(CASE WHEN gram IN (SELECT gram FROM ev)
        |    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS contamination
        |FROM g WHERE NOT is_eval GROUP BY doc_id ORDER BY doc_id""".stripMargin))
}
