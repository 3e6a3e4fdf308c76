package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}
import graft.functions.TextFunctions._

/** Text-analysis query surface over the documents table: token stats,
  * quality scoring, language-ID, fingerprinting. All narrow per-row
  * Column expressions — a single scan, no shuffle (the only shuffle in
  * these queries is the presentation ORDER BY, which at scale would be a
  * sorted write instead). Ratios are single divisions of exact integer
  * counts (cross-engine reproducible).
  */
object TextAnalysis {

  /** Token counting: total, distinct, character mass, mean token length. */
  def tokenStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      tokenCount(col("text")).as("n_tokens"),
      distinctTokenCount(col("text")).as("n_unique"),
      tokenChars(col("text")).as("n_token_chars"),
      (tokenChars(col("text")).cast("double") / tokenCount(col("text")))
        .as("avg_token_len"))
      .orderBy(col("doc_id"))

  /** Quality scoring: length, lexical diversity, stopword share, alpha
    * share — the usual cheap pretraining-corpus filters. */
  def qualityScore(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      tokenCount(col("text")).as("n_tokens"),
      (distinctTokenCount(col("text")).cast("double") / tokenCount(col("text")))
        .as("ttr"),
      (stopwordCount(col("text")).cast("double") / tokenCount(col("text")))
        .as("stop_ratio"),
      (alphaChars(col("text")).cast("double") / length(col("text")))
        .as("alpha_ratio"))
      .orderBy(col("doc_id"))

  /** Language-ID heuristic + its per-language marker scores. */
  def langIdQuery(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
    val scores = langScores(col("text")).map { case (l, c) => c.as(s"score_$l") }
    base.select(
      (col("doc_id") +: langId(col("text")).as("lang_pred") +: scores): _*)
      .orderBy(col("doc_id"))
  }

  /** Canonical-form fingerprint per document. */
  def fingerprintQuery(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"), fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  /** PII scrub: redact email-shaped tokens then 3+-digit runs — the
    * pattern-redaction pass a pretraining pipeline runs before anything
    * else touches the text. Pure regexp_replace chain: narrow, no shuffle,
    * regex stays in the ASCII classes both engines implement identically. */
  def piiScrub(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      regexp_replace(
        regexp_replace(col("text"),
          "[A-Za-z0-9._]+@[A-Za-z0-9.]+", "<EMAIL>"),
        "[0-9]{3,}", "<NUM>").as("scrubbed"))
      .orderBy(col("doc_id"))

  /** Corpus bigram frequency, top 20 with deterministic tie-break — the
    * vocabulary/boilerplate profile. Explode shuffles (gram, 1) pairs;
    * map-side partial aggregation collapses them before the exchange, and
    * the final top-k is a 20-row TakeOrdered on the driver. */
  def ngramFreq(s: SparkSession, dir: String): DataFrame = {
    val bigrams = graft.functions.GraftExpressions.shingleStrings(col("text"), 2)
    Tables.documents(s, dir)
      .select(explode(bigrams).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram").asc)
      .limit(20)
  }

  /** BPE-ish regex pre-tokenizer counts: letter runs, digit runs, and
    * single punctuation marks as separate units (the GPT-2 pre-tokenizer
    * shape), next to the whitespace count — the cheap token-budget
    * estimate a corpus pipeline tracks per document. */
  def tokenizeRegex(s: SparkSession, dir: String): DataFrame = {
    val units = regexp_extract_all(col("text"),
      lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0))
    Tables.documents(s, dir).select(
      col("doc_id"),
      size(units).cast("long").as("n_bpe_units"),
      tokenCount(col("text")).as("n_ws_tokens"),
      concat_ws("|", slice(units, 1, 3)).as("head_units"))
      .orderBy(col("doc_id"))
  }

  /** Most-salient term per document: score = tf/df (term frequency over
    * document frequency — the rare-term salience ranking TF-IDF induces,
    * kept as a single IEEE division so both engines produce bit-identical
    * doubles; log-based idf differs across libm implementations by ulps
    * and would make ranking ties engine-dependent). Two shuffles: per-
    * (doc,term) tf and per-term df; df joins back broadcast-style. */
  def tfidfTopTerm(s: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = terms.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy((col("tf").cast("double") / col("df")).desc, col("term").asc)
    // No broadcast hint: the per-term df table scales with the vocabulary,
    // which is NOT broadcast-small at corpus scale — both sides are already
    // shuffled on term, so AQE picks a local choice (it still broadcasts at
    // bench scale, where df is tiny).
    tf.join(df, "term")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("term").as("top_term"), col("tf"), col("df"),
        (col("tf").cast("double") / col("df")).as("salience"))
      .orderBy(col("doc_id"))
  }

  /** Cross-document bigram novelty — the inverse-boilerplate quality
    * signal (CCNet-family, exact form): per document, the fraction of its
    * DISTINCT word bigrams that appear in no other document. Template spam
    * and mirrored boilerplate score near 0 (every bigram shared); original
    * prose scores high. Complements [[repetition]]'s WITHIN-doc signal
    * with a cross-corpus one, without the libm-dependent log-probs an
    * n-gram LM would need (integer counts + one division ⇒ bit-exact
    * oracle).
    *
    * Scale shape: the ngram-index family's plan — per-row array_distinct
    * (no shuffle), one explode, a map-side-combined groupBy on the bigram,
    * the document-frequency table joined back on the already-shuffled
    * bigram key, one per-doc aggregate. Linear in corpus bigrams; the df
    * side scales with the bigram vocabulary, so no broadcast hint (AQE
    * still broadcasts at bench scale). */
  def rareBigramRatio(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val bigrams = docs.select(col("doc_id"),
      explode(array_distinct(
        graft.functions.GraftExpressions.shingleStrings(col("text"), 2)))
        .as("gram"))
    // distinct-per-doc grams => count(*) IS document frequency
    val df = bigrams.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    val perDoc = bigrams.join(df, "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum((col("df") === 1).cast("long")).as("n_unique"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        when(coalesce(col("n_bigrams"), lit(0L)) > 0,
          col("n_unique").cast("double") / col("n_bigrams"))
          .otherwise(lit(0.0)).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** md5 first-hex prefixes selecting the count-LM's CLEAN TRAIN SPLIT
    * (~4/16 of the corpus). Deliberately DISJOINT from the '0' eval split
    * every other query uses: the reference LM a quality gate scores
    * against must come from neither the data being scored exclusively nor
    * the held-out benchmark. */
  val LmTrainHexPrefixes: Seq[String] = Seq("1", "2", "3", "4")

  /** Count-LM quality score — the CCNet/Gopher/DCLM-style "does this text
    * look like the reference corpus" signal, as EXACT integer-count
    * rationals instead of libm log-perplexity (log differs across libm
    * implementations by ulps; ratios of long sums replay bit-exactly in
    * any engine — the [[rareBigramRatio]] discipline):
    *
    *   - train a bigram/trigram COUNT LM on a deterministic md5-selected
    *     clean split ([[LmTrainHexPrefixes]]);
    *   - per document, over its bigram OCCURRENCES (w1,w2):
    *     `hit_rate`  = fraction whose bigram appears in the LM at all
    *     (coverage), and
    *     `lm_score`  = Σ c₂(w1,w2) / Σ c₁(w1) — the pooled maximum-
    *     likelihood conditional P(w2|w1) mass: text made of common
    *     continuations scores high, gibberish and word-salad score ≈ 0.
    *     One division of two long sums — order-independent, bit-exact;
    *   - `tri_hit_rate` — trigram-LM coverage, the sharper (sparser)
    *     signal of the same family.
    *
    * Shape at scale: the ngram-index family's plan — per-row shingle
    * kernels (no shuffle), one explode per order, map-side-combined
    * groupBys on the gram keys, count tables joined back on the
    * already-shuffled gram key, one per-doc aggregate. The LM count
    * tables scale with the n-gram vocabulary, so no broadcast hint (AQE
    * still broadcasts at bench scale). */
  def lmScore(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val (c1, c2, c3) = lmCounts(docs)
    lmScoreOver(docs, c1, c2, c3)
  }

  /** The LM's count tables, trained on the md5-selected clean split of
    * `allDocs` — factored out so the in-stream gate trains ONCE from the
    * static table and scores each arriving micro-batch against frozen
    * counts (the stream_decontaminate static-sketch convention). */
  private[graft] def lmCounts(allDocs: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val isTrain = substring(md5(col("doc_id").cast("string")), 1, 1)
      .isin(LmTrainHexPrefixes: _*)
    val train = allDocs.filter(isTrain)
    val c1 = train.select(explode(tokens(col("text"))).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val c2 = train.select(
        explode(graft.functions.GraftExpressions.shingleStrings(col("text"), 2))
          .as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("c2"))
    val c3 = train.select(
        explode(graft.functions.GraftExpressions.shingleStrings(col("text"), 3))
          .as("g3"))
      .groupBy(col("g3")).agg(count(lit(1)).as("c3"))
    (c1, c2, c3)
  }

  /** Score `scored` docs against frozen count tables — per-doc only, so
    * ANY partitioning of the corpus into batches yields the same rows
    * (the batch-boundary invariance the streaming twin relies on). */
  private[graft] def lmScoreOver(scored: DataFrame, c1: DataFrame,
      c2: DataFrame, c3: DataFrame): DataFrame = {
    // Bigram occurrences with their unigram context (tokens carry no
    // spaces, so the gram's first space-separated field IS w1).
    val bi = scored.select(col("doc_id"),
        explode(graft.functions.GraftExpressions.shingleStrings(col("text"), 2))
          .as("gram"))
      .withColumn("w1", substring_index(col("gram"), " ", 1))
    val tri = scored.select(col("doc_id"),
      explode(graft.functions.GraftExpressions.shingleStrings(col("text"), 3))
        .as("g3"))
    val perBi = bi
      .join(c2, Seq("gram"), "left")
      .join(c1, Seq("w1"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("c2").isNotNull.cast("long")).as("n_known"),
        sum(coalesce(col("c2"), lit(0L))).as("hit_mass"),
        sum(coalesce(col("c1"), lit(0L))).as("ctx_mass"))
    val perTri = tri
      .join(c3, Seq("g3"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(col("c3").isNotNull.cast("long")).as("n_tri_known"))
    scored.select(col("doc_id"))
      .join(perBi, Seq("doc_id"), "left")
      .join(perTri, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_known"), lit(0L)).as("n_known"),
        when(coalesce(col("n_bigrams"), lit(0L)) > 0,
          col("n_known").cast("double") / col("n_bigrams"))
          .otherwise(lit(0.0)).as("hit_rate"),
        coalesce(col("hit_mass"), lit(0L)).as("hit_mass"),
        coalesce(col("ctx_mass"), lit(0L)).as("ctx_mass"),
        when(coalesce(col("ctx_mass"), lit(0L)) > 0,
          col("hit_mass").cast("double") / col("ctx_mass"))
          .otherwise(lit(0.0)).as("lm_score"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("n_tri_known"), lit(0L)).as("n_tri_known"),
        when(coalesce(col("n_trigrams"), lit(0L)) > 0,
          col("n_tri_known").cast("double") / col("n_trigrams"))
          .otherwise(lit(0.0)).as("tri_hit_rate"))
      .orderBy(col("doc_id"))
  }

  /** md5 first-hex prefixes of the quality classifier's NEGATIVE train
    * split (~4/16) — disjoint from both the positive/clean split
    * ([[LmTrainHexPrefixes]]) and the '0' eval split. */
  val ClfNegHexPrefixes: Seq[String] = Seq("5", "6", "7", "8")

  /** Contrastive quality classifier — the DCLM/fastText-family "does this
    * look like reference text or like noise" score, trained with NO
    * labeled data: positives are the md5-selected clean split, negatives
    * are a DISJOINT split with token order REVERSED (reversal preserves
    * every unigram marginal but destroys natural word adjacency — the
    * classic fluency negative, so the classifier must learn word ORDER,
    * not vocabulary). Features are bigram occurrence counts; the score is
    * pooled Bernoulli-NB evidence `pos_mass / (pos_mass + neg_mass)` —
    * two BIGINT sums and ONE division, bit-exact in any engine (the
    * [[lmScore]] discipline; no libm log-odds). Docs with no evidence in
    * either class score the 0.5 neutral prior.
    *
    * Shape at scale: identical to the lm_score plan — per-row shingle
    * kernels, map-side-combined groupBys on the gram key, count tables
    * joined back on the already-shuffled key, one per-doc aggregate. */
  def classifierScore(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val (cPos, cNeg) = classifierCounts(docs)
    classifierScoreOver(docs, cPos, cNeg)
  }

  /** The classifier's count tables. The negative split's reversed-order
    * bigrams are the FORWARD shingles flipped in place (`w2 w1`): the
    * bigram occurrences of a reversed token sequence are exactly the
    * reversed pairs of the forward sequence, so no second shingle pass
    * and no array reversal is needed (tokens are space-split, so the
    * gram's two space-separated fields are the tokens). */
  private[graft] def classifierCounts(allDocs: DataFrame)
      : (DataFrame, DataFrame) = {
    val md5c = substring(md5(col("doc_id").cast("string")), 1, 1)
    def bigrams(df: DataFrame): DataFrame = df.select(col("doc_id"),
      explode(graft.functions.GraftExpressions.shingleStrings(col("text"), 2))
        .as("gram"))
    val cPos = bigrams(allDocs.filter(md5c.isin(LmTrainHexPrefixes: _*)))
      .groupBy(col("gram")).agg(count(lit(1)).as("c_pos"))
    val cNeg = bigrams(allDocs.filter(md5c.isin(ClfNegHexPrefixes: _*)))
      .select(col("doc_id"), concat_ws(" ",
        substring_index(col("gram"), " ", -1),
        substring_index(col("gram"), " ", 1)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("c_neg"))
    (cPos, cNeg)
  }

  /** Score `scored` docs against frozen classifier counts — per-doc only
    * (batch-boundary invariant, the [[lmScoreOver]] contract). */
  private[graft] def classifierScoreOver(scored: DataFrame, cPos: DataFrame,
      cNeg: DataFrame): DataFrame = {
    val per = scored.select(col("doc_id"),
        explode(graft.functions.GraftExpressions.shingleStrings(col("text"), 2))
          .as("gram"))
      .join(cPos, Seq("gram"), "left")
      .join(cNeg, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("c_pos"), lit(0L))).as("pos_mass"),
        sum(coalesce(col("c_neg"), lit(0L))).as("neg_mass"))
    scored.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("pos_mass"), lit(0L)).as("pos_mass"),
        coalesce(col("neg_mass"), lit(0L)).as("neg_mass"),
        when(coalesce(col("pos_mass"), lit(0L)) +
            coalesce(col("neg_mass"), lit(0L)) > 0,
          col("pos_mass").cast("double") /
            (col("pos_mass") + col("neg_mass")))
          .otherwise(lit(0.5)).as("clf_score"))
      .orderBy(col("doc_id"))
  }

  /** DSIR hashed-feature bucket count — CONSTANT and corpus-independent,
    * which is the method's whole point at scale: the count tables are
    * bounded at [[DsirBuckets]] rows no matter how large the corpus
    * vocabulary grows, so they always broadcast. */
  val DsirBuckets = 4096

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score each raw
    * document by how much its HASHED n-gram profile looks like a target
    * domain versus the raw crawl, then resample proportionally to that
    * weight. Differs from [[classifierScore]] on both axes that define
    * DSIR: (1) the feature space is a FIXED-SIZE hash bucketing of
    * bigrams (md5-derived, engine-reproducible), not the unbounded gram
    * vocabulary — at 100 TB the count tables stay [[DsirBuckets]] rows
    * and ship as broadcasts, where the vocabulary-keyed lm/classifier
    * tables must shuffle-join; (2) the contrast is target-domain vs RAW
    * CRAWL (domain match), not forward-vs-reversed text (fluency).
    * Weights follow the engine's bit-exact discipline — two BIGINT
    * masses and ONE division (the pooled-evidence form of the
    * importance ratio; no libm log) — and the resampling draw is a
    * SEPARATE md5 substring (chars 5–8) from the split prefix (char 1),
    * so the keep decision is independent of split membership.
    *
    * Shape at scale: per-row shingle + hash kernels (no shuffle), two
    * map-side-combined groupBys onto [[DsirBuckets]] keys, two
    * BROADCAST joins back (explicit hint — the bucket tables are
    * bounded by construction, unlike the gram vocabulary), one per-doc
    * aggregate. */
  def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val (cTgt, cRaw) = dsirCounts(docs)
    dsirWeightsOver(docs, cTgt, cRaw)
  }

  /** Bigram → hashed feature bucket (md5 hex, replayable in SQL). */
  private def dsirBucket(gram: Column): Column =
    conv(substring(md5(gram), 1, 6), 16, 10).cast("long") % DsirBuckets

  /** The DSIR count tables: hashed-bigram occurrence counts for the
    * TARGET split ([[LmTrainHexPrefixes]] — the clean reference slice)
    * and the RAW split (everything outside the target and the '0' eval
    * split — the crawl distribution importance weights correct for).
    * Factored so a streaming twin can score micro-batches against
    * frozen tables (the [[lmCounts]] convention). */
  private[graft] def dsirCounts(allDocs: DataFrame)
      : (DataFrame, DataFrame) = {
    val md5c = substring(md5(col("doc_id").cast("string")), 1, 1)
    def buckets(df: DataFrame): DataFrame = df.select(
        explode(graft.functions.GraftExpressions.shingleStrings(col("text"), 2))
          .as("gram"))
      .select(dsirBucket(col("gram")).as("bucket"))
    val cTgt = buckets(allDocs.filter(md5c.isin(LmTrainHexPrefixes: _*)))
      .groupBy(col("bucket")).agg(count(lit(1)).as("c_tgt"))
    val cRaw = buckets(allDocs.filter(!md5c.isin("0" +: LmTrainHexPrefixes: _*)))
      .groupBy(col("bucket")).agg(count(lit(1)).as("c_raw"))
    (cTgt, cRaw)
  }

  /** Score `scored` docs against frozen DSIR count tables — per-doc
    * only (batch-boundary invariant, the [[lmScoreOver]] contract). */
  private[graft] def dsirWeightsOver(scored: DataFrame, cTgt: DataFrame,
      cRaw: DataFrame): DataFrame = {
    val per = scored.select(col("doc_id"),
        explode(graft.functions.GraftExpressions.shingleStrings(col("text"), 2))
          .as("gram"))
      .select(col("doc_id"), dsirBucket(col("gram")).as("bucket"))
      .join(broadcast(cTgt), Seq("bucket"), "left")
      .join(broadcast(cRaw), Seq("bucket"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"),
        sum(coalesce(col("c_tgt"), lit(0L))).as("tgt_mass"),
        sum(coalesce(col("c_raw"), lit(0L))).as("raw_mass"))
    val weight = when(
      coalesce(col("tgt_mass"), lit(0L)) +
        coalesce(col("raw_mass"), lit(0L)) > 0,
      col("tgt_mass").cast("double") / (col("tgt_mass") + col("raw_mass")))
      .otherwise(lit(0.5))
    val draw = conv(substring(md5(col("doc_id").cast("string")), 5, 4), 16, 10)
      .cast("long")
    scored.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("tgt_mass"), lit(0L)).as("tgt_mass"),
        coalesce(col("raw_mass"), lit(0L)).as("raw_mass"),
        weight.as("dsir_weight"),
        (draw.cast("double") < weight * 65536.0).as("sampled"))
      .orderBy(col("doc_id"))
  }

  /** RAG chunk geometry: 64-token windows at stride 32 (50% overlap —
    * the standard retrieval-ingest shape, so a fact straddling a chunk
    * boundary still appears whole in the neighboring chunk). */
  val RagChunkTokens = 64
  val RagChunkStride = 32

  /** RAG-ingest chunking: split each document into overlapping
    * [[RagChunkTokens]]-token windows with stable (doc_id, chunk_id) keys
    * and token offsets — the unit a retrieval index embeds and serves,
    * with offsets kept so a hit can be mapped back into its source
    * document. One narrow scan + a per-row sequence/posexplode (output
    * rows ≈ docs × n/stride, no shuffle except the presentation sort);
    * trailing windows shorter than a full chunk are kept (slice clamps),
    * matching what an embedding batcher actually receives. */
  def ragChunks(s: SparkSession, dir: String): DataFrame =
    ragChunksOf(Tables.documents(s, dir)).orderBy(col("doc_id"), col("chunk_id"))

  /** [[ragChunks]] minus the presentation sort — the composable form the
    * multi-vector (late-interaction) retrieval tier consumes. */
  private[graft] def ragChunksOf(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    // Stop bound n - (chunk - stride), NOT the textbook n - chunk + 1: the
    // windows are stride-aligned, so the last aligned start must be allowed
    // to overshoot until its window END reaches the final token (slice
    // clamps the overhang). n - chunk + 1 drops up to stride-1 tail tokens
    // whenever n mod stride lands past the last full window — exactly the
    // tail a retrieval index must not lose. (Coverage pinned per-doc in
    // TextDedupSpec.)
    val starts = sequence(
      lit(1),
      greatest(size(toks) - (RagChunkTokens - RagChunkStride), lit(1)),
      lit(RagChunkStride))
    docs
      .select(col("doc_id"), toks.as("toks"), posexplode(starts)
        .as(Seq("chunk_id", "start_token")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        col("start_token").cast("long").as("start_token"),
        size(slice(col("toks"), col("start_token"), lit(RagChunkTokens)))
          .cast("long").as("n_chunk_tokens"),
        concat_ws(" ", slice(col("toks"), col("start_token"),
          lit(RagChunkTokens))).as("chunk_text"))
  }

  /** Per-source token budget for [[domainMix]]: partial selection at both
    * verification scales (each source holds ~1.4k tokens at sf0.01). */
  val MixTokenBudget = 800L

  /** Domain mixing by token budget — the corpus-composition stage that
    * caps each source's contribution: docs are ordered per source by a
    * deterministic md5 shuffle (an unbiased sample that replays in any
    * engine) and taken while the running token count fits the budget.
    *
    * Shape at scale: one shuffle by source + a per-source running sum —
    * parallel ACROSS sources, sequential within one (windows don't
    * parallelize inside a partition). A single giant source would split
    * its budget over md5 sub-buckets (same code on (source, bucket) keys
    * with budget/K per sub-bucket) to restore parallelism. */
  def domainMix(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), tokenCount(col("text")).as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= MixTokenBudget)
      .orderBy(col("doc_id"))
  }

  /** Temperature-based mixture weights — the corpus-composition policy
    * that DECIDES the per-source budgets [[domainMix]] then enforces:
    * sample p_i proportional to mass_i^alpha (alpha = 0.5, the
    * multilingual-sampling standard) so small sources are upsampled
    * relative to proportional mixing — the DoReMi-style static mix.
    *
    * Numerics: cross-row double sums are order-dependent across engines,
    * so the damped mass is quantized to an exact integer per source
    * (round(sqrt(tokens) * 1e6); sqrt is IEEE-exact) BEFORE the
    * normalizing sum — integer sums are associative, and the weight is
    * then one double division per row. `epochs_at_budget` = how many
    * times the source's own data is replayed if the mixed corpus keeps
    * the original total token budget.
    *
    * Shape at scale: one map-side-combinable groupBy on the (tiny)
    * source key; the window-total runs over a handful of source rows —
    * a single-partition afterthought, not a corpus shuffle. */
  def mixTemperature(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(col("text"))).as("n_tokens"))
      .withColumn("damped",
        round(sqrt(col("n_tokens").cast("double")) * 1e6).cast("long"))
      .withColumn("mix_weight",
        col("damped").cast("double") / sum(col("damped")).over(w))
      .withColumn("epochs_at_budget",
        col("mix_weight") * sum(col("n_tokens")).over(w) / col("n_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("damped"), col("mix_weight"), col("epochs_at_budget"))
      .orderBy(col("source"))
  }

  /** Repetition ratio — the boilerplate/spam signal: the fraction of a
    * doc's 3-gram occurrences that are repeats (1 − distinct/total).
    * Template spam repeats whole paragraphs, driving the ratio toward 1;
    * normal prose sits near 0. Single narrow scan: total 3-grams is
    * n_tokens − 2 arithmetically, distinct comes from the same hashed
    * shingle-set kernel the dedup tier uses. */
  def repetition(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), tokenCount(col("text")).as("n_tokens"),
        size(graft.operators.Dedup.shingleSet(col("text"))).cast("long")
          .as("n_distinct"))
      .filter(col("n_tokens") >= 3)
      .select(col("doc_id"),
        (col("n_tokens") - 2).as("n_shingles"), col("n_distinct"),
        (lit(1.0) - col("n_distinct").cast("double") / (col("n_tokens") - 2))
          .as("repetition_ratio"))
      .orderBy(col("doc_id"))

  /** NOVELTY CURVE — per document, how much of its shingle content the
    * corpus had NOT seen in any earlier document (first occurrence by
    * doc_id): the diminishing-returns readout a corpus owner reads when
    * deciding whether the next crawl increment is still worth ingesting
    * (a source whose late documents contribute near-zero novel shingles
    * is saturated — more of it buys tokens, not information). Exact and
    * deterministic: "earlier" is the stable doc_id order, novelty is
    * integer counting over DISTINCT (doc, shingle) pairs, the ratio one
    * division. One shuffle on the shingle key (the inverted-index shape
    * every dedup query already pays), then a per-doc combine. */
  def noveltyCurve(s: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(array_distinct(graft.functions.GraftExpressions
          .shingleStrings(col("text"), graft.operators.Dedup.ShingleSize)))
          .as("g"))
    val first = grams.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
    grams.join(first, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum((col("first_doc") === col("doc_id")).cast("long")).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_grams")).as("novelty_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Per-SOURCE novelty rollup — the actual acquisition decision table:
    * a source whose documents contribute a low novel-shingle fraction
    * is saturated relative to the rest of the corpus, and its next
    * crawl increment buys tokens, not information. Same inverted-index
    * pass as [[noveltyCurve]], one more map-side-combined rollup on the
    * tiny source key; the ratio is one division of exact longs. */
  def noveltyBySource(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    noveltyCurve(s, dir)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_grams")).as("n_grams"),
        sum(col("n_novel")).as("n_novel"))
      .select(col("source"), col("n_docs"), col("n_grams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_grams"))
          .as("novelty_ratio"))
      .orderBy(col("source"))
  }

  /** NOVELTY AT INGEST — [[noveltyCurve]] computed incrementally: the
    * corpus arrives as three id-ordered slices, each batch scores its
    * documents against the ACCUMULATED seen-shingle state (plus its own
    * within-batch first occurrences) and appends its new shingles to
    * the state. Unlike the frozen-state ingest twins (LM, classifier,
    * PCA), novelty is ORDER-SENSITIVE state accumulation — the
    * incremental-dedup kind — and because the slice split is monotone
    * in doc_id, first-occurrence-by-id semantics coincide with
    * first-arrival, so the drained output equals the batch curve
    * row-for-row and the twin carries its oracle text VERBATIM. Per
    * batch: one bucket join against the state (shingle-keyed, the
    * inverted-index shape), one distinct-append; history is read, never
    * re-shuffled. */
  def incrementalNoveltyQuery(spark: SparkSession, dir: String): DataFrame = {
    val state = graft.TempDirs.scoped("graft_novelty_state")
    val out = graft.TempDirs.scoped("graft_novelty_out")
    val docs = Tables.documents(spark, dir)
    val ids = docs.agg(max(col("doc_id"))).head().getLong(0)
    val cuts = Seq(ids / 3, 2 * ids / 3, Long.MaxValue)
    var lo = Long.MinValue
    cuts.zipWithIndex.foreach { case (hi, i) =>
      // The batch's shingle explosion feeds two separate actions (the
      // new-shingle state append and the per-doc gram counts) — persist(),
      // not the previous eager localCheckpoint(true): the cache gives the
      // same one-shingling guarantee while KEEPING the lineage (an
      // executor loss recomputes blocks from the scan — the r20 verdict
      // item 4 scale-safety rule), and the first action fills it at scan
      // parallelism.
      val grams = docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
        .select(col("doc_id"),
          explode(array_distinct(graft.functions.GraftExpressions
            .shingleStrings(col("text"), graft.operators.Dedup.ShingleSize)))
            .as("g"))
        .persist()
      val seen =
        if (i == 0) spark.emptyDataFrame.withColumn("g", lit("")).limit(0)
          .select(col("g"))
        else spark.read.parquet((0 until i).map(j => s"$state/b$j"): _*)
          .select(col("g"))
      // The batch's NEW shingles with their within-batch first owner.
      // This IS the state append: its g-set equals the old separate
      // distinct + anti-join pass by construction (distinct grams of
      // the batch minus everything seen), so landing it once serves
      // both the scoring join (read back below — a KB-scale parquet
      // read instead of a third tokenize + shuffle pass over the
      // batch) and every later batch's seen-set.
      // (r21 negative result, kept for the record: folding the state
      // append and the scoring flags into ONE g-keyed pass — left-join
      // the seen-set, min(doc_id) window over g, land once, project both
      // outputs — was measured ~0.5 s SLOWER per run: the window plans
      // Sort+Window over the RAW gram stream where this form's
      // groupBy(g) hash-aggregates with a map-side partial, and the
      // sort dominates the saved pass. The two-landing form stays.)
      grams.groupBy(col("g"))
        .agg(min(col("doc_id")).as("first_doc"))
        .join(seen, Seq("g"), "left_anti")
        .write.mode("overwrite").parquet(s"$state/b$i")
      val firstHere = spark.read.parquet(s"$state/b$i")
      // Score WITHOUT re-joining the gram stream (r21, guide §2.3
      // aggregate-before-shuffle): in the old g-keyed form every batch
      // gram row was joined against the state slice just to test
      // first_doc == doc_id — but n_novel(doc) is exactly the number of
      // state rows the doc OWNS (firstHere has one row per new gram,
      // keyed by its min-doc owner), and n_grams(doc) is the doc's
      // distinct-gram count. Two map-side-combinable aggregates and one
      // doc-grain left join replace the gram-grain join; rows, types and
      // values are identical (docs with zero shingles were absent from
      // the exploded stream in both forms).
      val perDoc = grams.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"))
      val owned = firstHere.groupBy(col("first_doc"))
        .agg(count(lit(1)).as("n_owned"))
      perDoc
        .join(owned, col("doc_id") === col("first_doc"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_owned"), lit(0L)).as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          (col("n_novel").cast("double") / col("n_grams"))
            .as("novelty_ratio"))
        .write.mode("overwrite").parquet(s"$out/b$i")
      grams.unpersist()
      lo = hi
    }
    spark.read.parquet(s"$out/b*").orderBy(col("doc_id"))
  }

  /** ONE text behind the batch novelty curve and its incremental twin. */
  private val noveltyCurveOracleSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks
      |  FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
      |  FROM w, UNNEST(generate_series(1, len(toks) - 2)) AS t(i)),
      |f AS (SELECT g, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
      |SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
      |  CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_novel,
      |  CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
      |    AS DOUBLE) / COUNT(*) AS novelty_ratio
      |FROM sh s JOIN f USING (g)
      |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin

  import graft.QuerySpec.{rowsOnly, withOracle}

  private def inList(words: Seq[String]) = words.map(w => s"'$w'").mkString(", ")

  /** Language-ID evaluation matrix: the heuristic's predictions against
    * the corpus's labeled `lang` column — the confusion table a curation
    * owner reads before trusting the classifier on unlabeled data. One
    * narrow scan, groupBy on a tiny (label, prediction) key space with
    * map-side combine. */
  def langConfusion(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), langId(col("text")).as("lang_pred"))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("lang_pred"))

  /** Learned vocabulary size for [[wordpieceTokens]] (most-frequent whole
    * words; single characters are always included as the back-off). */
  val WordpieceTopWords = 256

  /** Back-off alphabet cap: a 100 TB multilingual corpus can hold ~1M+
    * distinct codepoints worst-case, so the char collect is bounded the
    * same way the word side is — top-N by frequency with a deterministic
    * tiebreak. Far above any single-script corpus's alphabet, so at
    * verification scale the collected set is every distinct char and
    * outputs are unchanged; beyond the cap, ultra-rare codepoints
    * segment as UNK (the standard tokenizer trade). */
  val WordpieceMaxChars = 4096

  /** Train the wordpiece vocab from the corpus: the top
    * [[WordpieceTopWords]] words by (count desc, word asc) — a
    * deterministic distributed aggregate whose driver collect is BOUNDED
    * at the vocab size (the IVF-centroid pattern) — plus the top
    * [[WordpieceMaxChars]] characters (same bounded-aggregate shape) as
    * the segmentation back-off. */
  def trainWordpieceVocab(docs: DataFrame): Seq[String] = {
    val words = docs
      .select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc)
      .limit(WordpieceTopWords)
      .collect().map(_.getString(0))
    val chars = docs
      .select(explode(split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= " " && length(col("ch")) > 0)
      .groupBy(col("ch")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("ch").asc)
      .limit(WordpieceMaxChars)
      .collect().map(_.getString(0))
    (words ++ chars).distinct.toSeq
  }

  /** Tokenize the corpus with the LEARNED vocabulary: greedy
    * longest-match wordpiece segmentation (codegen
    * [[graft.functions.GraftExpressions.WordpieceCounts]]) — the
    * token-budget accounting a trainer does with its real tokenizer,
    * upgraded from [[tokenizeRegex]]'s fixed regex to a data-trained
    * vocab. ROWS-ONLY: the vocab is trained from the data at query-build
    * time, so no static SQL replays it; the kernel is pinned in
    * KernelSpec against an independent reimplementation and the query
    * against hand-computable fixtures. */
  def wordpieceTokens(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val vocab = trainWordpieceVocab(docs)
    val counts = graft.functions.GraftExpressions
      .wordpieceCounts(col("text"), vocab)
    docs.select(
      col("doc_id"),
      element_at(counts, 1).as("n_units"),
      element_at(counts, 2).as("n_unk"),
      tokenCount(col("text")).as("n_ws_tokens"))
      .withColumn("units_per_word",
        col("n_units").cast("double") / col("n_ws_tokens"))
      .orderBy(col("doc_id"))
  }

  final case class CompressionRow(doc_id: Long, n_bytes: Long,
      deflated_bytes: Long, ratio: Double, repetitive: Boolean)

  /** Gopher-style compression-ratio quality signal: deflate each
    * document (JDK zlib, fixed level) and report compressed/original
    * size — boilerplate and template spam compress far better than
    * natural prose, so a LOW ratio flags repetitive content. Runs
    * partition-local with one reused Deflater per partition (the codec
    * batch pattern of the multimodal tier).
    *
    * ROWS-ONLY by necessity: no SQL engine exposes deflate output sizes,
    * so the driver records the weaker row-count check; determinism and
    * the orderings that make the signal useful are pinned in
    * TextAnalysisSpec (identical reruns; planted repetitive text scoring
    * below planted high-entropy text). */
  def compressionRatio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val RepetitiveBelow = 0.35
    Tables.documents(s, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("src"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val deflater = new java.util.zip.Deflater(6, /* nowrap = */ true)
        // release the native zlib buffers on TASK COMPLETION, not iterator
        // exhaustion: a partially consumed partition (limit/take, task
        // kill, downstream early-exit) never drains the iterator, which is
        // exactly the long-lived-executor scenario where waiting for GC
        // accumulates native memory. The listener fires on success,
        // failure, and cancellation alike (end() is idempotent).
        org.apache.spark.TaskContext.get()
          .addTaskCompletionListener[Unit](_ => deflater.end())
        val buf = new Array[Byte](1 << 16)
        rows.map { case (id, src) =>
          deflater.reset()
          deflater.setInput(src)
          deflater.finish()
          var out = 0L
          while (!deflater.finished()) out += deflater.deflate(buf)
          val ratio = if (src.isEmpty) 1.0 else out.toDouble / src.length
          CompressionRow(id, src.length.toLong, out, ratio,
            ratio < RepetitiveBelow)
        }
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** Per-source data card — the audit table a corpus owner publishes
    * alongside a release: volume (docs/tokens), eval-split share, exact
    * duplicate incidence (content hash seen >1 anywhere in the corpus),
    * benchmark contamination (canonical fingerprint present in the eval
    * split), and corpus-level alpha/stopword ratios.
    *
    * Determinism at scale: the ratios are RATIOS OF INTEGER SUMS, not
    * averages of per-doc doubles — long sums are order-independent across
    * partitions (a double mean would hash-differ run to run), and one
    * division happens after the aggregate.
    *
    * Plan shape: three corpus passes (duplicate-hash groupBy,
    * eval-fingerprint distinct, the flag-joined aggregate); the two flag
    * sets are corpus-derived, so join strategy is left to AQE — no forced
    * broadcast (the eval split is ~1/16 of the corpus, which at 100 TB is
    * NOT driver-collectable; if the flag joins ever dominate, the
    * bloom-prefilter pattern of text_bloom_decontaminate applies). The
    * final aggregate is map-side combined down to one row per source. */
  def dataCard(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).select(
      col("source"),
      tokenCount(col("text")).as("toks"),
      length(col("text")).cast("long").as("chars"),
      alphaChars(col("text")).cast("long").as("alpha"),
      stopwordCount(col("text")).cast("long").as("stops"),
      (substring(md5(col("doc_id").cast("string")), 1, 1) === "0").as("is_eval"),
      md5(col("text")).as("chash"),
      fingerprint(col("text")).as("fp"))
    val dupContent = base.groupBy(col("chash"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") > 1)
      .select(col("chash"), lit(1).as("is_dup"))
    val evalFps = base.filter(col("is_eval")).select(col("fp")).distinct()
      .withColumn("in_eval", lit(1))
    base
      .join(dupContent, Seq("chash"), "left")
      .join(evalFps, Seq("fp"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        sum(when(col("is_eval"), 1L).otherwise(0L)).as("n_eval_docs"),
        sum(when(col("is_dup") === 1, 1L).otherwise(0L)).as("n_exact_dup_docs"),
        sum(when(!col("is_eval") && col("in_eval") === 1, 1L).otherwise(0L))
          .as("n_contaminated"),
        (sum(col("alpha")).cast("double") / sum(col("chars"))).as("alpha_ratio"),
        (sum(col("stops")).cast("double") / sum(col("toks"))).as("stop_ratio"))
      .orderBy(col("source"))
  }

  private val langScoreSql = langMarkers.map { case (l, ws) =>
    s"len(list_filter(string_split(text,' '), t -> t IN (${inList(ws)}))) AS score_$l"
  }.mkString(",\n  ")

  private val langCaseSql = {
    val best = "greatest(" + langMarkers.map(m => s"score_${m._1}").mkString(", ") + ")"
    val whens = langMarkers.map { case (l, _) =>
      s"WHEN score_$l = $best AND $best > 0 THEN '$l'"
    }.mkString(" ")
    s"CASE $whens ELSE 'und' END"
  }

  /** The count-LM scorer run IN-STREAM (the streamQualityGateQuery
    * convention): count tables trained ONCE from the static table's
    * clean split and persisted; each arriving micro-batch is scored
    * against the frozen counts and appended to batch-id-keyed overwrite
    * dirs (idempotent replay). Per-doc scoring against frozen state is
    * batch-boundary invariant, so the drained output equals the batch
    * [[lmScore]] row-for-row and shares its oracle text verbatim
    * (two-micro-batch split pinned in StreamingSpec). */
  def streamLmScoreQuery(spark: SparkSession, dir: String): DataFrame = {
    val frozen = scorerCounts(spark, dir)
    val stream = Tables.stream(spark, dir, "documents")
      // project on the STREAM side: foreachBatch bodies see a materialized
      // RDD, so only a source-plan projection reaches the scan (guide §2.3)
      .select(col("doc_id"), col("text"))
    graft.streaming.MicroBatchPipeline.drainToSlices(stream, "slm") { batch =>
      lmScoreOver(batch, frozen("c1"), frozen("c2"), frozen("c3"))
    }.orderBy(col("doc_id"))
  }

  /** The FROZEN scorer count tables behind the four streaming scoring
    * twins (LM trigram counts, contrastive classifier counts, DSIR
    * bucket counts) — trained once per corpus per JVM into
    * [[graft.StateCache]] parquet state and served read-only by every
    * drain. This is exactly the "trained ONCE from the static corpus"
    * contract the twins' docstrings declare, amortized the way every
    * other trained artifact already is (the liFeatureState precedent);
    * before, each invocation re-ran all the training aggregations inside
    * its own drain (7 pipelines for the quality vector), billing every
    * serve for a build production performs once. The tables are
    * deterministic functions of the corpus, so the drained rows are
    * identical either way — the batch text_* scoring queries keep their
    * inline one-pass training by design (they are the scan-bound audit
    * tier). */
  private def scorerCounts(s: SparkSession, dir: String)
      : Map[String, DataFrame] = {
    val st = graft.StateCache.stateDir(dir, "text/scorer_counts",
        "graft_scorecnt") { d =>
      val docs = Tables.documents(s, dir)
      val (c1, c2, c3) = lmCounts(docs)
      val (cPos, cNeg) = classifierCounts(docs)
      val (cTgt, cRaw) = dsirCounts(docs)
      Seq("c1" -> c1, "c2" -> c2, "c3" -> c3, "cpos" -> cPos,
        "cneg" -> cNeg, "ctgt" -> cTgt, "craw" -> cRaw)
        .foreach { case (n, df) => df.write.parquet(s"$d/$n") }
    }
    // frozen read-back through the table memo: the state dir is immutable
    // once built, so each drain reuses one resolved plan instead of paying
    // seven footer reads per invocation
    Seq("c1", "c2", "c3", "cpos", "cneg", "ctgt", "craw")
      .map(n => n -> graft.Tables.loadFrozenDir(s, s"$st/$n")).toMap
  }

  /** Fixed clf_score cuts bounding the curriculum's quality bands (band =
    * number of cuts at or below the score, 0 = noisiest .. 3 = cleanest).
    * FIXED thresholds, not data quantiles: scale-safe (no global sort or
    * sketch to band 100 TB — banding is a per-row comparison) and
    * replayable (a double literal parses identically in any engine). */
  val CurriculumCuts: Seq[Double] = Seq(0.48, 0.50, 0.52)

  /** md5-bucketed sub-shards per band — keeps shard files bounded and the
    * within-band order deterministic (the trainShards key convention). */
  val CurriculumSubShards = 4

  /** Curriculum schedule for a training run — the shard-manifest answer
    * to "in what order do we feed the corpus": docs land in (quality
    * band, md5 sub-shard) shards, and the manifest orders shards
    * noisy-first / cleanest-last (the quality-annealing curriculum:
    * the model sees easy web-scale mass early and anneals on the best
    * band) with the cumulative token budget at each step, so a trainer
    * can cut the schedule at any token count.
    *
    * Shape at scale: banding is a per-row comparison against the fixed
    * [[CurriculumCuts]] (no quantile pass), the manifest is one
    * map-side-combined groupBy on ≤ 4×[[CurriculumSubShards]] keys, and
    * the only windows run over the aggregated manifest rows — nothing
    * global touches per-doc data, unlike a naive ntile/global-row_number
    * curriculum (a single-partition sort of the corpus). */
  def curriculumShards(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val scored = classifierScore(s, dir).select(col("doc_id"), col("clf_score"))
    val band = CurriculumCuts.foldLeft(lit(0L)) { (acc, c) =>
      acc + (col("clf_score") >= c).cast("long") }
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
      .cast("long") % CurriculumSubShards
    val manifest = docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(scored, Seq("doc_id"))
      .withColumn("band", band).withColumn("bucket", bucket)
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("band"), col("bucket"))
    manifest
      .withColumn("curriculum_pos", row_number().over(w).cast("long"))
      .withColumn("cum_tokens", sum(col("sum_tokens")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .select(
        (col("band") * CurriculumSubShards + col("bucket")).as("shard_id"),
        col("band"), col("bucket"), col("n_docs"), col("sum_tokens"),
        col("curriculum_pos"), col("cum_tokens"))
      .orderBy(col("curriculum_pos"))
  }

  /** The contrastive classifier run IN-STREAM (the [[streamLmScoreQuery]]
    * convention): count tables trained ONCE from the static table's two
    * md5 splits and persisted; each arriving micro-batch is scored
    * against the frozen counts into batch-id-keyed overwrite dirs.
    * Per-doc scoring against frozen state is batch-boundary invariant,
    * so the drained output equals the batch [[classifierScore]]
    * row-for-row and shares its oracle text verbatim (two-micro-batch
    * split pinned in StreamingSpec). */
  def streamClassifierScoreQuery(spark: SparkSession, dir: String): DataFrame = {
    val frozen = scorerCounts(spark, dir)
    val stream = Tables.stream(spark, dir, "documents")
      // project on the STREAM side: foreachBatch bodies see a materialized
      // RDD, so only a source-plan projection reaches the scan (guide §2.3)
      .select(col("doc_id"), col("text"))
    graft.streaming.MicroBatchPipeline.drainToSlices(stream, "sclf") { batch =>
      classifierScoreOver(batch, frozen("cpos"), frozen("cneg"))
    }.orderBy(col("doc_id"))
  }

  /** Feature-hashing dimensionality (the hashing-trick bound: collisions
    * are the price of a CONSTANT, vocabulary-independent width). */
  val FeatureDims = 64

  /** Feature-hashed document embeddings (Weinberger et al. 2009, the
    * hashing trick): each token hashes to one of [[FeatureDims]] signed
    * dimensions (dim from md5 chars 1–6, sign from chars 7–8 — separate
    * slices, so sign is independent of dim), per-(doc, dim) SIGNED
    * COUNTS accumulate exactly as BIGINTs, and the emitted weight is the
    * L2-normalized component. This is the engine-native, deterministic
    * baseline for the embedding column a model would produce — the
    * text→vector featurization step, emitted SPARSE (zero dims omitted)
    * in long format so downstream joins never materialize dense rows.
    * Exactness discipline: the only float is one division by a sqrt of
    * an exact integer, bit-identical in any engine.
    *
    * Shape at scale: one token explode, one map-side-combined groupBy on
    * (doc, dim), one per-doc norm aggregate joined back — no vocabulary-
    * sized state anywhere (the hashing trick's point). */
  def featureEmbedding(s: SparkSession, dir: String): DataFrame =
    featureEmbeddingOf(Tables.documents(s, dir))

  private[graft] def featureEmbeddingOf(docs: DataFrame): DataFrame = {
    val counts = featureCountsOf(docs)
    val norms = counts.groupBy(col("doc_id"))
      .agg(sum(col("signed_count") * col("signed_count")).as("sq"))
    counts.join(norms, "doc_id")
      .select(col("doc_id"), col("dim"), col("signed_count"),
        (col("signed_count").cast("double") / sqrt(col("sq").cast("double")))
          .as("weight"))
      .orderBy(col("doc_id"), col("dim"))
  }

  /** The featurizer run in-stream — embedding-at-ingest, the shape a
    * production pipeline actually runs (each arriving micro-batch is
    * featurized as it lands, not in a later global pass). The transform
    * is fully per-document (counts AND the L2 norm), so any batching
    * drains to the batch query's exact rows and the twin carries
    * text_feature_embedding's oracle text VERBATIM. */
  def streamFeatureEmbedQuery(spark: SparkSession, dir: String): DataFrame = {
    val stream = Tables.stream(spark, dir, "documents")
      // stream-side projection — the foreachBatch scan-pruning rule
      .select(col("doc_id"), col("text"))
    graft.streaming.MicroBatchPipeline.drainToSlices(stream, "sfeat") { batch =>
      featureEmbeddingOf(batch)
    }.orderBy(col("doc_id"), col("dim"))
  }

  /** The sparse signed-count table (doc_id, dim, signed_count ≠ 0) —
    * factored so the exact-cosine search consumes integer counts. */
  private[graft] def featureCountsOf(docs: DataFrame): DataFrame = {
    val dim = conv(substring(md5(col("tok")), 1, 6), 16, 10)
      .cast("long") % FeatureDims
    val sign = when(conv(substring(md5(col("tok")), 7, 2), 16, 10)
      .cast("long") % 2 === 0, 1L).otherwise(-1L)
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), dim.as("dim"), sign.as("s"))
      .groupBy(col("doc_id"), col("dim"))
      .agg(sum(col("s")).as("signed_count"))
      .filter(col("signed_count") =!= 0)
  }

  /** Sparse signed-count features PER RAG CHUNK — [[featureCountsOf]]'s
    * hashing trick applied at (doc_id, chunk_id) grain over
    * [[ragChunksOf]]'s windows: the MULTI-VECTOR document representation
    * the late-interaction retrieval tier (Similarity.lateInteractionTopK)
    * scores. Same dim/sign derivation (disjoint md5 slices), same exact
    * BIGINT accumulation; re-splitting chunk_text reproduces the original
    * token slice exactly (array_join/split round-trip empty tokens
    * unchanged in both engines). */
  private[graft] def chunkFeatureCountsOf(chunks: DataFrame): DataFrame = {
    val dim = conv(substring(md5(col("tok")), 1, 6), 16, 10)
      .cast("long") % FeatureDims
    val sign = when(conv(substring(md5(col("tok")), 7, 2), 16, 10)
      .cast("long") % 2 === 0, 1L).otherwise(-1L)
    chunks
      .select(col("doc_id"), col("chunk_id"),
        explode(tokens(col("chunk_text"))).as("tok"))
      .select(col("doc_id"), col("chunk_id"), dim.as("dim"), sign.as("sg"))
      .groupBy(col("doc_id"), col("chunk_id"), col("dim"))
      .agg(sum(col("sg")).as("signed_count"))
      .filter(col("signed_count") =!= 0)
  }

  /** The RAG-chunk CTEs (w/s/rc) shared VERBATIM by text_rag_chunks and
    * the late-interaction retrieval oracles — one text, so the chunk
    * geometry cannot drift between the ingest query and its consumer. */
  private[operators] val ragChunkCtes: String =
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |s AS (SELECT doc_id, toks,
       |        UNNEST(generate_series(1,
       |          greatest(len(toks) - ${RagChunkTokens - RagChunkStride}, 1),
       |          $RagChunkStride)) AS start_token
       |      FROM w),
       |rc AS (SELECT doc_id,
       |    CAST((start_token - 1) // $RagChunkStride AS BIGINT) AS chunk_id,
       |    CAST(start_token AS BIGINT) AS start_token,
       |    CAST(len(list_slice(toks, start_token,
       |      start_token + ${RagChunkTokens - 1})) AS BIGINT) AS n_chunk_tokens,
       |    array_to_string(list_slice(toks, start_token,
       |      start_token + ${RagChunkTokens - 1}), ' ') AS chunk_text
       |  FROM s)""".stripMargin

  /** Chunk-grain feature-hash CTEs (rt/rh/rcc/rcn over `rc`) — the SQL
    * replay of [[chunkFeatureCountsOf]] plus per-chunk exact square norms,
    * mirroring [[featureCountCtes]] one level down. */
  private[operators] val chunkFeatureCountCtes: String =
    s"""rt AS (SELECT doc_id, chunk_id,
       |         UNNEST(string_split(chunk_text, ' ')) AS tok
       |       FROM rc),
       |rh AS (SELECT doc_id, chunk_id,
       |    CAST(concat('0x', substr(md5(tok), 1, 6)) AS BIGINT)
       |      % $FeatureDims AS dim,
       |    CASE WHEN CAST(concat('0x', substr(md5(tok), 7, 2)) AS BIGINT)
       |      % 2 = 0 THEN 1 ELSE -1 END AS sg
       |  FROM rt),
       |rcc AS (SELECT doc_id, chunk_id, dim,
       |        CAST(SUM(sg) AS BIGINT) AS signed_count
       |        FROM rh GROUP BY 1, 2, 3 HAVING SUM(sg) <> 0),
       |rcn AS (SELECT doc_id, chunk_id,
       |        SUM(signed_count * signed_count) AS sq
       |        FROM rcc GROUP BY 1, 2)""".stripMargin

  /** The per-document QUALITY VECTOR — every scorer the engine trains,
    * joined into the one wide row a downstream consumer actually
    * exports: the Gopher rules verdict, count-LM coverage and score,
    * the contrastive classifier score, and the DSIR domain weight. A
    * mixture builder weights on these columns, an annealing schedule
    * cuts on them, and an audit regresses them against each other —
    * materializing them once beats re-running four scorers per use.
    * All four inputs are the existing single-pass plans (each trained
    * from its own frozen md5 split) joined on doc_id; one row per doc.
    */
  def qualitySignals(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val (c1, c2, c3) = lmCounts(docs)
    val (cPos, cNeg) = classifierCounts(docs)
    val (cTgt, cRaw) = dsirCounts(docs)
    docs.select(col("doc_id"))
      .join(QualityGate.gopherFlags(docs)
        .select(col("doc_id"), col("keep")), "doc_id")
      .join(lmScoreOver(docs, c1, c2, c3)
        .select(col("doc_id"), col("hit_rate"), col("lm_score")), "doc_id")
      .join(classifierScoreOver(docs, cPos, cNeg)
        .select(col("doc_id"), col("clf_score")), "doc_id")
      .join(dsirWeightsOver(docs, cTgt, cRaw)
        .select(col("doc_id"), col("dsir_weight")), "doc_id")
      .orderBy(col("doc_id"))
  }

  /** The quality vector computed AT INGEST — all four scorers' frozen
    * states (LM counts, classifier counts, DSIR buckets; the rules gate
    * is stateless) trained once from the static corpus, each arriving
    * micro-batch scored per-doc and exported with every signal already
    * attached. This is the operational endpoint of the scoring family:
    * a doc lands with its keep verdict, LM coverage, classifier score
    * and domain weight in one pass. Per-doc against frozen state ⇒
    * batch-boundary invariant ⇒ the twin carries text_quality_signals'
    * oracle text VERBATIM. */
  def streamQualitySignalsQuery(spark: SparkSession, dir: String): DataFrame = {
    val frozen = scorerCounts(spark, dir)
    val stream = Tables.stream(spark, dir, "documents")
      // project on the STREAM side: foreachBatch bodies see a materialized
      // RDD, so only a source-plan projection reaches the scan (guide §2.3)
      .select(col("doc_id"), col("text"))
    graft.streaming.MicroBatchPipeline.drainToSlices(stream, "sqsig") { b =>
      b.select(col("doc_id"))
        .join(QualityGate.gopherFlags(b)
          .select(col("doc_id"), col("keep")), "doc_id")
        .join(lmScoreOver(b, frozen("c1"), frozen("c2"), frozen("c3"))
          .select(col("doc_id"), col("hit_rate"), col("lm_score")),
          "doc_id")
        .join(classifierScoreOver(b, frozen("cpos"), frozen("cneg"))
          .select(col("doc_id"), col("clf_score")), "doc_id")
        .join(dsirWeightsOver(b, frozen("ctgt"), frozen("craw"))
          .select(col("doc_id"), col("dsir_weight")), "doc_id")
    }.orderBy(col("doc_id"))
  }

  /** Calibration audit of the contrastive classifier against the Gopher
    * rules gate — the table a curation owner reads before swapping the
    * multi-column rules scan for the cheap classifier at serving time:
    * per classifier-score DECILE band, how many docs land there and what
    * fraction the rules gate keeps. A well-calibrated classifier shows
    * keep-rate rising monotonically with the band; a flat curve means
    * the score carries no signal about the gate and the swap would be
    * unsafe. Bands are fixed-cut per-row arithmetic (floor of
    * score × 10, clamped) — no quantile pass, no global sort, the
    * curriculum-shards discipline — and the aggregate has ≤ 10 keys.
    * Both inputs are existing single-scan plans joined on doc_id. */
  def classifierCalibration(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val (cPos, cNeg) = classifierCounts(docs)
    val scores = classifierScoreOver(docs, cPos, cNeg)
      .select(col("doc_id"), col("clf_score"))
    val keep = QualityGate.gopherFlags(docs)
      .select(col("doc_id"), col("keep"))
    val band = least(floor(col("clf_score") * 10).cast("long"), lit(9L))
    scores.join(keep, "doc_id")
      .select(band.as("band"), col("keep"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep").cast("long")).as("n_rule_keep"))
      .select(col("band"), col("n_docs"), col("n_rule_keep"),
        (col("n_rule_keep").cast("double") / col("n_docs"))
          .as("rule_keep_rate"))
      .orderBy(col("band"))
  }

  /** DSIR weights in-stream against FROZEN hashed-bucket count tables —
    * the [[streamClassifierScoreQuery]] convention: tables trained once
    * from the static corpus, each arriving micro-batch scored per-doc
    * (batch-boundary invariant by the [[dsirWeightsOver]] contract), so
    * the drained output equals the batch query's rows and the twin
    * carries text_dsir_weights' oracle text VERBATIM. At scale this is
    * the shape an ingest pipeline wants anyway: the [[DsirBuckets]]-row
    * tables broadcast to every micro-batch for free. */
  def streamDsirScoreQuery(spark: SparkSession, dir: String): DataFrame = {
    val frozen = scorerCounts(spark, dir)
    val stream = Tables.stream(spark, dir, "documents")
      // project on the STREAM side: foreachBatch bodies see a materialized
      // RDD, so only a source-plan projection reaches the scan (guide §2.3)
      .select(col("doc_id"), col("text"))
    graft.streaming.MicroBatchPipeline.drainToSlices(stream, "sdsir") { batch =>
      dsirWeightsOver(batch, frozen("ctgt"), frozen("craw"))
    }.orderBy(col("doc_id"))
  }

  /** The feature-hash count CTEs (`c(doc_id, dim, signed_count)` and
    * `n(doc_id, sq)`) — ONE SQL text behind the featurization oracle and
    * the exact-cosine search oracle in [[Similarity]], so the hash
    * replay cannot drift between them. */
  private[operators] val featureCountCtes: String =
    s"""t AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
       |      FROM documents),
       |h AS (SELECT doc_id,
       |    CAST(concat('0x', substr(md5(tok), 1, 6)) AS BIGINT)
       |      % $FeatureDims AS dim,
       |    CASE WHEN CAST(concat('0x', substr(md5(tok), 7, 2)) AS BIGINT)
       |      % 2 = 0 THEN 1 ELSE -1 END AS s
       |  FROM t),
       |c AS (SELECT doc_id, dim, CAST(SUM(s) AS BIGINT) AS signed_count
       |      FROM h GROUP BY 1, 2 HAVING SUM(s) <> 0),
       |n AS (SELECT doc_id, SUM(signed_count * signed_count) AS sq
       |      FROM c GROUP BY 1)""".stripMargin

  /** The count-LM oracle's full SQL text, factored so the per-doc
    * quality-signal export can scope it as a subquery. */
  private val lmOracleSql: String =
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |tr AS (SELECT doc_id FROM documents
         |       WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
         |         IN (${LmTrainHexPrefixes.map(h => s"'$h'").mkString(", ")})),
         |g AS (SELECT doc_id, toks[i] AS w1, toks[i] || ' ' || toks[i+1] AS gram
         |      FROM w, UNNEST(generate_series(1, len(toks) - 1)) AS t(i)
         |      WHERE len(toks) >= 2),
         |g3 AS (SELECT doc_id,
         |        toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram
         |      FROM w, UNNEST(generate_series(1, len(toks) - 2)) AS t(i)
         |      WHERE len(toks) >= 3),
         |c2 AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS c2 FROM g
         |       WHERE doc_id IN (SELECT doc_id FROM tr) GROUP BY 1),
         |c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1
         |       FROM (SELECT doc_id, UNNEST(toks) AS w1 FROM w)
         |       WHERE doc_id IN (SELECT doc_id FROM tr) GROUP BY 1),
         |c3 AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS c3 FROM g3
         |       WHERE doc_id IN (SELECT doc_id FROM tr) GROUP BY 1),
         |pb AS (SELECT g.doc_id,
         |    CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |    CAST(SUM(CASE WHEN c2.c2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_known,
         |    CAST(SUM(COALESCE(c2.c2, 0)) AS BIGINT) AS hit_mass,
         |    CAST(SUM(COALESCE(c1.c1, 0)) AS BIGINT) AS ctx_mass
         |  FROM g LEFT JOIN c2 USING (gram) LEFT JOIN c1 ON c1.w1 = g.w1
         |  GROUP BY 1),
         |pt AS (SELECT g3.doc_id,
         |    CAST(COUNT(*) AS BIGINT) AS n_trigrams,
         |    CAST(SUM(CASE WHEN c3.c3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_tri_known
         |  FROM g3 LEFT JOIN c3 USING (gram) GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(pb.n_bigrams, 0) AS n_bigrams,
         |  COALESCE(pb.n_known, 0) AS n_known,
         |  CASE WHEN COALESCE(pb.n_bigrams, 0) > 0
         |       THEN CAST(pb.n_known AS DOUBLE) / pb.n_bigrams
         |       ELSE 0.0 END AS hit_rate,
         |  COALESCE(pb.hit_mass, 0) AS hit_mass,
         |  COALESCE(pb.ctx_mass, 0) AS ctx_mass,
         |  CASE WHEN COALESCE(pb.ctx_mass, 0) > 0
         |       THEN CAST(pb.hit_mass AS DOUBLE) / pb.ctx_mass
         |       ELSE 0.0 END AS lm_score,
         |  COALESCE(pt.n_trigrams, 0) AS n_trigrams,
         |  COALESCE(pt.n_tri_known, 0) AS n_tri_known,
         |  CASE WHEN COALESCE(pt.n_trigrams, 0) > 0
         |       THEN CAST(pt.n_tri_known AS DOUBLE) / pt.n_trigrams
         |       ELSE 0.0 END AS tri_hit_rate
         |FROM documents d
         |LEFT JOIN pb ON pb.doc_id = d.doc_id
         |LEFT JOIN pt ON pt.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin

  /** The DSIR oracle's full SQL text, shared by the batch query, its
    * streaming twin, and the quality-signal export. */
  private val dsirOracleSql: String =
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |tgt AS (SELECT doc_id FROM documents
         |       WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
         |         IN (${LmTrainHexPrefixes.map(h => s"'$h'").mkString(", ")})),
         |rw AS (SELECT doc_id FROM documents
         |       WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
         |         NOT IN ('0', ${LmTrainHexPrefixes.map(h => s"'$h'").mkString(", ")})),
         |g AS (SELECT doc_id,
         |        CAST(concat('0x', substr(md5(toks[i] || ' ' || toks[i+1]), 1, 6))
         |          AS BIGINT) % $DsirBuckets AS bucket
         |      FROM w, UNNEST(generate_series(1, len(toks) - 1)) AS t(i)
         |      WHERE len(toks) >= 2),
         |ct AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c_tgt FROM g
         |       WHERE doc_id IN (SELECT doc_id FROM tgt) GROUP BY 1),
         |cr AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c_raw FROM g
         |       WHERE doc_id IN (SELECT doc_id FROM rw) GROUP BY 1),
         |per AS (SELECT g.doc_id,
         |    CAST(COUNT(*) AS BIGINT) AS n_feats,
         |    CAST(SUM(COALESCE(ct.c_tgt, 0)) AS BIGINT) AS tgt_mass,
         |    CAST(SUM(COALESCE(cr.c_raw, 0)) AS BIGINT) AS raw_mass
         |  FROM g LEFT JOIN ct USING (bucket) LEFT JOIN cr USING (bucket)
         |  GROUP BY 1),
         |base AS (SELECT d.doc_id,
         |    COALESCE(per.n_feats, 0) AS n_feats,
         |    COALESCE(per.tgt_mass, 0) AS tgt_mass,
         |    COALESCE(per.raw_mass, 0) AS raw_mass,
         |    CASE WHEN COALESCE(per.tgt_mass, 0) + COALESCE(per.raw_mass, 0) > 0
         |         THEN CAST(per.tgt_mass AS DOUBLE)
         |              / (per.tgt_mass + per.raw_mass)
         |         ELSE 0.5 END AS dsir_weight
         |  FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id)
         |SELECT doc_id, n_feats, tgt_mass, raw_mass, dsir_weight,
         |  CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 5, 4))
         |    AS BIGINT) AS DOUBLE) < dsir_weight * 65536.0 AS sampled
         |FROM base ORDER BY doc_id""".stripMargin

  /** The classifier oracle's full SQL text, factored so the curriculum
    * scheduler's oracle can scope it as a subquery (the mm_dedup_funnel
    * wrapping convention — definitional equality with the query it
    * consumes). Forward bigrams for the positive split, the SAME UNNEST
    * with the pair flipped (toks[i+1] || ' ' || toks[i]) for the
    * reversed-order negative split — the bigram occurrences of a reversed
    * sequence ARE the flipped forward pairs, so both engines derive the
    * negative corpus without materializing reversed text. */
  private val classifierOracleSql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |pos AS (SELECT doc_id FROM documents
       |       WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
       |         IN (${LmTrainHexPrefixes.map(h => s"'$h'").mkString(", ")})),
       |neg AS (SELECT doc_id FROM documents
       |       WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
       |         IN (${ClfNegHexPrefixes.map(h => s"'$h'").mkString(", ")})),
       |g AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram,
       |        toks[i+1] || ' ' || toks[i] AS rgram
       |      FROM w, UNNEST(generate_series(1, len(toks) - 1)) AS t(i)
       |      WHERE len(toks) >= 2),
       |cp AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS c_pos FROM g
       |       WHERE doc_id IN (SELECT doc_id FROM pos) GROUP BY 1),
       |cn AS (SELECT rgram AS gram, CAST(COUNT(*) AS BIGINT) AS c_neg FROM g
       |       WHERE doc_id IN (SELECT doc_id FROM neg) GROUP BY 1),
       |per AS (SELECT g.doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(COALESCE(cp.c_pos, 0)) AS BIGINT) AS pos_mass,
       |    CAST(SUM(COALESCE(cn.c_neg, 0)) AS BIGINT) AS neg_mass
       |  FROM g LEFT JOIN cp USING (gram) LEFT JOIN cn USING (gram)
       |  GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(per.n_bigrams, 0) AS n_bigrams,
       |  COALESCE(per.pos_mass, 0) AS pos_mass,
       |  COALESCE(per.neg_mass, 0) AS neg_mass,
       |  CASE WHEN COALESCE(per.pos_mass, 0) + COALESCE(per.neg_mass, 0) > 0
       |       THEN CAST(per.pos_mass AS DOUBLE)
       |            / (per.pos_mass + per.neg_mass)
       |       ELSE 0.5 END AS clf_score
       |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  private val baseSpecs: Seq[QuerySpec] = Seq(
    // HUGEINT: DuckDB widens windowed BIGINT sums — cast back for schema
    // parity. The md5 sample order replays bit-for-bat in both engines.
    withOracle("text_domain_mix", domainMix,
      s"""WITH t AS (SELECT doc_id, source,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, source, n_tokens,
         |  SUM(n_tokens) OVER (PARTITION BY source
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         |    ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM t)
         |SELECT doc_id, source, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
         |FROM c WHERE cum <= $MixTokenBudget ORDER BY doc_id""".stripMargin),
    withOracle("text_mix_temperature", mixTemperature,
      """WITH m AS (SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |d AS (SELECT *, CAST(ROUND(SQRT(CAST(n_tokens AS DOUBLE)) * 1e6)
        |    AS BIGINT) AS damped FROM m)
        |SELECT source, n_docs, n_tokens, damped,
        |  CAST(damped AS DOUBLE) / SUM(damped) OVER () AS mix_weight,
        |  (CAST(damped AS DOUBLE) / SUM(damped) OVER ())
        |    * SUM(n_tokens) OVER () / n_tokens AS epochs_at_budget
        |FROM d ORDER BY source""".stripMargin),
    // Incremental twin: id-ordered slices make first-arrival coincide
    // with first-occurrence-by-id, so the batch oracle applies verbatim.
    withOracle("text_incremental_novelty", incrementalNoveltyQuery,
      noveltyCurveOracleSql),
    withOracle("text_novelty_curve", noveltyCurve, noveltyCurveOracleSql),
    withOracle("text_novelty_by_source", noveltyBySource,
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
        |  FROM w, UNNEST(generate_series(1, len(toks) - 2)) AS t(i)),
        |f AS (SELECT g, MIN(doc_id) AS first_doc FROM sh GROUP BY 1),
        |d AS (SELECT s.doc_id, COUNT(*) AS n_grams,
        |    SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS n_novel
        |  FROM sh s JOIN f USING (g) GROUP BY s.doc_id)
        |SELECT doc.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(d.n_grams) AS BIGINT) AS n_grams,
        |  CAST(SUM(d.n_novel) AS BIGINT) AS n_novel,
        |  CAST(SUM(d.n_novel) AS DOUBLE) / SUM(d.n_grams) AS novelty_ratio
        |FROM d JOIN documents doc USING (doc_id)
        |GROUP BY doc.source ORDER BY doc.source""".stripMargin),
    withOracle("text_repetition", repetition,
      """WITH sh AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) - 2 AS BIGINT) AS n_shingles,
        |    CAST((SELECT COUNT(DISTINCT toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |          FROM (SELECT string_split(text, ' ') AS toks) w,
        |               UNNEST(generate_series(1, len(toks) - 2)) AS t(i)) AS BIGINT)
        |      AS n_distinct
        |  FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3)
        |SELECT doc_id, n_shingles, n_distinct,
        |  1.0 - CAST(n_distinct AS DOUBLE) / n_shingles AS repetition_ratio
        |FROM sh ORDER BY doc_id""".stripMargin),
    withOracle("text_token_stats", tokenStats,
      """SELECT doc_id,
        |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_unique,
        |  CAST(length(replace(text,' ','')) AS BIGINT) AS n_token_chars,
        |  CAST(length(replace(text,' ','')) AS DOUBLE) / len(string_split(text,' ')) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin),
    withOracle("text_quality_score", qualityScore,
      s"""SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
         |    / len(string_split(text,' ')) AS ttr,
         |  CAST(len(list_filter(string_split(text,' '),
         |        t -> t IN (${inList(stopwords)}))) AS DOUBLE)
         |    / len(string_split(text,' ')) AS stop_ratio,
         |  CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
         |    / length(text) AS alpha_ratio
         |FROM documents ORDER BY doc_id""".stripMargin),
    withOracle("text_langid", langIdQuery,
      s"""SELECT doc_id, $langCaseSql AS lang_pred,
         |  CAST(score_en AS BIGINT) AS score_en, CAST(score_de AS BIGINT) AS score_de,
         |  CAST(score_es AS BIGINT) AS score_es, CAST(score_fr AS BIGINT) AS score_fr
         |FROM (SELECT doc_id,
         |  $langScoreSql
         |FROM documents) ORDER BY doc_id""".stripMargin),
    withOracle("text_fingerprint", fingerprintQuery,
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),
    withOracle("text_pii_scrub", piiScrub,
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(text, '[A-Za-z0-9._]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'),
        |    '[0-9]{3,}', '<NUM>', 'g') AS scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin),
    withOracle("text_ngram_freq", ngramFreq,
      """WITH w AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT toks[i] || ' ' || toks[i+1] AS gram
        |      FROM w, UNNEST(generate_series(1, len(toks)-1)) AS t(i)
        |      WHERE len(toks) >= 2)
        |SELECT gram, CAST(COUNT(*) AS BIGINT) AS n FROM g
        |GROUP BY gram ORDER BY n DESC, gram ASC LIMIT 20""".stripMargin),
    // Chunk geometry replay: the shared w/s/rc CTEs (ragChunkCtes — one
    // text with the late-interaction consumers, no drift).
    withOracle("text_rag_chunks", ragChunks,
      s"""WITH $ragChunkCtes
         |SELECT doc_id, chunk_id, start_token, n_chunk_tokens, chunk_text
         |FROM rc ORDER BY doc_id, chunk_id""".stripMargin),
    withOracle("text_rare_bigram_ratio", rareBigramRatio,
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] AS gram
        |      FROM w, UNNEST(generate_series(1, len(toks)-1)) AS t(i)
        |      WHERE len(toks) >= 2),
        |dfreq AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY 1),
        |per_doc AS (
        |  SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(CASE WHEN dfreq.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
        |  FROM g JOIN dfreq USING (gram) GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(p.n_bigrams, 0) AS n_bigrams,
        |  COALESCE(p.n_unique, 0) AS n_unique,
        |  CASE WHEN COALESCE(p.n_bigrams, 0) > 0
        |       THEN CAST(p.n_unique AS DOUBLE) / p.n_bigrams
        |       ELSE 0.0 END AS novelty
        |FROM documents d LEFT JOIN per_doc p USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    withOracle("text_classifier_score", classifierScore, classifierOracleSql),
    // Calibration: the classifier oracle scoped as a subquery (the
    // curriculum convention), the gate CTE spliced verbatim (the
    // curation-funnel convention), banded by the same fixed decile cut.
    withOracle("text_classifier_calibration", classifierCalibration,
      s"""WITH clf AS (SELECT doc_id, clf_score FROM ($classifierOracleSql)),
         |${QualityGate.gateCteSql},
         |b AS (SELECT LEAST(CAST(FLOOR(c.clf_score * 10) AS BIGINT), 9)
         |    AS band, g.keep
         |  FROM clf c JOIN gate g USING (doc_id))
         |SELECT band, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_rule_keep,
         |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         |    AS rule_keep_rate
         |FROM b GROUP BY band ORDER BY band""".stripMargin),
    // Curriculum replay: the classifier oracle scoped as a subquery, the
    // fixed band cuts and md5-conv sub-shard key re-derived, then the
    // manifest window over the handful of (band, bucket) rows.
    withOracle("text_curriculum_shards", curriculumShards,
      s"""WITH clf AS (SELECT doc_id, clf_score FROM ($classifierOracleSql)),
         |t AS (SELECT d.doc_id,
         |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         |    CAST(${CurriculumCuts.map(c =>
               s"(CASE WHEN c.clf_score >= $c THEN 1 ELSE 0 END)")
               .mkString(" + ")} AS BIGINT) AS band,
         |    CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6))
         |      AS BIGINT) % $CurriculumSubShards AS bucket
         |  FROM documents d JOIN clf c ON c.doc_id = d.doc_id),
         |m AS (SELECT band, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
         |  FROM t GROUP BY band, bucket)
         |SELECT band * $CurriculumSubShards + bucket AS shard_id, band, bucket,
         |  n_docs, sum_tokens,
         |  CAST(row_number() OVER (ORDER BY band, bucket) AS BIGINT)
         |    AS curriculum_pos,
         |  CAST(SUM(sum_tokens) OVER (ORDER BY band, bucket
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |FROM m ORDER BY curriculum_pos""".stripMargin),
    // Count-LM replay: same md5 train split, same gram definitions (w/g
    // mirror the rare-bigram CTEs but keep OCCURRENCES, not DISTINCT), and
    // every score is a single division of two BIGINT sums.
    withOracle("text_lm_score", lmScore, lmOracleSql),

    // Feature hashing replay: dim/sign from disjoint md5 slices, counts
    // as BIGINT sums, one division by a sqrt of an exact integer.
    withOracle("text_feature_embedding", featureEmbedding,
      s"""WITH $featureCountCtes
         |SELECT c.doc_id, c.dim, c.signed_count,
         |  CAST(c.signed_count AS DOUBLE) / sqrt(CAST(n.sq AS DOUBLE))
         |    AS weight
         |FROM c JOIN n USING (doc_id)
         |ORDER BY doc_id, dim""".stripMargin),
    // DSIR replay: same md5 splits, the hashed-bucket key re-derived via
    // the concat('0x', md5-hex) cast (the curriculum sub-shard
    // convention), masses as BIGINT sums, weight as one division, and
    // the resampling draw from md5 chars 5-8 (independent of the split
    // prefix at char 1).
    withOracle("text_dsir_weights", dsirWeights, dsirOracleSql),
    // The quality vector: all four factored scorer texts scoped as
    // subqueries (the curriculum convention), one wide row per doc —
    // none of the replays can drift from its parent query.
    withOracle("text_quality_signals", qualitySignals,
      s"""WITH lm AS (SELECT doc_id, hit_rate, lm_score FROM ($lmOracleSql)),
         |clf AS (SELECT doc_id, clf_score FROM ($classifierOracleSql)),
         |ds AS (SELECT doc_id, dsir_weight FROM ($dsirOracleSql)),
         |${QualityGate.gateCteSql}
         |SELECT d.doc_id, g.keep, lm.hit_rate, lm.lm_score,
         |  clf.clf_score, ds.dsir_weight
         |FROM documents d
         |JOIN gate g ON g.doc_id = d.doc_id
         |JOIN lm ON lm.doc_id = d.doc_id
         |JOIN clf ON clf.doc_id = d.doc_id
         |JOIN ds ON ds.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    withOracle("text_tfidf_top_term", tfidfTopTerm,
      """WITH terms AS (
        |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM terms GROUP BY 1, 2),
        |df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        |       FROM terms GROUP BY 1)
        |SELECT doc_id, term AS top_term, tf, df,
        |  CAST(tf AS DOUBLE)/df AS salience
        |FROM (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |      ORDER BY CAST(tf.tf AS DOUBLE)/df.df DESC, tf.term ASC) AS rn
        |  FROM tf JOIN df USING (term)) t
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin),
    withOracle("text_tokenize_regex", tokenizeRegex,
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpe_units,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        |  array_to_string(list_slice(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'), 1, 3), '|') AS head_units
        |FROM documents ORDER BY doc_id""".stripMargin),
    rowsOnly("text_compression_ratio", compressionRatio),
    rowsOnly("text_wordpiece_tokens", wordpieceTokens),
    withOracle("text_lang_confusion", langConfusion,
      s"""SELECT lang, $langCaseSql AS lang_pred,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs
         |FROM (SELECT lang, $langScoreSql FROM documents)
         |GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin),
    // Ratios are ratios of integer sums (order-independent), duplicate
    // and contamination flags replayed with the same md5/fingerprint
    // identities the other oracles use.
    withOracle("text_data_card", dataCard,
      s"""WITH b AS (SELECT source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
         |    CAST(length(text) AS BIGINT) AS chars,
         |    CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS alpha,
         |    CAST(len(list_filter(string_split(text, ' '),
         |        t -> t IN (${inList(stopwords)}))) AS BIGINT) AS stops,
         |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0' AS is_eval,
         |    md5(text) AS chash,
         |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
         |  FROM documents),
         |dup AS (SELECT chash FROM b GROUP BY chash HAVING COUNT(*) > 1),
         |ev AS (SELECT DISTINCT fp FROM b WHERE is_eval)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(toks) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CASE WHEN is_eval THEN 1 ELSE 0 END) AS BIGINT) AS n_eval_docs,
         |  CAST(SUM(CASE WHEN chash IN (SELECT chash FROM dup)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup_docs,
         |  CAST(SUM(CASE WHEN NOT is_eval AND fp IN (SELECT fp FROM ev)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
         |  CAST(SUM(alpha) AS DOUBLE) / SUM(chars) AS alpha_ratio,
         |  CAST(SUM(stops) AS DOUBLE) / SUM(toks) AS stop_ratio
         |FROM b GROUP BY source ORDER BY source""".stripMargin))

  /** The streaming twin carries text_lm_score's oracle text VERBATIM —
    * fetched from the registered spec, so the two replays cannot drift. */
  // Both streaming twins carry their batch query's oracle text VERBATIM:
  // frozen-state scoring is batch-boundary invariant, so drained output
  // equals the batch rows and one SQL text cannot drift across the pair.
  val specs: Seq[QuerySpec] = baseSpecs ++ Seq(
    QuerySpec("stream_lm_score", streamLmScoreQuery,
      baseSpecs.find(_.name == "text_lm_score").get.oracle),
    QuerySpec("stream_classifier_score", streamClassifierScoreQuery,
      baseSpecs.find(_.name == "text_classifier_score").get.oracle),
    QuerySpec("stream_dsir_score", streamDsirScoreQuery,
      baseSpecs.find(_.name == "text_dsir_weights").get.oracle),
    QuerySpec("stream_feature_embed", streamFeatureEmbedQuery,
      baseSpecs.find(_.name == "text_feature_embedding").get.oracle),
    QuerySpec("stream_quality_signals", streamQualitySignalsQuery,
      baseSpecs.find(_.name == "text_quality_signals").get.oracle))
}
