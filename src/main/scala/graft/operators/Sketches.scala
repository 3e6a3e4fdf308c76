package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}
import graft.functions.TextFunctions.tokens

/** Count-min sketch over the token stream — the bounded-state frequency
  * primitive (Cormode & Muthukrishnan) a 100 TB corpus needs where an
  * exact token groupBy does not fit: the sketch is a fixed d×w counter
  * grid (here 4×1024 = 4096 cells) REGARDLESS of vocabulary size, each
  * cell a sum — a commutative monoid, so partial aggregation map-side
  * combines and per-batch slices fold to the exact same grid any other
  * batching produces (the corr-moments reproducibility argument, on
  * counters). Estimates read min over the d hashed cells and can only
  * OVERcount (collisions add, never subtract) — the declared query
  * audits that guarantee against the exact top-k.
  *
  * Everything is integer arithmetic on md5-derived hashes, so DuckDB
  * replays the sketch bit-for-bit — the rare case where an
  * approximate structure gets a full differential oracle.
  */
object Sketches {

  /** Sketch depth (independent hash rows). */
  val CmsDepth = 4

  /** Sketch width (counters per row); 2^10 keeps the declared query
    * readable while exercising real collisions at sf0.1 vocab size. */
  val CmsWidth = 1024

  /** Heavy hitters audited: the exact top tokens by (count desc, token
    * asc). */
  val CmsTopTokens = 20

  /** Row-i bucket of a token: the first 8 md5 hex digits of "i:token"
    * mod [[CmsWidth]] — always in [0, 2^32), so the mod is
    * sign-safe in both engines. */
  private def bucket(row: Column, tok: Column): Column =
    conv(substring(md5(concat(row.cast("string"), lit(":"), tok)), 1, 8),
      16, 10).cast("long") % CmsWidth

  /** The whitespace token stream of the documents table. */
  private def tokenStream(docs: DataFrame): DataFrame =
    docs.select(explode(tokens(col("text"))).as("t"))
      .filter(length(col("t")) > 0)

  /** Exact per-token counts of a token frame — the vocabulary-sized
    * reduction both the grid and the exact top-k are functions of. */
  private[graft] def tokenCounts(toks: DataFrame): DataFrame =
    toks.groupBy(col("t")).agg(count(lit(1)).as("n"))

  /** The sketch grid over any token frame: (row, bucket, c) — at most
    * d·w rows out of a corpus-sized stream. Built in two reductions:
    * tokens collapse to exact per-token counts FIRST (one map-side-
    * combined groupBy on the raw token), then the d md5 bucket hashes
    * are computed once per DISTINCT token and the counts re-aggregate
    * into cells. Cell values are identical (a cell is Σ over tokens of
    * that token's count), but the d-per-occurrence md5s — the sketch's
    * dominant per-row cost — drop to d-per-vocabulary-entry, and the
    * d-way explode multiplies the vocabulary, not the stream. */
  private[graft] def cmsGrid(toks: DataFrame): DataFrame =
    gridOfCounts(tokenCounts(toks))

  /** The cell re-aggregation over a (t, n) count table. */
  private def gridOfCounts(tc: DataFrame): DataFrame =
    tc.select(col("t"), col("n"),
        explode(array((0 until CmsDepth).map(lit(_)): _*)).as("row"))
      .select(col("row"), bucket(col("row"), col("t")).as("bucket"), col("n"))
      .groupBy(col("row"), col("bucket"))
      .agg(sum(col("n")).as("c"))

  /** Estimate the exact top-k tokens against a sketch grid and report
    * the guaranteed-nonnegative overestimate. The top-k frame is tiny,
    * so its d probes broadcast against the ≤ d·w-row grid. */
  private[graft] def heavyHittersOver(toks: DataFrame,
      grid: DataFrame): DataFrame =
    heavyHittersOverCounts(tokenCounts(toks), grid)

  /** [[heavyHittersOver]] when the exact token counts are already in
    * hand — lets one token reduction feed both the grid build and the
    * exact top-k instead of tokenizing the corpus twice. */
  private[graft] def heavyHittersOverCounts(tc: DataFrame,
      grid: DataFrame): DataFrame = {
    val exact = tc.select(col("t"), col("n").as("n_exact"))
      .orderBy(col("n_exact").desc, col("t").asc)
      .limit(CmsTopTokens)
    val probes = exact.select(col("t"), col("n_exact"),
        explode(array((0 until CmsDepth).map(lit(_)): _*)).as("row"))
      .select(col("t"), col("n_exact"), col("row"),
        bucket(col("row"), col("t")).as("bucket"))
    broadcast(probes).join(grid, Seq("row", "bucket"))
      .groupBy(col("t"), col("n_exact"))
      .agg(min(col("c")).as("n_cms"))
      .select(col("t").as("token"), col("n_exact"), col("n_cms"),
        (col("n_cms") - col("n_exact")).as("overestimate"))
      .orderBy(col("n_exact").desc, col("token").asc)
  }

  /** Declared query — heavy hitters through the sketch, audited against
    * exact counts. The corpus is tokenized and count-reduced ONCE; the
    * vocabulary-sized count table (eagerly checkpointed — DataFrame
    * plans don't dedupe identical subtrees, so the grid arm and the
    * exact arm would each re-run the tokenize + reduce) then feeds both
    * the sketch build and the exact top-k. */
  def heavyHittersQuery(s: SparkSession, dir: String): DataFrame = {
    val tc = tokenCounts(tokenStream(Tables.documents(s, dir)))
      .localCheckpoint(true)
    heavyHittersOverCounts(tc, gridOfCounts(tc))
  }

  /** Declared query — the sketch built IN-STREAM: each micro-batch
    * writes its own partial grid (a monoid slice), the final read sums
    * the slices cell-wise and serves the same heavy-hitter audit.
    * Counter addition is associative and commutative, so ANY batching
    * folds to the identical grid and the twin carries the batch
    * oracle text VERBATIM — the corr-moments argument on counters. */
  def streamCmsQuery(spark: SparkSession, dir: String): DataFrame = {
    val stream = Tables.stream(spark, dir, "documents")
      // stream-side projection — the foreachBatch scan-pruning rule
      .select(col("doc_id"), col("text"))
    val folded = graft.streaming.MicroBatchPipeline
      .drainToSlices(stream, "cms") { batch => cmsGrid(tokenStream(batch)) }
      .groupBy(col("row"), col("bucket"))
      .agg(sum(col("c")).as("c"))
    heavyHittersOver(tokenStream(Tables.documents(spark, dir)), folded)
  }

  /** ONE oracle text behind the batch sketch and its streaming twin. */
  private val cmsOracleSql: String = {
    val rows = (0 until CmsDepth).mkString(", ")
    s"""WITH tok AS (
       |  SELECT t FROM documents,
       |    UNNEST(string_split(text, ' ')) AS u(t)
       |  WHERE len(t) > 0),
       |cells AS (
       |  SELECT i AS row,
       |    CAST(concat('0x', substr(md5(concat(CAST(i AS VARCHAR), ':', t)),
       |      1, 8)) AS BIGINT) % $CmsWidth AS bucket,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM tok, UNNEST([$rows]) AS g(i)
       |  GROUP BY 1, 2),
       |ex AS (
       |  SELECT t, CAST(COUNT(*) AS BIGINT) AS n_exact
       |  FROM tok GROUP BY 1
       |  ORDER BY n_exact DESC, t ASC LIMIT $CmsTopTokens),
       |probes AS (
       |  SELECT t, n_exact, i AS row,
       |    CAST(concat('0x', substr(md5(concat(CAST(i AS VARCHAR), ':', t)),
       |      1, 8)) AS BIGINT) % $CmsWidth AS bucket
       |  FROM ex, UNNEST([$rows]) AS g(i))
       |SELECT p.t AS token, p.n_exact,
       |  CAST(MIN(c.c) AS BIGINT) AS n_cms,
       |  CAST(MIN(c.c) - p.n_exact AS BIGINT) AS overestimate
       |FROM probes p JOIN cells c ON c.row = p.row AND c.bucket = p.bucket
       |GROUP BY p.t, p.n_exact
       |ORDER BY p.n_exact DESC, token ASC""".stripMargin
  }

  import QuerySpec.withOracle

  val specs: Seq[QuerySpec] = Seq(
    withOracle("text_heavy_hitters_cms", heavyHittersQuery, cmsOracleSql),
    withOracle("stream_cms_merge", streamCmsQuery, cmsOracleSql))
}
