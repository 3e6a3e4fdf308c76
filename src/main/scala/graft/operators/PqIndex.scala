package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables, TempDirs}

/** Persisted product-quantization index — the PQ twin of [[IvfIndex]],
  * closing the same lifecycle gap: [[Similarity.topKPq]] retrains its
  * codebooks and re-encodes the corpus on every query invocation, which a
  * serving deployment does exactly once.
  *
  * The persisted layout also fixes the transient path's one scale
  * concession: topKPq scans (vec_id, embedding, codes) rows — 256-byte
  * vectors riding along so the re-rank can reach them. Here the ADC scan
  * touches ONLY the persisted codes (vec_id + m 4-bit codes ≈ 16 bytes/row,
  * a 16× narrower scan), and the |queries|·PqRerank candidates fetch their
  * full vectors back from the corpus by id afterwards — at 100 TB that is
  * the difference between scanning the corpus and scanning its compressed
  * shadow.
  *
  * On-disk layout under `dir` ([[layout]], the shared b/c slice convention):
  *   - `dir/codebooks/` — m·ks rows of (subspace, code, centroid), written
  *     once at build and FROZEN; appends encode against these (retraining
  *     would silently invalidate every persisted code).
  *   - `dir/codes/b<N>/` — per-slice (vec_id, codes). No partition column:
  *     ADC is a full compressed scan by design, there is nothing to prune.
  *   - `dir/tombstones/b<N>/` — deleted vec_ids; compaction folds them.
  *
  * Replay safety matches [[IvfIndex]]: appends write overwrite-mode slices
  * keyed by slice id.
  */
object PqIndex {

  private[graft] val layout = IndexFiles.Layout("persisted PQ index",
    sliced = Seq("codes"), tombs = "tombstones", idCol = "vec_id",
    partitionCol = None, frozen = Seq(IndexFiles.Codebooks))

  /** Build: train codebooks from the corpus (or freeze the given ones) and
    * write codes slice b0. */
  def build(emb: DataFrame, dir: String,
      codebooks: Option[Array[Array[Double]]] = None): Unit = {
    val cbs = codebooks.getOrElse(Similarity.learnPqCodebooks(emb))
    IndexFiles.writeCodebooks(emb.sparkSession, dir, cbs)
    layout.append(encode(emb, cbs), dir, 0L)
  }

  /** Append a corpus slice: encode against the FROZEN codebooks, write a
    * new codes slice. Passing an id already in the index replaces that
    * slice (idempotent replay). Returns the slice id. */
  def append(emb: DataFrame, dir: String, sliceId: Long = -1L): Long =
    layout.append(encode(emb, IndexFiles.loadCodebooks(emb.sparkSession, dir)),
      dir, sliceId)

  private def encode(emb: DataFrame, cbs: Array[Array[Double]]): DataFrame =
    emb.select(col("vec_id"),
      graft.functions.GraftExpressions.pqEncode(col("embedding"), cbs,
        Similarity.PqSubspaces, Similarity.PqCodebookSize).as("codes"))

  /** Answer a query frame (query_id, qv) against the persisted index:
    * per-query ADC lookup tables built on the driver (|q|·m·ks doubles,
    * same recipe as the transient path), the narrow codes scan ranks the
    * top [[Similarity.PqRerank]] per query by approximate dot, and only
    * those candidates join back to `corpus` (vec_id, embedding) for the
    * exact cosine re-rank — the fetch-back is |q|·PqRerank rows against a
    * broadcast hit list, never a corpus shuffle. `asOf` answers from the
    * snapshot at that slice id (codebooks are frozen at build time, so a
    * snapshot needs only the slice filter). */
  def topK(spark: SparkSession, dir: String, queries: DataFrame,
      corpus: DataFrame, asOf: Long = Long.MaxValue): DataFrame = {
    val queryLuts = Similarity.pqQueryLuts(queries,
      IndexFiles.loadCodebooks(spark, dir))
    val approx = Similarity.adcScore
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("vec_id").asc)
    val candidates = layout.live(spark, dir, asOf)
      .join(broadcast(queryLuts), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qv"), col("vec_id"), approx.as("adc"))
      .withColumn("ar", row_number().over(wAdc))
      .filter(col("ar") <= Similarity.PqRerank)
      .select(col("query_id"), col("qv"), col("vec_id"))
    Similarity.rankTopK(corpus.select(col("vec_id"), col("embedding"))
      .join(broadcast(candidates), Seq("vec_id"))
      .select(col("query_id"), col("vec_id"),
        Similarity.cos(col("qv"), col("embedding")).as("score")))
  }

  /** Declared query: build the persisted PQ index from the embeddings
    * table, answer the standard query set from the persisted codes with
    * corpus fetch-back. ROWS-ONLY (data-trained codebooks); pinned equal
    * to the transient [[Similarity.topKPq]] in PqIndexSpec, which carries
    * its recall pin across. */
  def topKPqPersisted(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    // built once per corpus per JVM, served read-only (graft.StateCache)
    val idx = graft.StateCache.stateDir(dir, "pq/build", "graft_pqidx") {
      idx => build(emb, idx)
    }
    val queries = emb.filter(col("vec_id") < Similarity.NumQueryVectors)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    topK(s, idx, queries, emb)
  }

  import graft.QuerySpec.{rowsOnly, withOracle}

  val specs: Seq[QuerySpec] = Seq(
    withOracle("sim_topk_pq_persisted", topKPqPersisted,
      Similarity.pqTopKOracleSql))
}
