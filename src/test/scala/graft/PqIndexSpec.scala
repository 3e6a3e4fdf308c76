package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{IndexFiles, PqIndex, Similarity}

class PqIndexSpec extends SparkSpec {

  private def keyOf(df: DataFrame): Seq[(Long, Long, Long)] =
    df.select("query_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  private def queriesOf(dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") < Similarity.NumQueryVectors)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))

  test("persisted PQ query path equals the transient topKPq exactly") {
    // Same corpus => same deterministic codebook training => identical
    // codes, ADC ranks, and exact re-rank — the parquet round-trip plus
    // the narrow-scan/fetch-back plan restructuring must change nothing.
    val persisted = PqIndex.topKPqPersisted(spark, sf)
    val transient = Similarity.topKPq(spark, sf)
    assert(keyOf(persisted) == keyOf(transient))
    assert(keyOf(persisted).nonEmpty)
  }

  test("append-then-query equals rebuild-then-query (frozen codebooks)") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val top = emb.agg(max(col("vec_id"))).head().getLong(0)
    val (cut1, cut2) = (top / 3, 2 * top / 3)

    val inc = TempDirs.scoped("graft_pq_inc")
    PqIndex.build(emb.filter(col("vec_id") <= cut1), inc)
    PqIndex.append(emb.filter(col("vec_id") > cut1 && col("vec_id") <= cut2), inc)
    PqIndex.layout.compact(spark, inc, 1)
    PqIndex.append(emb.filter(col("vec_id") > cut2), inc)

    val full = TempDirs.scoped("graft_pq_full")
    PqIndex.build(emb, full,
      codebooks = Some(IndexFiles.loadCodebooks(spark, inc)))

    val q = queriesOf(sf)
    assert(keyOf(PqIndex.topK(spark, inc, q, emb)) ==
      keyOf(PqIndex.topK(spark, full, q, emb)))
  }

  test("replayed append slice id overwrites instead of doubling codes") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val top = emb.agg(max(col("vec_id"))).head().getLong(0)
    val idx = TempDirs.scoped("graft_pq_replay")
    PqIndex.build(emb.filter(col("vec_id") <= top / 2), idx)
    val id = PqIndex.append(emb.filter(col("vec_id") > top / 2), idx)
    val n = PqIndex.layout.live(spark, idx).count()
    PqIndex.append(emb.filter(col("vec_id") > top / 2), idx, sliceId = id)
    assert(PqIndex.layout.live(spark, idx).count() == n)
  }

  test("persisted codes match the codegen encoder against frozen codebooks") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val idx = TempDirs.scoped("graft_pq_codes")
    PqIndex.build(emb, idx)
    val cbs = IndexFiles.loadCodebooks(spark, idx)
    val fresh = emb.select(col("vec_id"),
        graft.functions.GraftExpressions.pqEncode(col("embedding"), cbs,
          Similarity.PqSubspaces, Similarity.PqCodebookSize).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val stored = PqIndex.layout.live(spark, idx)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(stored == fresh)
    assert(stored.nonEmpty)
  }
}
