package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, IndexFiles, IvfIndex, IvfPqIndex, PqIndex,
  Similarity}
import graft.streaming.StreamingDedup

/** The persisted indexes' DELETE/tombstone lifecycle (the reference's O15
  * staging delete re-expressed for durable serving state): forget-then-query
  * equals rebuild-without-forgotten, compaction folds tombstones into the
  * physical slices, replayed deletes are idempotent, and a re-append after a
  * delete resurrects the id (the slice-id clock is the LSM ordering). */
class TombstoneSpec extends SparkSpec {

  private def keyOf(df: DataFrame): Seq[(Long, Long, Long)] =
    df.select("query_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  private def emb: DataFrame =
    Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))

  private def queries: DataFrame =
    emb.filter(col("vec_id") < Similarity.NumQueryVectors)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))

  private def deletedIds: Set[Long] =
    IvfIndex.deleteSet(emb).collect().map(_.getLong(0)).toSet

  test("IVF: delete-then-query equals rebuild-without-deleted") {
    val idx = TempDirs.scoped("graft_tomb_ivf")
    IvfIndex.build(emb, idx)
    IvfIndex.layout.delete(IvfIndex.deleteSet(emb), idx)
    val afterDelete = keyOf(IvfIndex.topK(spark, idx, queries))

    // Rebuild over the filtered corpus under the SAME frozen centroids:
    // the tombstone anti-join must be indistinguishable from never having
    // indexed the deleted vectors.
    val dead = deletedIds
    val rebuilt = TempDirs.scoped("graft_tomb_ivf_rebuild")
    IvfIndex.build(emb.filter(!col("vec_id").isin(dead.toSeq.map(Long.box): _*)),
      rebuilt, centroids = Some(IndexFiles.loadCentroids(spark, idx)))
    assert(afterDelete == keyOf(IvfIndex.topK(spark, rebuilt, queries)))
    assert(afterDelete.nonEmpty)
    assert(afterDelete.forall { case (_, _, v) => !dead.contains(v) })
    // And the declared query is exactly this path.
    assert(keyOf(IvfIndex.topKIvfDeleted(spark, sf)) == afterDelete)
  }

  test("IVF: compaction folds tombstones physically and removes them") {
    val idx = TempDirs.scoped("graft_tomb_fold")
    IvfIndex.build(emb, idx)
    val tombId = IvfIndex.layout.delete(IvfIndex.deleteSet(emb), idx)
    val before = keyOf(IvfIndex.topK(spark, idx, queries))
    IvfIndex.layout.compact(spark, idx, tombId)
    // Tombstones consumed; the surviving slice physically lacks the ids.
    assert(IndexFiles.listSlices(spark, s"$idx/tombstones").isEmpty)
    val slices = IndexFiles.listSlices(spark, s"$idx/postings")
      .map(_.split('/').last)
    assert(slices == Seq(s"c$tombId"), s"unexpected slices $slices")
    val dead = deletedIds
    val physical = spark.read.parquet(s"$idx/postings/c$tombId")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(physical.intersect(dead).isEmpty)
    assert(keyOf(IvfIndex.topK(spark, idx, queries)) == before)
  }

  test("IVF: as-of snapshot serves the pre-delete state") {
    val idx = TempDirs.scoped("graft_tomb_asof")
    IvfIndex.build(emb, idx)
    val before = keyOf(IvfIndex.topK(spark, idx, queries))
    // Vacuity guard: the forget-set must actually appear in the pre-delete
    // top-k, or the snapshot comparison proves nothing.
    assert(before.exists { case (_, _, v) => deletedIds.contains(v) })
    IvfIndex.layout.delete(IvfIndex.deleteSet(emb), idx)
    assert(keyOf(IvfIndex.topK(spark, idx, queries, asOf = 0L)) == before)
    // The declared query is exactly this lifecycle (deterministic build).
    assert(keyOf(IvfIndex.topKIvfAsOf(spark, sf)) == before)
  }

  test("IVF: as-of excludes later appends; compaction past it fails loudly") {
    val idx = TempDirs.scoped("graft_tomb_asof_app")
    IvfIndex.build(emb.filter(col("vec_id") % 2 === 0), idx)
    val pre = keyOf(IvfIndex.topK(spark, idx, queries))
    assert(IvfIndex.append(emb.filter(col("vec_id") % 2 === 1), idx) == 1L)
    // Live reads see the append; the slice-0 snapshot does not.
    assert(keyOf(IvfIndex.topK(spark, idx, queries)) != pre)
    assert(keyOf(IvfIndex.topK(spark, idx, queries, asOf = 0L)) == pre)
    // Compaction past the snapshot coarsens history: the snapshot read
    // must refuse, not silently serve the merged state.
    IvfIndex.layout.compact(spark, idx, 1L)
    val e = intercept[IllegalArgumentException] {
      IvfIndex.topK(spark, idx, queries, asOf = 0L)
    }
    assert(e.getMessage.contains("snapshot"))
  }

  test("IVF: compaction purges a tombstone that provably kills nothing") {
    // A delete that runs before any append (tombstone b0, empty postings)
    // covers no slice: compaction must remove it, or an index that only
    // ever received deletes pays the tagged anti-join read forever.
    val only = TempDirs.scoped("graft_tomb_only_delete")
    val t0 = IvfIndex.layout.delete(IvfIndex.deleteSet(emb), only)
    assert(t0 == 0L)
    IvfIndex.layout.compact(spark, only, t0)
    assert(IndexFiles.listSlices(spark, s"$only/tombstones").isEmpty,
      "tombstone with no data slice at or below it must be purged")
  }

  test("IVF: replayed delete is idempotent; re-append resurrects the id") {
    val idx = TempDirs.scoped("graft_tomb_replay")
    IvfIndex.build(emb, idx)
    val ids = IvfIndex.deleteSet(emb)
    val tombId = IvfIndex.layout.delete(ids, idx)
    val once = keyOf(IvfIndex.topK(spark, idx, queries))
    IvfIndex.layout.delete(ids, idx, sliceId = tombId) // retry replaces its slice
    assert(keyOf(IvfIndex.topK(spark, idx, queries)) == once)

    // Re-appending the forgotten vectors (a NEWER slice than the
    // tombstone) brings them back: the index equals the never-deleted one.
    val fullBefore = TempDirs.scoped("graft_tomb_full")
    IvfIndex.build(emb, fullBefore,
      centroids = Some(IndexFiles.loadCentroids(spark, idx)))
    val dead = deletedIds
    val reAddId = IvfIndex.append(
      emb.filter(col("vec_id").isin(dead.toSeq.map(Long.box): _*)), idx)
    val resurrected = keyOf(IvfIndex.topK(spark, idx, queries))
    assert(resurrected == keyOf(IvfIndex.topK(spark, fullBefore, queries)))
    // Slice-precise folding: compacting over b0 + tombstone + the re-add
    // must kill only the PRE-tombstone copies — the re-added rows (newer
    // than the tombstone) survive the fold.
    IvfIndex.layout.compact(spark, idx, reAddId)
    assert(keyOf(IvfIndex.topK(spark, idx, queries)) == resurrected)
  }

  test("PQ and IVF+PQ: delete excludes the ids; PQ compact folds") {
    val dead = deletedIds
    val deadCol = col("vec_id").isin(dead.toSeq.map(Long.box): _*)

    val pq = TempDirs.scoped("graft_tomb_pq")
    PqIndex.build(emb, pq)
    val preDelete = keyOf(PqIndex.topK(spark, pq, queries, emb))
    val tombId = PqIndex.layout.delete(IvfIndex.deleteSet(emb), pq)
    val afterDelete = keyOf(PqIndex.topK(spark, pq, queries, emb))
    // The shared as-of verb holds on the PQ layout too.
    assert(keyOf(PqIndex.topK(spark, pq, queries, emb, asOf = 0L)) == preDelete)
    val pqRebuilt = TempDirs.scoped("graft_tomb_pq_rebuild")
    PqIndex.build(emb.filter(!deadCol), pqRebuilt,
      codebooks = Some(IndexFiles.loadCodebooks(spark, pq)))
    assert(afterDelete ==
      keyOf(PqIndex.topK(spark, pqRebuilt, queries, emb.filter(!deadCol))))
    PqIndex.layout.compact(spark, pq, tombId)
    assert(IndexFiles.listSlices(spark, s"$pq/tombstones").isEmpty)
    assert(keyOf(PqIndex.topK(spark, pq, queries, emb)) == afterDelete)

    val ivfpq = TempDirs.scoped("graft_tomb_ivfpq")
    IvfPqIndex.build(emb, ivfpq)
    val ivfpqPre = keyOf(IvfPqIndex.topK(spark, ivfpq, queries, emb))
    IvfPqIndex.layout.delete(IvfIndex.deleteSet(emb), ivfpq)
    val got = keyOf(IvfPqIndex.topK(spark, ivfpq, queries, emb))
    assert(got.nonEmpty)
    assert(got.forall { case (_, _, v) => !dead.contains(v) })
    assert(keyOf(IvfPqIndex.topK(spark, ivfpq, queries, emb, asOf = 0L))
      == ivfpqPre)
  }

  test("LSH text index: as-of serves the slice-0 snapshot; compaction past it refuses") {
    val docs = Tables.documents(spark, sf)
    val isEval = substring(md5(col("doc_id").cast("string")), 1, 1) === "0"
    val train = docs.filter(!isEval)
    val eval = docs.filter(isEval)
    val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2

    def serve(state: String, asOf: Long): Seq[(Long, Long)] = {
      val out = TempDirs.scoped("graft_tomb_asoftxt_out")
      StreamingDedup.serveTextBatch(eval, state, out, batchId = 0L,
        Dedup.JaccardThreshold, StreamingDedup.DefaultBucketCap, asOf)
      spark.read.parquet(s"$out/b0").select("query_doc", "match_doc")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    }

    // Index only the first half, snapshot-reference serve.
    val refState = TempDirs.scoped("graft_tomb_asoftxt_ref")
    val refSink = TempDirs.scoped("graft_tomb_asoftxt_ref_sink")
    StreamingDedup.appendBatch(train.filter(col("doc_id") <= cut),
      refState, refSink).count()
    val snapshot = serve(refState, Long.MaxValue)

    assert(snapshot.nonEmpty, "no slice-0 matches at this SF; pin vacuous")

    // Full lifecycle: append half, append rest, then delete EVERY doc the
    // snapshot matched (non-vacuous by construction) — the slice-0 read
    // must equal the reference (later append AND later delete invisible:
    // tombstoned slice-0 docs still match at the snapshot), while the
    // live read drops them all — the time-travel differential.
    val dead = snapshot.map(_._2).toSet
    val state = TempDirs.scoped("graft_tomb_asoftxt")
    val sink = TempDirs.scoped("graft_tomb_asoftxt_sink")
    StreamingDedup.appendBatch(train.filter(col("doc_id") <= cut),
      state, sink).count()
    StreamingDedup.appendBatch(train.filter(col("doc_id") > cut),
      state, sink).count()
    StreamingDedup.layout.delete(
      train.filter(col("doc_id").isin(dead.toSeq.map(Long.box): _*))
        .select(col("doc_id")), state)
    assert(serve(state, 0L) == snapshot)
    val live = serve(state, Long.MaxValue)
    assert(live.forall { case (_, m) => !dead.contains(m) })
    assert(live != snapshot,
      "live serve must see the later delete or the pin is vacuous")

    // Compaction past the snapshot coarsens history: refuse loudly.
    StreamingDedup.layout.compact(spark, state, 2L)
    val e = intercept[IllegalArgumentException] { serve(state, 0L) }
    assert(e.getMessage.contains("snapshot"))
  }

  test("LSH text index: deleted docs stop matching on serve and write paths") {
    val docs = Tables.documents(spark, sf)
    val isEval = substring(md5(col("doc_id").cast("string")), 1, 1) === "0"
    val train = docs.filter(!isEval)
    val eval = docs.filter(isEval)
    val delCond = !isEval && col("doc_id") % 5 === 2
    val delIds = docs.filter(delCond).select(col("doc_id"))
    val dead = delIds.collect().map(_.getLong(0)).toSet

    def serveAgainst(state: String): Seq[(Long, Long)] = {
      val out = TempDirs.scoped("graft_tomb_lsh_out")
      StreamingDedup.serveTextBatch(eval, state, out, batchId = 0L,
        Dedup.JaccardThreshold, StreamingDedup.DefaultBucketCap)
      spark.read.parquet(s"$out/b0").select("query_doc", "match_doc")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    }

    // Index train, forget the subset, serve: equals serving an index that
    // never saw the forgotten docs.
    val state = TempDirs.scoped("graft_tomb_lsh")
    val sink = TempDirs.scoped("graft_tomb_lsh_sink")
    StreamingDedup.appendBatch(train, state, sink).count()
    val tombId = StreamingDedup.layout.delete(delIds, state)
    val served = serveAgainst(state)

    val cleanState = TempDirs.scoped("graft_tomb_lsh_clean")
    val cleanSink = TempDirs.scoped("graft_tomb_lsh_clean_sink")
    StreamingDedup.appendBatch(train.filter(!delCond), cleanState, cleanSink).count()
    assert(served == serveAgainst(cleanState))
    assert(served.forall { case (_, m) => !dead.contains(m) })

    // Compaction folds: tombstones purged, band rows physically gone,
    // serving unchanged.
    StreamingDedup.layout.compact(spark, state, tombId)
    assert(IndexFiles.listSlices(spark, s"$state/tombstones").isEmpty)
    val bandIds = spark.read
      .parquet(IndexFiles.listSlices(spark, s"$state/bands"): _*)
      .select("rec_id").collect().map(_.getLong(0)).toSet
    assert(bandIds.intersect(dead).isEmpty)
    assert(serveAgainst(state) == served)

    // Write path: a later batch is NOT deduped against forgotten
    // witnesses — appending the eval docs (post-delete, pre-compaction)
    // yields the same survivors as appending them to the index that
    // never saw the forgotten docs.
    val stateW = TempDirs.scoped("graft_tomb_lsh_w")
    val sinkW = TempDirs.scoped("graft_tomb_lsh_w_sink")
    StreamingDedup.appendBatch(train, stateW, sinkW).count()
    StreamingDedup.layout.delete(delIds, stateW)
    val survA = StreamingDedup.appendBatch(eval, stateW, sinkW)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val survB = StreamingDedup.appendBatch(eval, cleanState, cleanSink)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survA == survB)
  }

  test("binary index lifecycle: persisted equals transient, delete and as-of behave") {
    import graft.operators.EmbeddingOps
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(EmbeddingOps.topKBinaryPersisted(spark, sf)) ==
      rows(EmbeddingOps.topKBinary(spark, sf)))
    val deleted = EmbeddingOps.topKBinaryDeleted(spark, sf).collect()
    assert(deleted.nonEmpty)
    deleted.foreach(r => assert(r.getLong(2) % 5 != 2,
      s"tombstoned vec ${r.getLong(2)} served"))
    val cut = spark.read.parquet(s"$sf/embeddings.parquet")
      .agg(max(col("vec_id"))).head().getLong(0) / 2
    val asof = EmbeddingOps.topKBinaryAsOf(spark, sf).collect()
    assert(asof.nonEmpty)
    asof.foreach { r =>
      assert(r.getLong(2) <= cut, s"post-snapshot vec ${r.getLong(2)} served")
    }
    // time travel, not filtering: vec ids the delete tombstoned AFTER
    // the snapshot must still be servable in the as-of read
    assert(asof.exists(_.getLong(2) % 5 == 2),
      "as-of read should still serve later-deleted ids")
  }

  test("serve visibility: deletes bind the later batch only") {
    val out = StreamingDedup.serveVisibilityQuery(spark, sf).collect()
    assert(out.nonEmpty)
    // the post-delete batch must never surface a forgotten match
    out.filter(_.getLong(3) == 1L).foreach { r =>
      assert(r.getLong(1) % 5 != 2,
        s"post-delete batch served forgotten doc ${r.getLong(1)}")
    }
    // and the pre-delete batch is the unrestricted serve — recount it
    // against the oracle rule (batch-0 queries keep ALL matches)
    val b0 = out.filter(_.getLong(3) == 0L)
    b0.foreach { r =>
      val qHex = java.security.MessageDigest.getInstance("MD5")
        .digest(r.getLong(0).toString.getBytes)
        .map("%02x".format(_)).mkString
      assert(qHex.charAt(1) < '8', s"batch-0 row with batch-1 query: $r")
    }
  }

  test("forget audit: every index reports full propagation, counts recount") {
    val out = graft.operators.Curation.forgetAuditQuery(spark, sf).collect()
    assert(out.map(_.getString(0)).toSeq ==
      Seq("ivf_embedding", "media_phash", "text_lsh"))
    out.foreach { r =>
      val (idx, n, req, live, dead, full) = (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(full == 1L, s"$idx not fully forgotten")
      assert(live + dead == n, s"$idx live+dead != indexed")
      assert(dead == req, s"$idx dead != requested")
    }
    // independent recount of the request sizes from the tables
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val train = docs.filter(
      substring(md5(col("doc_id").cast("string")), 1, 1) =!= "0")
    val expTextReq = train.filter(col("doc_id") % 5 === 2).count()
    val expEmbReq = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") % 5 === 2).count()
    val byName = out.map(r => r.getString(0) -> r).toMap
    assert(byName("text_lsh").getLong(2) == expTextReq)
    assert(byName("media_phash").getLong(2) == expTextReq)
    assert(byName("ivf_embedding").getLong(2) == expEmbReq)
    assert(byName("text_lsh").getLong(1) == train.count())
  }
}
