package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.operators.{IndexFiles, IvfIndex, Similarity}

class IvfIndexSpec extends SparkSpec {

  private def keyOf(df: DataFrame): Seq[(Long, Long, Long)] =
    df.select("query_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  private def queriesOf(dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") < Similarity.NumQueryVectors)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))

  test("persisted query path equals the transient topKIvf exactly") {
    // Same corpus, same deterministic centroid training => the persisted
    // round-trip (centroids + postings through parquet) must change nothing.
    val persisted = IvfIndex.topKIvfPersisted(spark, sf)
    val transient = Similarity.topKIvf(spark, sf)
    assert(keyOf(persisted) == keyOf(transient))
    assert(keyOf(persisted).nonEmpty)
  }

  test("append-then-query equals rebuild-then-query (frozen centroids)") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val top = emb.agg(max(col("vec_id"))).head().getLong(0)
    val (cut1, cut2) = (top / 3, 2 * top / 3)

    // Incremental: build from the first slice, append the rest, compact
    // between appends (so the query path reads a compacted c slice too).
    val inc = TempDirs.scoped("graft_ivf_inc")
    IvfIndex.build(emb.filter(col("vec_id") <= cut1), inc)
    IvfIndex.append(emb.filter(col("vec_id") > cut1 && col("vec_id") <= cut2), inc)
    IvfIndex.layout.compact(spark, inc, 1)
    IvfIndex.append(emb.filter(col("vec_id") > cut2), inc)

    // Rebuild: one slice over the full corpus under the SAME centroids
    // (appends never retrain, so equality is over the frozen geometry).
    val full = TempDirs.scoped("graft_ivf_full")
    IvfIndex.build(emb, full,
      centroids = Some(IndexFiles.loadCentroids(spark, inc)))

    val q = queriesOf(sf)
    assert(keyOf(IvfIndex.topK(spark, inc, q)) ==
      keyOf(IvfIndex.topK(spark, full, q)))
  }

  test("shard-then-merge equals the single-build index; codebook mismatch refuses") {
    val merged = IvfIndex.topKIvfMerged(spark, sf)
    val single = IvfIndex.topKIvfPersisted(spark, sf)
    assert(keyOf(merged) == keyOf(single))
    assert(keyOf(merged).nonEmpty)
    // merging shards built against DIFFERENT codebooks must fail loudly —
    // one side's postings would silently land under wrong cells
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val centsA = Similarity.learnCentroids(emb)
    val centsB = centsA.map(_.map(v => v + 1.0f)) // a genuinely different codebook
    val a = TempDirs.scoped("graft_ivf_mismatch_a")
    val b = TempDirs.scoped("graft_ivf_mismatch_b")
    IvfIndex.build(emb.filter(col("vec_id") % 2 === 0), a, Some(centsA))
    IvfIndex.build(emb.filter(col("vec_id") % 2 === 1), b, Some(centsB))
    val err = intercept[IllegalArgumentException] {
      IvfIndex.merge(spark, TempDirs.scoped("graft_ivf_mismatch_dst"), Seq(a, b))
    }
    assert(err.getMessage.contains("different"))
  }

  test("merge folds shard-local tombstones: deleted vectors stay forgotten") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val cents = Similarity.learnCentroids(emb)
    val a = TempDirs.scoped("graft_ivf_tomb_a")
    val b = TempDirs.scoped("graft_ivf_tomb_b")
    IvfIndex.build(emb.filter(col("vec_id") % 2 === 0), a, Some(cents))
    IvfIndex.build(emb.filter(col("vec_id") % 2 === 1), b, Some(cents))
    // forget every 6th even id on shard A only
    val dropped = emb.filter(col("vec_id") % 6 === 0)
      .select(col("vec_id"))
    IvfIndex.layout.delete(dropped, a)
    val dst = TempDirs.scoped("graft_ivf_tomb_dst")
    IvfIndex.merge(spark, dst, Seq(a, b))
    val live = IvfIndex.layout.live(spark, dst)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val droppedIds = dropped.collect().map(_.getLong(0)).toSet
    assert(droppedIds.nonEmpty)
    assert(live.intersect(droppedIds).isEmpty)
    // everything not dropped survives the merge exactly once
    val all = emb.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(live == all.diff(droppedIds))
    val liveCount = IvfIndex.layout.live(spark, dst).count()
    assert(liveCount == live.size) // no duplicated postings across shards

    // a FULLY tombstoned shard contributes nothing (its empty slice is
    // skipped — a part-less parquet dir would break every later read)
    IvfIndex.layout.delete(emb.filter(col("vec_id") % 2 === 0).select(col("vec_id")), a)
    val dst2 = TempDirs.scoped("graft_ivf_tomb_dst2")
    IvfIndex.merge(spark, dst2, Seq(a, b))
    val live2 = IvfIndex.layout.live(spark, dst2)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(live2 == all.filter(_ % 2 == 1))
  }

  test("compaction leaves results bit-identical and removes merged slices") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val top = emb.agg(max(col("vec_id"))).head().getLong(0)
    val idx = TempDirs.scoped("graft_ivf_compact")
    IvfIndex.build(emb.filter(col("vec_id") <= top / 2), idx)
    IvfIndex.append(emb.filter(col("vec_id") > top / 2), idx)
    val q = queriesOf(sf)
    val before = keyOf(IvfIndex.topK(spark, idx, q))
    IvfIndex.layout.compact(spark, idx, 1)
    val slices = IndexFiles.listSlices(spark, s"$idx/postings")
      .map(_.split('/').last)
    assert(slices == Seq("c1"), s"expected one compacted slice, got $slices")
    assert(keyOf(IvfIndex.topK(spark, idx, q)) == before)
  }

  test("replayed append slice id overwrites instead of doubling postings") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val top = emb.agg(max(col("vec_id"))).head().getLong(0)
    val idx = TempDirs.scoped("graft_ivf_replay")
    IvfIndex.build(emb.filter(col("vec_id") <= top / 2), idx)
    val id = IvfIndex.append(emb.filter(col("vec_id") > top / 2), idx)
    val n = IvfIndex.layout.live(spark, idx).count()
    IvfIndex.append(emb.filter(col("vec_id") > top / 2), idx, sliceId = id)
    assert(IvfIndex.layout.live(spark, idx).count() == n)
  }

  test("query scan is pruned to the probed cells (partition pruning)") {
    val idx = TempDirs.scoped("graft_ivf_prune")
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    IvfIndex.build(emb, idx)
    val plan = IvfIndex.topK(spark, idx, queriesOf(sf))
      .queryExecution.executedPlan
    val scans = plan.collect {
      case a: AdaptiveSparkPlanExec => a.executedPlan.collect {
        case s: FileSourceScanExec => s
      }
      case s: FileSourceScanExec => Seq(s)
    }.flatten
    val postingsScans = scans.filter(_.relation.location.rootPaths
      .exists(_.toString.contains("postings")))
    assert(postingsScans.nonEmpty)
    // The probe-cell isin predicate must land on the partition column of
    // every postings scan — at 100 TB this is what turns "scan the corpus"
    // into "scan probes/cells of it".
    postingsScans.foreach { s =>
      assert(s.partitionFilters.nonEmpty,
        s"postings scan has no partition filters: ${s.simpleStringWithNodeId()}")
    }
  }

  test("streaming ANN serving is batch-boundary invariant and equals the drain") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val idx = TempDirs.scoped("graft_ivf_serve_idx")
    IvfIndex.build(emb, idx)
    val q = queriesOf(sf)

    // One batch with all queries vs the same queries split across two
    // batches: the index is static and queries are independent, so the
    // union of per-batch outputs must be identical.
    val out1 = TempDirs.scoped("graft_ivf_serve1")
    IvfIndex.serveBatch(spark, idx, q, out1, 0L)
    val one = keyOf(spark.read.parquet(s"$out1/b*")
      .orderBy(col("query_id"), col("rank")))

    val out2 = TempDirs.scoped("graft_ivf_serve2")
    IvfIndex.serveBatch(spark, idx, q.filter(col("query_id") < 2), out2, 0L)
    IvfIndex.serveBatch(spark, idx, q.filter(col("query_id") >= 2), out2, 1L)
    val two = keyOf(spark.read.parquet(s"$out2/b*")
      .orderBy(col("query_id"), col("rank")))

    assert(one == two)
    assert(one.nonEmpty)

    // And the declared streaming drain equals the persisted batch query.
    val streamed = IvfIndex.streamAnnServeQuery(spark, sf)
    assert(keyOf(streamed) == keyOf(IvfIndex.topKIvfPersisted(spark, sf)))
  }

  test("streaming index maintenance: streamed appends equal the batch build") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val top = emb.agg(max(col("vec_id"))).head().getLong(0)
    val q = queriesOf(sf)
    val batchBuilt = keyOf(IvfIndex.topKIvfPersisted(spark, sf))

    // The declared single-drain form.
    assert(keyOf(IvfIndex.streamIvfAppendQuery(spark, sf)) == batchBuilt)

    // Batch-boundary invariance of the write side: the same corpus split
    // across two batch-id-keyed appends (with one batch replayed — the
    // retry path) yields the identical index.
    val idx = TempDirs.scoped("graft_ivf_mb")
    IvfIndex.init(emb, idx)
    IvfIndex.append(emb.filter(col("vec_id") <= top / 2), idx, sliceId = 0L)
    IvfIndex.append(emb.filter(col("vec_id") > top / 2), idx, sliceId = 1L)
    IvfIndex.append(emb.filter(col("vec_id") > top / 2), idx, sliceId = 1L) // replay
    assert(keyOf(IvfIndex.topK(spark, idx, q)) == batchBuilt)
  }

  test("cell balance audit: counts cover the corpus, formula consistent") {
    val r = IvfIndex.cellBalanceQuery(spark, sf).collect().head
    val (nCells, nVecs) = (r.getLong(0), r.getLong(1))
    val (minC, maxC) = (r.getLong(2), r.getLong(3))
    val (imb, retrain) = (r.getDouble(4), r.getLong(5))
    // every corpus vector is posted exactly once
    assert(nVecs == Tables.embeddings(spark, sf).count())
    assert(nCells > 0 && minC >= 1 && minC <= maxC)
    // imbalance is exactly max·cells/vectors, >= 1 by construction, and
    // the retrain flag is the threshold applied to it
    assert(imb == maxC.toDouble * nCells / nVecs)
    assert(imb >= 1.0)
    assert(retrain == (if (imb > IvfIndex.RetrainImbalance) 1L else 0L))
  }

  test("cell balance audit fires on a drifted index") {
    import spark.implicits._
    // centroids trained on the spread bootstrap corpus, frozen; then a
    // hot-spot append of many near-copies of one bootstrap vector — the
    // exact drift pattern the audit exists to catch (all the new mass
    // lands in one cell)
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val top = emb.agg(max(col("vec_id"))).head().getLong(0)
    val idx = TempDirs.scoped("graft_ivf_drift")
    IvfIndex.init(emb, idx)
    IvfIndex.append(emb, idx, sliceId = 0L)
    val hot = emb.filter(col("vec_id") === Similarity.NumQueryVectors)
      .head().getSeq[Float](1).toArray
    val n = (emb.count() * 2).toInt
    val hotDf = (1 to n)
      .map(i => (top + i, hot.map(x => x + (i % 7) * 1e-4f)))
      .toDF("vec_id", "embedding")
    IvfIndex.append(hotDf, idx, sliceId = 1L)
    val r = IvfIndex.cellBalanceOf(spark, idx).collect().head
    assert(r.getLong(1) == emb.count() + n)
    assert(r.getDouble(4) > IvfIndex.RetrainImbalance,
      s"drifted imbalance = ${r.getDouble(4)}")
    assert(r.getLong(5) == 1L)
  }

  test("cutover: pointer swap is atomic-by-rename, re-points, refuses half-built targets") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val q = Tables.embeddings(spark, sf)
      .filter(col("vec_id") < Similarity.NumQueryVectors)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val idxA = TempDirs.scoped("graft_ivf_cut_a")
    val idxB = TempDirs.scoped("graft_ivf_cut_b")
    IvfIndex.build(emb, idxA)
    // B = A minus the deleteSet, rebuilt (a stand-in for a retrain target)
    IvfIndex.build(emb.join(IvfIndex.deleteSet(emb), Seq("vec_id"),
      "left_anti"), idxB)
    val alias = TempDirs.scoped("graft_ivf_cut_alias")
    // unpointed alias fails loudly, not silently empty
    intercept[Exception] { IndexFiles.resolveServing(alias) }
    // point at A; serve through the pointer == serve A directly
    IvfIndex.layout.cutover(spark, alias, idxA)
    assert(IndexFiles.resolveServing(alias) == idxA)
    val servedA = IvfIndex.topK(spark, IndexFiles.resolveServing(alias), q)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(servedA == IvfIndex.topK(spark, idxA, q)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    // RE-POINT at B (the retrain cutover): the swap replaces atomically,
    // serves follow, and no temp residue is left behind
    IvfIndex.layout.cutover(spark, alias, idxB)
    assert(IndexFiles.resolveServing(alias) == idxB)
    val servedB = IvfIndex.topK(spark, IndexFiles.resolveServing(alias), q)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(servedB != servedA)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(alias, ".current.tmp")),
      "cutover left its temp file behind — the rename did not happen")
    // the pointer file holds the full target path (a reader never sees a
    // prefix: rename publishes the complete temp file or nothing)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(alias, "current")),
      java.nio.charset.StandardCharsets.UTF_8) == idxB)
    // the OLD target dir is untouched by the swap — still serves directly
    assert(IvfIndex.topK(spark, idxA, q)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq == servedA)
    // half-built targets are refused: centroids but no postings slice
    val half = TempDirs.scoped("graft_ivf_cut_half")
    IvfIndex.init(emb, half)
    intercept[Exception] { IvfIndex.layout.cutover(spark, alias, half) }
    // ...and a refused cutover leaves the pointer on the live index
    assert(IndexFiles.resolveServing(alias) == idxB)
    // retirement: the replaced dir deletes once the alias moved on, but
    // the one catastrophic mistake — retiring the dir the alias STILL
    // serves — is refused and leaves the live index untouched
    intercept[Exception] { IvfIndex.layout.retire(alias, idxB) }
    assert(IvfIndex.topK(spark, IndexFiles.resolveServing(alias), q)
      .collect().nonEmpty)
    IvfIndex.layout.retire(alias, idxA)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(idxA)))
    // serving through the alias is unaffected by the retirement
    assert(IvfIndex.topK(spark, IndexFiles.resolveServing(alias), q)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq == servedB)
  }

  test("retire guards: refuses non-index dirs; a retired dir's snapshot reads fail loudly") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val idxA = TempDirs.scoped("graft_ivf_rg_a")
    IvfIndex.build(emb, idxA)
    val alias = TempDirs.scoped("graft_ivf_rg_alias")
    IvfIndex.layout.cutover(spark, alias, idxA)
    // a dir that is not an index (no centroids/, no completion marker) is
    // refused and left untouched — a transposed or mistyped argument must
    // never delete unrelated data (ADVICE r19)
    val notIndex = TempDirs.scoped("graft_ivf_rg_notidx")
    val stray = java.nio.file.Paths.get(notIndex, "unrelated.txt")
    java.nio.file.Files.write(stray, "not graft state".getBytes)
    intercept[Exception] { IvfIndex.layout.retire(alias, notIndex) }
    assert(java.nio.file.Files.exists(stray))
    // retire-then-as-of (VERDICT r19 #6): a reader holding a recorded
    // snapshot id of a RETIRED dir fails with the loud no-slices refusal,
    // never a silently empty result — the operator-owned ordering
    // contract's failure mode is observable, not quiet corruption
    val idxB = TempDirs.scoped("graft_ivf_rg_b")
    IvfIndex.build(emb, idxB)
    IvfIndex.layout.cutover(spark, alias, idxB)
    IvfIndex.layout.retire(alias, idxA)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(idxA)))
    val e = intercept[Exception] {
      IvfIndex.layout.live(spark, idxA, asOf = 0L).count()
    }
    assert(e.getMessage.contains("no index slices"),
      s"expected the loud no-slices refusal, got: ${e.getMessage}")
  }

  // Drift-rig pins as NAMED constants with the measured values recorded
  // (VERDICT r18 #6, the SimilaritySpec recall-pin convention): on this
  // rig the drifted imbalance MEASURES 9.05 and the retrained one 1.26.
  // The floors carry one band of headroom — a drift response that decays
  // toward the bare 3.0 threshold, or a retrain that only just clears it,
  // pages instead of silently eroding; a geometry change that moves the
  // measured values re-earns its margin here explicitly.
  private val DriftedImbalanceFloor = 6.0
  private val RetrainedImbalanceCeil = 2.0

  test("retrain restores the balance audit's headroom on a drifted index") {
    // The audit's remedy end-to-end (VERDICT r17 #2). Drift shape: the
    // bootstrap corpus is 8 orthogonal-direction clusters (cluster 0
    // carries a small tail toward the future drift direction e8 — the
    // "old content vaguely related to the new" hook); the append is 8
    // TIGHT SUB-CLUSTERS around e8. Against the frozen bootstrap
    // codebook every appended vector's best cosine is cluster 0's tail
    // (0.3 dominates the ±0.01 noise and the sub-directions, which are
    // orthogonal to every bootstrap centroid), so the whole append piles
    // into cluster 0's cells — the audit trips. A FRESH k-means sees a
    // 16-cluster corpus whose first 16 ids (interleaved: one per
    // cluster/sub-cluster) seed every true cluster, so the retrain
    // recovers a balanced partition.
    import spark.implicits._
    val dim = 20
    def mk(core: Seq[(Int, Double)], id: Long): (Long, Array[Float]) = {
      val v = new Array[Float](dim)
      core.foreach { case (i, x) => v(i) = x.toFloat }
      for (k <- 0 until dim) v(k) = v(k) + 0.01f * (((id * 7 + k) % 5) - 2)
      (id, v)
    }
    val rows = for (i <- 0 until 60; slot <- 0 until 16) yield {
      val id = (i * 16 + slot).toLong
      if (slot == 0) mk(Seq(0 -> 1.0, 8 -> 0.3), id)
      else if (slot < 8) mk(Seq(slot -> 1.0), id)
      else mk(Seq(8 -> 1.0, (slot + 1) -> 0.2), id)
    }
    val all = rows.toDF("vec_id", "embedding")
    val orig = all.filter(col("vec_id") % 16 < 8)
    val drifted = all.filter(col("vec_id") % 16 >= 8)
    val idx = TempDirs.scoped("graft_ivf_retrain_src")
    IvfIndex.init(orig, idx)
    IvfIndex.append(orig, idx, sliceId = 0L)
    IvfIndex.append(drifted, idx, sliceId = 1L)
    // a forget request lands before the retrain — the rebuild must not
    // resurrect it
    val dead = orig.filter(col("vec_id") % 10 === 4).select(col("vec_id"))
    IvfIndex.layout.delete(dead, idx)
    // ...and a deleted-then-RE-APPENDED set is live (its append slice
    // postdates the tombstone) — the retrain must neither drop it nor
    // carry its id into the new trail (a blind tombstone carry would
    // kill it, since the carried slice postdates the rebuilt b0)
    val revived = orig.filter(col("vec_id") % 10 === 6)
    IvfIndex.layout.delete(revived.select(col("vec_id")), idx)
    IvfIndex.append(revived, idx)
    val before = IvfIndex.cellBalanceOf(spark, idx).collect().head
    info(s"drifted imbalance = ${before.getDouble(4)}")
    assert(before.getDouble(4) > DriftedImbalanceFloor,
      s"drift did not trip the audit with margin: " +
        s"imbalance = ${before.getDouble(4)}")
    val fresh = TempDirs.scoped("graft_ivf_retrain_dst")
    IvfIndex.retrain(spark, idx, fresh, key = "test_retrain_cents")
    val after = IvfIndex.cellBalanceOf(spark, fresh).collect().head
    info(s"retrained imbalance = ${after.getDouble(4)}")
    // headroom restored: well below the threshold, not merely under it
    assert(after.getDouble(4) < RetrainedImbalanceCeil,
      s"retrain left imbalance = ${after.getDouble(4)}")
    assert(after.getLong(5) == 0L)
    assert(after.getDouble(4) < before.getDouble(4))
    // same live set: nothing lost, nothing resurrected
    val liveOld = IvfIndex.layout.live(spark, idx)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    val liveNew = IvfIndex.layout.live(spark, fresh)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(liveNew == liveOld)
    val deadIds = dead.collect().map(_.getLong(0)).toSet
    assert(deadIds.nonEmpty && liveNew.toSet.intersect(deadIds).isEmpty)
    // the forget trail carried: the retrained index still records the
    // tombstoned ids (the forget audit's n_dead evidence survives)
    val carried = IndexFiles.readSlices(spark,
        s"$fresh/tombstones").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(carried == deadIds)
    // the revived set survives the retrain and stays out of the trail
    val revivedIds = revived.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(revivedIds.nonEmpty && revivedIds.subsetOf(liveNew.toSet))
    assert(carried.intersect(revivedIds).isEmpty)
    // the old index is untouched — its pre-delete snapshot stays
    // addressable for as-of reads
    assert(IvfIndex.layout.live(spark, idx, asOf = 1L).count() ==
      orig.count() + drifted.count())
  }
}
