package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.operators.{IndexFiles, IvfPqIndex, Similarity}

class IvfPqIndexSpec extends SparkSpec {

  private def keyOf(df: DataFrame): Seq[(Long, Long, Long)] =
    df.select("query_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  private def queriesOf(dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") < Similarity.NumQueryVectors)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))

  test("deterministic across runs, k rows per query") {
    val a = IvfPqIndex.topKIvfPqPersisted(spark, sf)
    val rows = a.collect()
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.size == Similarity.NumQueryVectors)
    byQuery.values.foreach(r => assert(r.length == Similarity.TopK))
    assert(keyOf(a) == keyOf(IvfPqIndex.topKIvfPqPersisted(spark, sf)))
  }

  test("append-then-query equals rebuild-then-query (frozen geometry)") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val top = emb.agg(max(col("vec_id"))).head().getLong(0)
    val (cut1, cut2) = (top / 3, 2 * top / 3)

    val inc = TempDirs.scoped("graft_ivfpq_inc")
    IvfPqIndex.build(emb.filter(col("vec_id") <= cut1), inc)
    IvfPqIndex.append(
      emb.filter(col("vec_id") > cut1 && col("vec_id") <= cut2), inc)
    IvfPqIndex.layout.compact(spark, inc, 1)
    IvfPqIndex.append(emb.filter(col("vec_id") > cut2), inc)

    val full = TempDirs.scoped("graft_ivfpq_full")
    IvfPqIndex.build(emb, full,
      centroids = Some(IndexFiles.loadCentroids(spark, inc)),
      codebooks = Some(IndexFiles.loadCodebooks(spark, inc)))

    val q = queriesOf(sf)
    assert(keyOf(IvfPqIndex.topK(spark, inc, q, emb)) ==
      keyOf(IvfPqIndex.topK(spark, full, q, emb)))
  }

  test("postings scan is pruned to the probed cells") {
    val idx = TempDirs.scoped("graft_ivfpq_prune")
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    IvfPqIndex.build(emb, idx)
    val plan = IvfPqIndex.topK(spark, idx, queriesOf(sf), emb)
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
    postingsScans.foreach { s =>
      assert(s.partitionFilters.nonEmpty,
        s"postings scan has no partition filters: ${s.simpleStringWithNodeId()}")
    }
  }

  test("delete-then-serve equals rebuild-on-survivors with frozen geometry") {
    import graft.operators.IvfIndex
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val forget = IvfIndex.deleteSet(emb)

    val del = TempDirs.scoped("graft_ivfpq_del")
    IvfPqIndex.build(emb, del)
    IvfPqIndex.layout.delete(forget, del)

    // survivors-only index under the SAME centroids+codebooks: the delete
    // verb must be indistinguishable from never having indexed those ids
    val surv = TempDirs.scoped("graft_ivfpq_surv")
    IvfPqIndex.build(emb.join(forget, Seq("vec_id"), "left_anti"), surv,
      centroids = Some(IndexFiles.loadCentroids(spark, del)),
      codebooks = Some(IndexFiles.loadCodebooks(spark, del)))

    val q = queriesOf(sf)
    val served = IvfPqIndex.topK(spark, del, q, emb)
    assert(keyOf(served) == keyOf(IvfPqIndex.topK(spark, surv, q, emb)))
    // no tombstoned id is ever returned
    val forgotten = forget.collect().map(_.getLong(0)).toSet
    served.collect().foreach(r => assert(!forgotten.contains(r.getLong(2))))
  }

  test("as-of slice 0 serves the exact pre-delete state") {
    import graft.operators.IvfIndex
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val idx = TempDirs.scoped("graft_ivfpq_asof")
    IvfPqIndex.build(emb, idx)
    val before = keyOf(IvfPqIndex.topK(spark, idx, queriesOf(sf), emb))
    IvfPqIndex.layout.delete(IvfIndex.deleteSet(emb), idx)
    val snap = keyOf(IvfPqIndex.topK(spark, idx, queriesOf(sf), emb, asOf = 0L))
    assert(snap == before)
    // and the live read has actually moved on
    assert(keyOf(IvfPqIndex.topK(spark, idx, queriesOf(sf), emb)) != before)
  }

  // Drift-rig pins as NAMED constants with the measured values recorded
  // (the IvfIndexSpec convention, same rig geometry): drifted imbalance
  // MEASURES 9.05, retrained 1.26, and the mean ADC reconstruction error
  // drops 45× (0.614 -> 0.0136 — fresh codebooks finally see the drifted
  // mass's residual distribution). Floors carry one band of headroom.
  private val DriftedImbalanceFloor = 6.0
  private val RetrainedImbalanceCeil = 2.0
  private val AdcErrorReductionFloor = 10.0

  test("retrain restores balance headroom AND reduces ADC reconstruction error") {
    // The compressed index's drift story (VERDICT r18 #1): the IvfIndexSpec
    // drift rig — bootstrap = 8 orthogonal clusters (cluster 0 carrying a
    // 0.3 tail toward the future drift direction e8), append = 8 TIGHT
    // sub-clusters around e8, so the frozen bootstrap codebook piles the
    // whole append into cluster 0's cells — but here BOTH frozen artifacts
    // rot: the coarse centroids (posting skew) and the residual codebooks
    // (trained on bootstrap residuals, they never saw the drifted mass, so
    // its ADC codes quantize badly). The retrain must fix both.
    import graft.operators.IvfIndex
    import spark.implicits._
    val dim = 24 // divisible by PqSubspaces = 8
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
    val idx = TempDirs.scoped("graft_ivfpq_retrain_src")
    IvfPqIndex.build(orig, idx)
    IvfPqIndex.append(drifted, idx, sliceId = 1L)
    // a forget request and a deleted-then-re-appended set land before the
    // retrain — the rebuild must neither resurrect the dead nor kill the
    // revived (the IvfIndexSpec re-append edge case, compressed twin)
    val dead = orig.filter(col("vec_id") % 10 === 4).select(col("vec_id"))
    IvfPqIndex.layout.delete(dead, idx)
    val revived = orig.filter(col("vec_id") % 10 === 6)
    IvfPqIndex.layout.delete(revived.select(col("vec_id")), idx)
    IvfPqIndex.append(revived, idx)

    val before = IvfIndex.cellBalanceOf(spark, idx).collect().head
    info(s"drifted imbalance = ${before.getDouble(4)}")
    assert(before.getDouble(4) > DriftedImbalanceFloor,
      s"drift did not trip the audit with margin: " +
        s"imbalance = ${before.getDouble(4)}")

    val fresh = TempDirs.scoped("graft_ivfpq_retrain_dst")
    IvfPqIndex.retrain(spark, idx, fresh, all,
      centKey = "test_ivfpq_rt_cents", ncKey = "test_ivfpq_rt_ncents",
      cbKey = "test_ivfpq_rt_cbs")

    // 1) balance headroom restored
    val after = IvfIndex.cellBalanceOf(spark, fresh).collect().head
    info(s"retrained imbalance = ${after.getDouble(4)}")
    assert(after.getDouble(4) < RetrainedImbalanceCeil,
      s"retrain left imbalance = ${after.getDouble(4)}")
    assert(after.getLong(5) == 0L && after.getDouble(4) < before.getDouble(4))

    // 2) ADC reconstruction error reduced: decode every live posting's
    // code under its index's own geometry (cell centroid + codebook
    // entries) and compare against the normalized original vector —
    // the quantization error the ADC scan actually pays
    val vecs = rows.toMap
    def l2n(v: Array[Float]): Array[Double] = {
      val d = v.map(_.toDouble)
      val n = math.sqrt(d.map(x => x * x).sum)
      if (n == 0) d else d.map(_ / n)
    }
    def reconError(dir: String): Double = {
      val nc = Similarity.l2NormalizedCentroids(
        IndexFiles.loadCentroids(spark, dir))
      val cbs = IndexFiles.loadCodebooks(spark, dir)
      val subDim = dim / Similarity.PqSubspaces
      val posts = IvfPqIndex.layout.live(spark, dir)
        .select(col("vec_id"), col("codes"), col("cell")).collect()
      val errs = posts.map { r =>
        val v = l2n(vecs(r.getLong(0)))
        val codes = r.getSeq[Int](1)
        val cell = r.getInt(2)
        var e = 0.0
        for (s0 <- 0 until Similarity.PqSubspaces; k <- 0 until subDim) {
          val recon = nc(cell)(s0 * subDim + k) +
            cbs(s0 * Similarity.PqCodebookSize + codes(s0))(k)
          val d = v(s0 * subDim + k) - recon
          e += d * d
        }
        math.sqrt(e)
      }
      errs.sum / errs.length
    }
    val (errOld, errNew) = (reconError(idx), reconError(fresh))
    info(s"mean ADC reconstruction error: $errOld -> $errNew")
    assert(errNew * AdcErrorReductionFloor < errOld,
      s"retrain did not reduce ADC reconstruction error with margin: " +
        s"$errOld -> $errNew")

    // 3) same live set: nothing lost, nothing resurrected; trail carried
    val liveOld = IvfPqIndex.layout.live(spark, idx)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    val liveNew = IvfPqIndex.layout.live(spark, fresh)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(liveNew == liveOld)
    val deadIds = dead.collect().map(_.getLong(0)).toSet
    assert(deadIds.nonEmpty && liveNew.toSet.intersect(deadIds).isEmpty)
    val carried = IndexFiles.readSlices(spark,
        s"$fresh/tombstones").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(carried == deadIds)
    val revivedIds = revived.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(revivedIds.nonEmpty && revivedIds.subsetOf(liveNew.toSet))
    assert(carried.intersect(revivedIds).isEmpty)
    // 4) the old index is untouched — pre-delete snapshot still addressable
    assert(IvfPqIndex.layout.live(spark, idx, asOf = 1L).count() ==
      orig.count() + drifted.count())
  }

  test("probe sweep: recall rises to the deployed knee, row matches the serving path") {
    val dir = "/root/testdata/sf0.01"
    val rows = IvfPqIndex.probeSweep(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    rows.foreach { case (p, h, r) => info(s"probes=$p n_hits=$h recall=$r") }
    assert(rows.map(_._1).toSeq ==
      (1L to 2L * IvfPqIndex.IvfPqProbes).toSeq)
    // Widening probes is NOT monotone end-to-end at a FIXED rerank
    // budget (measured: 0.72 0.76 0.82 0.86 0.88 0.92 | 0.90 0.90 0.92
    // 0.90 0.90 0.90 — the curve dips past the knee): extra ADC
    // candidates from marginal cells displace true neighbors from the
    // fixed top-[[IvfPqIndex.IvfPqRerank]] ADC cut — exactly the
    // probe/rerank interaction this calibration table exists to show.
    // The honest pins: recall is monotone non-decreasing UP TO the
    // deployed budget (each added probe pays for itself on the way to
    // the knee), and the deployed budget sits at the sweep's MAXIMUM on
    // this corpus (the knee the 6-probe default was chosen for).
    val upToDeployed = rows.takeWhile(_._1 <= IvfPqIndex.IvfPqProbes)
    upToDeployed.sliding(2).foreach { case Array((_, _, a), (p, _, b)) =>
      assert(b >= a - 1e-9,
        s"recall inversion BEFORE the deployed budget at probes=$p: $a -> $b")
    }
    val atOne = rows.head._3
    val atDeployed = rows.find(_._1 == IvfPqIndex.IvfPqProbes).get._3
    assert(atDeployed > atOne,
      s"widening probes to the deployed budget did not help: $atOne -> $atDeployed")
    assert(rows.map(_._3).max <= atDeployed + 1e-9,
      s"deployed budget ${IvfPqIndex.IvfPqProbes} is not at the sweep's " +
        s"maximum: ${rows.map(r => r._1 -> r._3).mkString(", ")}")
    // the deployed budget's row equals the serving path's measured
    // recall: the sweep prices exactly what topKIvfPqPersisted pays
    def resultSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = resultSet(Similarity.topKExact(spark, dir))
    val served = resultSet(IvfPqIndex.topKIvfPqPersisted(spark, dir))
    val servedRecall = (exact intersect served).size.toDouble / exact.size
    val sweepAtDeployed = rows.find(_._1 == IvfPqIndex.IvfPqProbes).get._3
    assert(math.abs(sweepAtDeployed - servedRecall) < 1e-9,
      s"sweep row at ${IvfPqIndex.IvfPqProbes} probes = $sweepAtDeployed, " +
        s"serving recall = $servedRecall")
  }

  test("cutover serves the retrained compressed index through the pointer") {
    // The declared sim_ivfpq_cutover row equals the retrain row for row:
    // the alias resolves to the retrained index, so a pointer that
    // resolved anywhere else (stale, half-swapped, unpointed) diverges.
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(keys(IvfPqIndex.topKIvfPqCutover(spark, sf)) ==
      keys(IvfPqIndex.topKIvfPqRetrained(spark, sf)))
  }

  test("compressed cutover refuses targets whose codebooks are missing or gutted") {
    // ADVICE r19: the refuse-loudly guarantee must hold for the
    // compressed layout — a target that lost its codebooks (entirely, or
    // the dir kept but the table gone) must refuse at cutover, not fail
    // at serve time after the alias already swapped.
    import graft.operators.IvfIndex
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val alias = TempDirs.scoped("graft_ivfpq_cb_alias")
    // (a) codebooks/ absent entirely: a plain-IVF dir is a complete IVF
    // layout, but the compressed layout declares the codebooks table
    val plainIvf = TempDirs.scoped("graft_ivfpq_cb_plain")
    IvfIndex.build(emb, plainIvf)
    intercept[Exception] { IvfPqIndex.layout.cutover(spark, alias, plainIvf) }
    intercept[Exception] { IndexFiles.resolveServing(alias) } // still unpointed
    // (b) codebooks/ present but gutted: the compressed layout's frozen
    // probe refuses, and a refused cutover leaves the pointer where it was
    val full = TempDirs.scoped("graft_ivfpq_cb_full")
    IvfPqIndex.build(emb, full)
    IvfPqIndex.layout.cutover(spark, alias, full) // complete index: accepted
    assert(IndexFiles.resolveServing(alias) == full)
    val gutted = TempDirs.scoped("graft_ivfpq_cb_gut")
    IvfPqIndex.build(emb, gutted)
    val cbDir = java.nio.file.Paths.get(gutted, "codebooks")
    java.nio.file.Files.list(cbDir)
      .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
    intercept[Exception] { IvfPqIndex.layout.cutover(spark, alias, gutted) }
    assert(IndexFiles.resolveServing(alias) == full)
  }

  test("recall@k vs exact top-k is measured and above the floor") {
    // Residual encoding plus the composed index's own probe/rerank budget
    // ([[IvfPqIndex.IvfPqProbes]]/[[IvfPqIndex.IvfPqRerank]]) put the
    // serving-grade floor at 0.85 (measured: 0.92 at sf0.01; plain IVF at
    // 4 probes ceilings at 0.86, which the 6-probe composition clears).
    // A broken composition (wrong LUT indexing, wrong offset, wrong cell
    // join) lands far below it. Deterministic end to end.
    val dir = "/root/testdata/sf0.01"
    def resultSet(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = resultSet(Similarity.topKExact(spark, dir))
    val ivfpq = resultSet(IvfPqIndex.topKIvfPqPersisted(spark, dir))
    val recall = (exact intersect ivfpq).size.toDouble / exact.size
    info(s"IVF+PQ recall@${Similarity.TopK} = $recall")
    assert(recall >= 0.85, s"IVF+PQ recall@${Similarity.TopK} = $recall — " +
      "composition below serving grade")
  }
}
