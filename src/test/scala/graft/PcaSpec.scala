package graft

import org.apache.spark.sql.functions._
import graft.operators.{IndexFiles, Pca}

class PcaSpec extends SparkSpec {

  test("jacobi: planted 2x2 and diagonal matrices solve exactly") {
    val (ev, vecs) = Pca.jacobiEigen(Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(math.abs(ev(0) - 3.0) < 1e-12 && math.abs(ev(1) - 1.0) < 1e-12)
    val r = 1.0 / math.sqrt(2.0)
    assert(vecs(0).zip(Array(r, r)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    assert(vecs(1).zip(Array(r, -r)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    val (evD, vecsD) = Pca.jacobiEigen(
      Array(Array(1.0, 0.0, 0.0), Array(0.0, 5.0, 0.0), Array(0.0, 0.0, 3.0)))
    assert(evD.toSeq == Seq(5.0, 3.0, 1.0))
    assert(vecsD(0).toSeq == Seq(0.0, 1.0, 0.0))
  }

  test("basis is orthonormal and satisfies the eigen equation") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val (n, mean, gram) = Pca.moments(emb)
    val cov = Pca.covariance(n, mean, gram)
    val (evals, evecs) = Pca.jacobiEigen(cov)
    val d = mean.length
    // orthonormality of the full basis
    for (i <- 0 until d; j <- i until d) {
      val dot = (0 until d).map(k => evecs(i)(k) * evecs(j)(k)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9, s"<v$i,v$j> = $dot")
    }
    // residual ||C v - lambda v|| per component
    for (i <- 0 until d) {
      val cv = (0 until d).map(r =>
        (0 until d).map(k => cov(r)(k) * evecs(i)(k)).sum)
      val res = math.sqrt((0 until d).map(r =>
        math.pow(cv(r) - evals(i) * evecs(i)(r), 2)).sum)
      assert(res < 1e-9, s"component $i residual $res")
    }
    // eigenvalues sorted desc and summing to trace
    assert(evals.sliding(2).forall { case Array(a, b) => a >= b - 1e-12 })
    val trace = (0 until d).map(i => cov(i)(i)).sum
    assert(math.abs(evals.sum - trace) < 1e-9)
  }

  test("moments are partitioning-invariant (the decimal-fold contract)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val (n1, m1, g1) = Pca.moments(emb)
    val (n2, m2, g2) = Pca.moments(emb.repartition(7))
    assert(n1 == n2)
    assert(m1.toSeq == m2.toSeq) // bit-identical, not approximately
    assert(g1.map(_.toSeq).toSeq == g2.map(_.toSeq).toSeq)
  }

  test("variance ladder accounts for all variance; recon error matches dropped mass") {
    val ladder = Pca.varianceQuery(spark, sf).collect()
    assert(ladder.length > 0)
    assert(math.abs(ladder.last.getDouble(3) - 1.0) < 1e-9)
    // corpus identity: mean squared reconstruction error equals the sum
    // of the dropped eigenvalues (orthonormal basis Pythagoras)
    val dropped = ladder.drop(Pca.PcaDims).map(_.getDouble(1)).sum
    val proj = Pca.projectQuery(spark, sf).collect()
    val mse = proj.map(r => math.pow(r.getDouble(3), 2)).sum / proj.length
    assert(math.abs(mse - dropped) < 1e-6 * math.max(1.0, dropped),
      s"mse $mse vs dropped eigenmass $dropped")
  }

  test("ingest projection equals the batch projection (forced split)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val (n, mean, gram) = Pca.moments(emb)
    val (_, evecs) = Pca.jacobiEigen(Pca.covariance(n, mean, gram))
    val basis = evecs.take(Pca.PcaDims)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("vec_id")).collect().map(_.toString).toSeq
    val whole = rows(Pca.projectOver(emb, mean, basis))
    val split = rows(
      Pca.projectOver(emb.filter(col("vec_id") % 2 === 0), mean, basis)
        .unionByName(
          Pca.projectOver(emb.filter(col("vec_id") % 2 === 1), mean, basis)))
    assert(whole == split && whole.nonEmpty)
    // and the declared streaming twin drains to the batch result
    assert(rows(Pca.streamProjectQuery(spark, sf)) ==
      rows(Pca.projectQuery(spark, sf)))
  }

  test("pca serving ranks by exact cosine and recall audits recount") {
    val out = Pca.topKPcaQuery(spark, sf).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getLong(1)).map(r => (r.getDouble(4), r.getLong(2)))
      assert(byRank.zip(byRank.tail).forall { case (a, b) =>
        a._1 > b._1 || (a._1 == b._1 && a._2 < b._2) })
    }
    val audit = Pca.pcaRecallQuery(spark, sf).collect()
    audit.foreach(r => assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
  }

  test("persisted pca index serves the transient query's rows bit-for-bit") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    // doubles round-trip parquet exactly, so the read-only serve over
    // the written projection equals the train-and-serve path
    val transient = rows(Pca.topKPcaQuery(spark, sf))
    val persisted = rows(Pca.topKPcaPersisted(spark, sf))
    assert(persisted == transient && persisted.nonEmpty)
    // the model table is a READABLE artifact, not dead weight: loading
    // the persisted (mean, basis) back and re-projecting the corpus
    // reproduces the shipped projection bit-for-bit — the out-of-corpus
    // embedder contract, and a drift guard between model and projection
    val (mean, basis) = Pca.loadModel(spark, sf)
    val reproj = Pca.projectWith(
        Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding")),
        mean, basis)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    val shipped = spark.read.parquet(s"${Pca.pcaIndex(spark, sf)}/proj")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    assert(reproj == shipped && reproj.nonEmpty)
  }

  test("drift audit: headroom exactly 1.0, no page, on the never-appended corpus") {
    val r = Pca.pcaDriftQuery(spark, sf).head()
    assert(r.getLong(0) == Tables.embeddings(spark, sf).count())
    assert(r.getDouble(1) > 0.0 && r.getDouble(1) <= 1.0)
    // the two arms train the identical deterministic basis here, so the
    // shares are bit-equal and the headroom is exactly 1.0
    assert(r.getDouble(1) == r.getDouble(2))
    assert(r.getDouble(3) == 1.0)
    assert(r.getLong(4) == 0L)
  }

  test("drift audit fires on a drifted corpus and the retrain restores capture") {
    import spark.implicits._
    // Drift shape: the persisted basis was trained when all variance
    // lived in dims 0..15; the appended mass is 4× the amplitude in
    // dims 16..31 — the subspace ROTATED away from the serving basis,
    // the exact decay sim_pca_recall would suffer silently without the
    // audit. The stale basis captures only the old dims' share; a fresh
    // train recovers the dominant new ones.
    val dim = 2 * Pca.PcaDims
    def mk(id: Long, lo: Int, amp: Float): (Long, Array[Float]) = {
      val v = new Array[Float](dim)
      for (j <- lo until lo + Pca.PcaDims)
        v(j) = amp * (((id * 7 + j) % 5) - 2).toFloat
      (id, v)
    }
    val embA = (0L until 120L).map(mk(_, 0, 1f)).toDF("vec_id", "embedding")
    val embB = (120L until 240L).map(mk(_, Pca.PcaDims, 4f))
      .toDF("vec_id", "embedding")
    val (nA, meanA, gramA) = Pca.moments(embA)
    val basisA = Pca.jacobiEigen(Pca.covariance(nA, meanA, gramA))
      ._2.take(Pca.PcaDims)
    val live = embA.unionByName(embB)
    val served = Pca.varShareOver(live, meanA, basisA, "s").head().getDouble(0)
    val (nL, meanL, gramL) = Pca.moments(live)
    val basisL = Pca.jacobiEigen(Pca.covariance(nL, meanL, gramL))
      ._2.take(Pca.PcaDims)
    val fresh = Pca.varShareOver(live, meanL, basisL, "f").head().getDouble(0)
    info(s"served=$served fresh=$fresh headroom=${fresh / served}")
    assert(fresh / served > Pca.PcaRetrainHeadroom,
      s"drift audit failed to page: headroom ${fresh / served}")
    assert(fresh > 0.8, s"retrained basis captures only $fresh")
  }

  test("pca cutover: pointer serves the retrained index; refusal and retire guards") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    // the cutover row serves through the alias; on the never-appended
    // corpus the retrained artifact is value-identical, so equality with
    // the persisted serve is the row-level pin …
    val cut = rows(Pca.topKPcaCutover(spark, sf))
    assert(cut == rows(Pca.topKPcaPersisted(spark, sf)) && cut.nonEmpty)
    // … and the pointer mechanics are pinned directly (the IvfIndexSpec
    // shape at this family's layout)
    val alias = TempDirs.scoped("graft_pca_spec_alias")
    val half = TempDirs.scoped("graft_pca_spec_half")
    intercept[Exception] {
      Pca.layout.cutoverProbed(spark, alias, half)(Pca.checkModel(spark, half))
    }
    intercept[Exception] { IndexFiles.resolveServing(alias) } // refusal left it unpointed
    val idx = Pca.pcaIndex(spark, sf)
    Pca.layout.cutoverProbed(spark, alias, idx)(Pca.checkModel(spark, idx))
    assert(IndexFiles.resolveServing(alias) == idx)
    // retire refuses the live target and refuses non-PCA dirs
    intercept[Exception] { Pca.layout.retire(alias, idx) }
    val notIdx = TempDirs.scoped("graft_pca_spec_notidx")
    val stray = java.nio.file.Paths.get(notIdx, "unrelated.txt")
    java.nio.file.Files.write(stray, "not graft state".getBytes)
    intercept[Exception] { Pca.layout.retire(alias, notIdx) }
    assert(java.nio.file.Files.exists(stray))
  }
}
