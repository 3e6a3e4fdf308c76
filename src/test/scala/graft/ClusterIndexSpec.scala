package graft

import org.apache.spark.sql.functions._

import graft.operators.{ClusterIndex, IndexFiles, Similarity}

/** Pins for the incremental semantic-cluster maintenance (VERDICT r11
  * ask #5): the append path must be ROW-IDENTICAL to the rebuild — that
  * equality is why sim_clusters_incremental shares the
  * sim_semantic_clusters oracle SQL verbatim — and the relabeling must
  * actually be incremental (later slices touch a strict subset of the
  * corpus), not a rebuild wearing an append costume.
  */
class ClusterIndexSpec extends SparkSpec {

  test("append-then-cluster equals rebuild-then-cluster row for row") {
    val incr = ClusterIndex.incrementalClustersQuery(spark, sf)
      .collect().map(_.toString).toSeq
    val rebuild = Similarity.semanticClusters(spark, sf)
      .collect().map(_.toString).toSeq
    assert(incr == rebuild)
  }

  test("frozen geometry: wider-built index equals the wider rebuild; " +
      "mismatched append bits are refused") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val cut = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
    val wide = Similarity.AnnBits + 2
    val state = TempDirs.scoped("graft_widegeo_state")
    ClusterIndex.appendBatch(emb.filter(col("vec_id") <= cut), state,
      Some(wide))
    // the recorded geometry governs even when the caller omits bits
    ClusterIndex.appendBatch(emb.filter(col("vec_id") > cut), state)
    val incr = ClusterIndex.clusters(spark, state)
      .collect().map(_.toString).toSeq
    val rebuild = Similarity.semanticClustersAt(spark, sf, wide)
      .collect().map(_.toString).toSeq
    assert(incr == rebuild)
    // an explicit append at a DIFFERENT width must fail loudly — silent
    // mixed-geometry pair slices would diverge from every rebuild
    val extra = Seq((999999L, Array.fill(Similarity.Dim)(0.5f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      ClusterIndex.appendBatch(extra, state, Some(Similarity.AnnBits))
    }
    assert(e.getMessage.contains("frozen geometry"))
  }

  /** Incrementality needs a corpus with STRUCTURE to be observable: on a
    * uniform-random toy corpus every vector is every append's near-
    * neighbor candidate and any maintenance scheme degenerates to a
    * rebuild — a property of the data, not the algorithm. Ten tight,
    * well-separated clusters (within-cosine ~0.999, cross ~0.1) are the
    * realistic shape; appending new members of ONE cluster must re-rank
    * and relabel only that cluster, leaving the other nine untouched. */
  test("an append into one cluster relabels only that cluster") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def unit(): Array[Float] = {
      val v = Array.fill(operators.Similarity.Dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    def member(base: Array[Float]): Array[Float] =
      base.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
    val bases = Array.fill(10)(unit())
    // 8 members per cluster, ids grouped by cluster: cluster c owns
    // ids [8c, 8c+8)
    val corpus = (0 until 80).map(i => (i.toLong, member(bases(i / 8))))
      .toDF("vec_id", "embedding")
    // 4 new members of cluster 0 arrive
    val batch = (100 until 104).map(i => (i.toLong, member(bases(0))))
      .toDF("vec_id", "embedding")

    val state = TempDirs.scoped("graft_incclusters_pin")
    ClusterIndex.appendBatch(corpus, state)
    ClusterIndex.appendBatch(batch, state)
    // the append's relabel delta: cluster 0's 8 members + the 4 new ids,
    // none of the other nine clusters
    val relabeled = spark.read.parquet(s"$state/labels/b1")
      .select(col("vec_id")).as[Long].collect().toSet
    assert(relabeled.forall(id => id < 8 || id >= 100),
      s"append relabeled vectors outside cluster 0: $relabeled")
    assert((100L until 104L).forall(relabeled.contains))
    // the re-ranked knn delta is likewise confined to cluster 0 + batch
    val reranked = spark.read.parquet(s"$state/knn/b1")
      .select(col("vec_id")).distinct().as[Long].collect().toSet
    assert(reranked.forall(id => id < 8 || id >= 100),
      s"append re-ranked vectors outside cluster 0: $reranked")
    // folded state covers the whole corpus exactly once, and cluster 0
    // now has 12 members
    val folded = ClusterIndex.clusters(spark, state)
    assert(folded.count() == 84)
    assert(folded.filter(col("cluster_id") === 0L)
      .agg(max(col("cluster_size"))).head().getLong(0) == 12L)
  }

  test("re-bucket: wider frozen geometry, tombstones carried, old state intact") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    val narrow = Similarity.adaptiveBits(n)
    val wide = Similarity.widenedBits(n, 2)
    assert(wide > narrow)
    val a = TempDirs.scoped("graft_rebucket_spec_a")
    val b = TempDirs.scoped("graft_rebucket_spec_b")
    ClusterIndex.appendBatch(emb, a, Some(narrow))
    ClusterIndex.deleteIds(
      emb.filter(col("vec_id") % 7 === 3).select(col("vec_id")), a)
    val before = ClusterIndex.clusters(spark, a)
      .collect().map(_.toString).toSeq
    ClusterIndex.rebucketIndex(spark, a, b, wide)
    // the source state is untouched — still serving as-of reads
    val after = ClusterIndex.clusters(spark, a)
      .collect().map(_.toString).toSeq
    assert(before == after)
    // every survivor served exactly once at the wider width
    assert(ClusterIndex.clusters(spark, b).count() ==
      emb.filter(col("vec_id") % 7 =!= 3).count())
    // the delete record carried: a tombstoned id stays un-appendable
    val deadId = emb.filter(col("vec_id") % 7 === 3)
      .agg(min(col("vec_id"))).head().getLong(0)
    val e1 = intercept[IllegalArgumentException] {
      ClusterIndex.appendBatch(emb.filter(col("vec_id") === deadId), b)
    }
    assert(e1.getMessage.contains("re-append"))
    // and the new geometry is frozen WIDE: the retired width is refused
    val extra = Seq((888888L, Array.fill(Similarity.Dim)(0.25f)))
      .toDF("vec_id", "embedding")
    val e2 = intercept[IllegalArgumentException] {
      ClusterIndex.appendBatch(extra, b, Some(narrow))
    }
    assert(e2.getMessage.contains("frozen geometry"))
  }

  test("streaming drain equals the rebuild row for row") {
    // the declared stream_cluster_append query IS the contract: a real
    // checkpointed file stream, one file per micro-batch, the second
    // batch through the general append path — and the served clusters
    // must equal the batch rebuild exactly (why it shares the rebuild
    // oracle verbatim)
    val streamed = ClusterIndex.streamClusterAppendQuery(spark, sf)
      .collect().map(_.toString).toSeq
    val rebuild = Similarity.semanticClusters(spark, sf)
      .collect().map(_.toString).toSeq
    assert(streamed == rebuild)
  }

  test("delete-then-cluster equals a build from only the survivors") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val survivors = emb.filter(col("vec_id") % 7 =!= 3)
    // deleted path: append in two slices, then tombstone the subset
    val delState = TempDirs.scoped("graft_delclusters_spec")
    // survivor-only path: one append of exactly the remaining vectors
    // (== the rebuild, by the append-equality pin above)
    val refState = TempDirs.scoped("graft_refclusters_spec")
    val top = emb.agg(max(col("vec_id"))).head().getLong(0)
    ClusterIndex.appendBatch(emb.filter(col("vec_id") <= top / 2), delState)
    ClusterIndex.appendBatch(emb.filter(col("vec_id") > top / 2), delState)
    ClusterIndex.deleteIds(
      emb.filter(col("vec_id") % 7 === 3).select(col("vec_id")), delState)
    ClusterIndex.appendBatch(survivors, refState)
    val deleted = ClusterIndex.clusters(spark, delState)
      .collect().map(_.toString).toSeq
    val rebuilt = ClusterIndex.clusters(spark, refState)
      .collect().map(_.toString).toSeq
    assert(deleted == rebuilt)
  }

  test("deleting members of one cluster relabels only that cluster") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def unit(): Array[Float] = {
      val v = Array.fill(operators.Similarity.Dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    def member(base: Array[Float]): Array[Float] =
      base.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
    val bases = Array.fill(10)(unit())
    val corpus = (0 until 80).map(i => (i.toLong, member(bases(i / 8))))
      .toDF("vec_id", "embedding")
    val state = TempDirs.scoped("graft_delclusters_local")
    ClusterIndex.appendBatch(corpus, state)
    // two members of cluster 0 (ids 0 and 1) die
    ClusterIndex.deleteIds(Seq(0L, 1L).toDF("vec_id"), state)
    // the delete's relabel delta stays inside cluster 0
    val relabeled = spark.read.parquet(s"$state/labels/b1")
      .select(col("vec_id")).as[Long].collect().toSet
    assert(relabeled.forall(_ < 8),
      s"delete relabeled vectors outside cluster 0: $relabeled")
    val folded = ClusterIndex.clusters(spark, state)
    assert(folded.filter(col("vec_id") < 2L).count() == 0)
    assert(folded.count() == 78)
    assert(folded.filter(col("vec_id") === 2L)
      .head().getLong(2) == 6L)   // cluster 0 shrank 8 -> 6
  }

  test("a vector whose every candidate died becomes a live singleton") {
    import spark.implicits._
    // two near-identical vectors: the pair set is exactly {(0,1)}
    val v = Array.fill(operators.Similarity.Dim)(0.1f)
    val corpus = Seq((0L, v), (1L, v.map(x => x + 0.001f)))
      .toDF("vec_id", "embedding")
    val state = TempDirs.scoped("graft_delclusters_sentinel")
    ClusterIndex.appendBatch(corpus, state)
    ClusterIndex.deleteIds(Seq(1L).toDF("vec_id"), state)
    // survivor 0 lost its only neighbor: the sentinel row must stop
    // latest-wins from resurrecting the stale (0 -> 1) edge, and the
    // folded clusters must show 0 as a singleton
    val out = ClusterIndex.clusters(spark, state).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L))
    assert(out.head.getLong(2) == 1L)
  }

  test("as-of snapshot ignores the later append AND the later delete") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val top = emb.agg(max(col("vec_id"))).head().getLong(0)
    val cut = top / 2
    val state = TempDirs.scoped("graft_asofclusters_spec")
    val refState = TempDirs.scoped("graft_asofref_spec")
    ClusterIndex.appendBatch(emb.filter(col("vec_id") <= cut), state)
    ClusterIndex.appendBatch(emb.filter(col("vec_id") > cut), state)
    ClusterIndex.deleteIds(
      emb.filter(col("vec_id") % 5 === 2).select(col("vec_id")), state)
    // reference: an index that never saw the later operations
    ClusterIndex.appendBatch(emb.filter(col("vec_id") <= cut), refState)
    val snap = ClusterIndex.clusters(spark, state, asOf = Some(0L))
      .collect().map(_.toString).toSeq
    val ref = ClusterIndex.clusters(spark, refState)
      .collect().map(_.toString).toSeq
    assert(snap == ref)
    // non-vacuous: the live read differs from the snapshot (vectors were
    // appended and deleted after it)
    val live = ClusterIndex.clusters(spark, state)
      .collect().map(_.toString).toSeq
    assert(live != snap)
  }

  test("append AFTER delete composes: dead ids pair with nothing") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val top = emb.agg(max(col("vec_id"))).head().getLong(0)
    val cut = top / 2
    val survivorsPlusNew = emb.filter(col("vec_id") % 7 =!= 3)
    val state = TempDirs.scoped("graft_appendafterdel_spec")
    val refState = TempDirs.scoped("graft_appendafterdel_ref")
    // op 0: first half; op 1: delete some of it; op 2: append the rest
    ClusterIndex.appendBatch(emb.filter(col("vec_id") <= cut), state)
    ClusterIndex.deleteIds(
      emb.filter(col("vec_id") <= cut && col("vec_id") % 7 === 3)
        .select(col("vec_id")), state)
    ClusterIndex.appendBatch(
      emb.filter(col("vec_id") > cut && col("vec_id") % 7 =!= 3), state)
    // reference: one append of exactly the final live set
    ClusterIndex.appendBatch(survivorsPlusNew.filter(col("vec_id") <= cut)
      .unionByName(survivorsPlusNew.filter(col("vec_id") > cut)), refState)
    val composed = ClusterIndex.clusters(spark, state)
      .collect().map(_.toString).toSeq
    val ref = ClusterIndex.clusters(spark, refState)
      .collect().map(_.toString).toSeq
    assert(composed == ref)
  }

  test("compaction is result-invariant, composes with later appends, " +
      "and guards the as-of and re-append contracts") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val top = emb.agg(max(col("vec_id"))).head().getLong(0)
    val cut = top / 2
    val state = TempDirs.scoped("graft_compact_spec")
    ClusterIndex.appendBatch(emb.filter(col("vec_id") <= cut), state)
    ClusterIndex.deleteIds(
      emb.filter(col("vec_id") <= cut && col("vec_id") % 7 === 3)
        .select(col("vec_id")), state)
    val before = ClusterIndex.clusters(spark, state)
      .collect().map(_.toString).toSeq
    ClusterIndex.compactOps(spark, state, 1L)
    // bit-identical results; physically one c-slice per data subdir
    val after = ClusterIndex.clusters(spark, state)
      .collect().map(_.toString).toSeq
    assert(after == before)
    for (sub <- Seq("emb", "pairs", "knn", "labels")) {
      val slices = IndexFiles.listSlices(spark, s"$state/$sub")
      assert(slices.map(_.split('/').last) == Seq("c1"), s"$sub: $slices")
    }
    // an as-of read whose snapshot predates the fold refuses loudly
    val e = intercept[IllegalStateException](
      ClusterIndex.clusters(spark, state, asOf = Some(0L)).collect())
    assert(e.getMessage.contains("compaction"))
    // a deleted id stays dead across compaction (tombstone guard)
    val e2 = intercept[IllegalArgumentException](
      ClusterIndex.appendBatch(
        emb.filter(col("vec_id") <= cut && col("vec_id") % 7 === 3)
          .limit(1), state))
    assert(e2.getMessage.contains("already in the cluster index"))
    // appending on top of the compacted state equals the uncompacted path
    ClusterIndex.appendBatch(
      emb.filter(col("vec_id") > cut && col("vec_id") % 7 =!= 3), state)
    val ref = TempDirs.scoped("graft_compact_ref")
    ClusterIndex.appendBatch(emb.filter(col("vec_id") % 7 =!= 3), ref)
    assert(ClusterIndex.clusters(spark, state)
      .collect().map(_.toString).toSeq ==
      ClusterIndex.clusters(spark, ref)
        .collect().map(_.toString).toSeq)
  }

  test("re-appending an existing vec_id is refused loudly") {
    val state = TempDirs.scoped("graft_incclusters_reappend")
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    ClusterIndex.appendBatch(emb.filter(col("vec_id") <= 10), state)
    val e = intercept[IllegalArgumentException](
      ClusterIndex.appendBatch(emb.filter(col("vec_id") <= 5), state))
    assert(e.getMessage.contains("already in the cluster index"))
  }

  test("cutover: atomic alias swap, half-built refusal, retire guards — " +
      "the IvfIndexSpec pins at this family's layout") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val stateA = TempDirs.scoped("graft_cl_cut_a")
    val stateB = TempDirs.scoped("graft_cl_cut_b")
    ClusterIndex.appendBatch(emb.filter(col("vec_id") <= 40), stateA)
    // B = the re-bucket remedy's output (a wider rebuild of A's live set)
    ClusterIndex.rebucketIndex(spark, stateA, stateB,
      graft.operators.Similarity.widenedBits(41L, 2))
    val alias = TempDirs.scoped("graft_cl_cut_alias")
    intercept[Exception] { IndexFiles.resolveServing(alias) }
    ClusterIndex.layout.cutoverProbed(spark, alias, stateA)(
      ClusterIndex.checkGeometry(spark, stateA))
    assert(IndexFiles.resolveServing(alias) == stateA)
    val servedA = ClusterIndex.clusters(spark,
      IndexFiles.resolveServing(alias)).collect().map(_.toString).toSeq
    assert(servedA == ClusterIndex.clusters(spark, stateA)
      .collect().map(_.toString).toSeq)
    // re-point at the remedy output; the pointer file holds the full path
    ClusterIndex.layout.cutoverProbed(spark, alias, stateB)(
      ClusterIndex.checkGeometry(spark, stateB))
    assert(IndexFiles.resolveServing(alias) == stateB)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(alias, "current")),
      java.nio.charset.StandardCharsets.UTF_8) == stateB)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(alias, ".current.tmp")))
    // half-built target (no slices) refuses and leaves the pointer alone
    val half = TempDirs.scoped("graft_cl_cut_half")
    intercept[Exception] {
      ClusterIndex.layout.cutoverProbed(spark, alias, half)(
        ClusterIndex.checkGeometry(spark, half))
    }
    assert(IndexFiles.resolveServing(alias) == stateB)
    // retire: refuses the live target, refuses a non-cluster dir, then
    // deletes the replaced state without disturbing the served one
    intercept[Exception] { ClusterIndex.layout.retire(alias, stateB) }
    val notState = TempDirs.scoped("graft_cl_cut_notstate")
    val stray = java.nio.file.Paths.get(notState, "unrelated.txt")
    java.nio.file.Files.write(stray, "not graft state".getBytes)
    intercept[Exception] { ClusterIndex.layout.retire(alias, notState) }
    assert(java.nio.file.Files.exists(stray))
    ClusterIndex.layout.retire(alias, stateA)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(stateA)))
    assert(ClusterIndex.clusters(spark, IndexFiles.resolveServing(alias))
      .collect().nonEmpty)
  }
}
