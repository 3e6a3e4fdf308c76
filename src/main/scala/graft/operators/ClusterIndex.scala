package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.MicroBatchPipeline
import graft.streaming.MicroBatchPipeline.{batchOn, batchSized}

/** INCREMENTAL maintenance for the mutual-kNN semantic clusters
  * (Similarity.semanticClusters) — the `appendBatch` and `deleteIds`
  * verbs of the persisted-index family: without them, one new or
  * removed vector re-clusters the world, which contradicts the
  * build-once/maintain-forever shape every other index in the repo
  * follows (IvfIndex postings, StreamingDedup band slices, IndexFiles
  * tombstones).
  *
  * State is five slice dirs under one root ([[layout]]: the b<N> naming
  * of every persisted index, plus `tombstones/b<N>` for the delete verb;
  * appends and deletes draw from ONE op clock so latest-wins folds order
  * the verbs correctly), and the frozen `geometry` table:
  *
  *   - `emb/b<N>`    — the batch's (vec_id, embedding) rows, append-only.
  *   - `pairs/b<N>`  — NEW scored LSH candidate pairs introduced by batch
  *                     N (>=1 endpoint in the batch), append-only: the
  *                     union over slices is exactly the rebuild's pair
  *                     set, because whichever endpoint arrives later sees
  *                     the other in the index.
  *   - `knn/b<N>`    — top-K rows for the vectors whose neighbor lists
  *                     CHANGED at append N (latest-wins per vec_id).
  *   - `labels/b<N>` — (vec_id, component) for the vertices RELABELED at
  *                     append N (latest-wins per vec_id).
  *
  * Append cost is bounded by the batch's bucket collisions plus the
  * touched components — history is scanned (one read per append) but
  * never re-shuffled on the bucket key, and only components reachable
  * from a changed mutual edge are re-labeled. Untouched components keep
  * their labels from earlier slices.
  *
  * Equality with the rebuild (the contract ClusterIndexSpec pins, and
  * why the declared query shares sim_semantic_clusters' oracle text
  * VERBATIM):
  *   1. pairs: accumulated slices = all bucket-collision pairs over the
  *      full corpus (per-bucket population audited under the rebuild's
  *      salt cap, so salted and plain joins produce the same pair set).
  *   2. knn: a vector's candidate edge set only grows when a new pair
  *      touches it; untouched vectors keep identical top-K, touched ones
  *      re-rank over their FULL (old + new) pair set — the rebuild's
  *      ranking exactly (deterministic score-desc/nbr-asc order).
  *   3. mutual: pointwise in the two endpoints' top-K lists, so it can
  *      only change at an endpoint whose top-K changed.
  *   4. labels: mutual components are edge-closed, so a component with no
  *      changed edge has an identical vertex+edge set and keeps its
  *      min-id label; changed components are re-solved by the shared
  *      Dedup.componentsOver machinery on exactly their vertex set.
  */
object ClusterIndex {

  private val Emb = "emb"
  private val Pairs = "pairs"
  private val Knn = "knn"
  private val Labels = "labels"
  private val Geometry = "geometry"
  private[graft] val layout = IndexFiles.Layout("cluster index",
    sliced = Seq(Emb, Pairs, Knn, Labels), tombs = "tombstones",
    idCol = "vec_id", partitionCol = None, frozen = Seq(Geometry))

  /** Every id ever deleted (tombstone slices <= the snapshot, distinct).
    * Deletes here are PERMANENT: appendBatch refuses re-appends
    * outright, so there is no resurrection path to order against —
    * which is why a plain union suffices where the serving indexes need
    * the slice-clock-ordered [[IndexFiles.Layout.liveOf]]. */
  private def deadAll(spark: SparkSession, state: String,
      asOf: Option[Long] = None): DataFrame =
    layout.dead(spark, state, asOf.getOrElse(Long.MaxValue)).distinct()

  /** Delta-fold read for knn/labels: every row tagged with its slice id,
    * and per key only the rows of the NEWEST slice holding that key
    * survive — a touched vector's rewritten top-K (or relabel) fully
    * supersedes its older rows. One window over the slice union; slices
    * that fail the b<N> naming fail loudly (the IndexFiles contract).
    * `asOf` restricts the fold to ops <= the snapshot — time travel by
    * ignoring newer deltas, the `Layout.liveOf(asOf)` convention. */
  private def latestWins(spark: SparkSession, base: String,
      key: String, asOf: Option[Long] = None): DataFrame = {
    val all = IndexFiles.listSlices(spark, base)
    val slices = asOf.fold(all)(IndexFiles.slicesUpTo(spark, base, _))
    if (slices.isEmpty && all.nonEmpty)
      // every slice <= the snapshot was folded into a later c<N> merge:
      // the snapshot state no longer exists — refuse loudly (the
      // dedup_serve_asof compaction-refusal convention)
      throw new IllegalStateException(
        s"as-of snapshot ${asOf.get} predates the oldest slice under " +
          s"$base — compaction folded history past the snapshot; refusing")
    require(slices.nonEmpty, s"no slices under $base — append before reading")
    latestWinsOver(spark, slices, key)
  }

  /** The latest-wins fold over an EXPLICIT slice list (shared by the
    * as-of reads and compaction's materialization). */
  private def latestWinsOver(spark: SparkSession, slices: Seq[String],
      key: String): DataFrame = {
    val tagged = slices.map { d =>
      val id = IndexFiles.sliceBatch(d).getOrElse(
        throw new IllegalStateException(
          s"slice dir $d does not follow the b<N>/c<N> naming — refusing " +
            "a latest-wins read that would silently mis-order it"))
      spark.read.parquet(d).withColumn("_slice", lit(id))
    }.reduce(_ unionByName _)
    val w = Window.partitionBy(col(key))
    tagged.withColumn("_newest", max(col("_slice")).over(w))
      .filter(col("_slice") === col("_newest"))
      .drop("_slice", "_newest")
  }

  /** Live top-K state: the latest-wins fold minus dead vectors and minus
    * the rank-0 SENTINEL rows a delete writes for vectors whose last
    * candidate died (without the sentinel, latest-wins would resurrect
    * their stale pre-delete top-K from an older slice). */
  private def liveKnn(spark: SparkSession, state: String,
      dead: DataFrame): DataFrame =
    latestWins(spark, s"$state/$Knn", "vec_id")
      .filter(col("rank") >= 1L)
      .join(dead, Seq("vec_id"), "left_anti")

  /** Live labels: latest-wins fold minus dead vectors. */
  private def liveLabels(spark: SparkSession, state: String,
      dead: DataFrame, asOf: Option[Long] = None): DataFrame =
    latestWins(spark, s"$state/$Labels", "vec_id", asOf)
      .join(dead, Seq("vec_id"), "left_anti")


  /** The frozen LSH geometry: same seeded hyperplanes as the batch tier
    * at the index's recorded bit width, so an appended vector lands in
    * exactly the bucket the rebuild puts it in. */
  private def bucketsOf(emb: DataFrame, bits: Int): DataFrame =
    emb.select(col("vec_id"),
      posexplode(Similarity.planeBucketsN(col("embedding"), bits))
        .as(Seq("table_id", "bucket")))

  /** The index's frozen key-space width, chosen ONCE at creation
    * (explicitly by the caller, or [[Similarity.adaptiveBits]] of the
    * first batch) and recorded in the state dir: every later append
    * MUST bucket at the same width or its pair slices would not union
    * to the rebuild's pair set. Deletes never re-narrow it — verbs
    * serve at build geometry, the `semanticClustersOracleSqlOver`
    * contract. */
  private def readGeometry(spark: SparkSession, state: String): Int =
    spark.read.parquet(s"$state/$Geometry").head().getInt(0)

  private def writeGeometry(spark: SparkSession, state: String,
      bits: Int): Unit = {
    import spark.implicits._
    // overwrite, matching the slice writers' idempotent-replay mode: a
    // first append that crashed after the geometry write but before b0
    // must be replayable — ErrorIfExists would fail the retry on the
    // leftover geometry dir
    Seq(bits).toDF("bits").coalesce(1).write.mode("overwrite")
      .parquet(s"$state/$Geometry")
  }

  /** Exact cosine over candidate id pairs, embeddings re-attached by
    * equi-join (ids-only through the pair machinery — the batch tier's
    * shuffle-width discipline). */
  private def scorePairs(ids: DataFrame, emb: DataFrame): DataFrame =
    ids
      .join(emb.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a")),
        Seq("vec_a"))
      .join(emb.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b")),
        Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        Similarity.cos(col("emb_a"), col("emb_b")).as("score"))

  private def symmetrize(pairs: DataFrame): DataFrame =
    pairs.select(col("vec_a").as("vec_id"), col("vec_b").as("nbr"), col("score"))
      .unionAll(pairs
        .select(col("vec_b").as("vec_id"), col("vec_a").as("nbr"), col("score")))

  /** Top-K per vector with the rebuild's deterministic tie-break. */
  private def topKOf(sym: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("score").desc, col("nbr").asc)
    sym.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= Similarity.KnnK)
  }

  /** Mutual-kNN edges (u < v) among edges with >=1 endpoint in `verts` —
    * the OTHER endpoint's membership is checked against the full edge
    * list, so an untouched neighbor's unchanged top-K participates
    * without being recomputed. */
  private def mutualTouching(knn: DataFrame, verts: DataFrame): DataFrame = {
    val e = knn.select(col("vec_id"), col("nbr"))
    val et = e.join(verts, Seq("vec_id"), "left_semi")
      .unionByName(
        e.join(verts.select(col("vec_id").as("nbr")), Seq("nbr"), "left_semi")
          .select(col("vec_id"), col("nbr")))
      .distinct()
    et.filter(col("vec_id") < col("nbr"))
      .join(e.select(col("nbr").as("vec_id"), col("vec_id").as("nbr")),
        Seq("vec_id", "nbr"), "left_semi")
  }

  /** Append one batch of NEW vectors to the cluster state. Re-appending
    * an existing vec_id is refused loudly — the pair-accumulation
    * invariant (slice union == rebuild pair set) assumes ids arrive
    * once; updates are delete-then-append territory, not silent merge.
    * Runs on [[MicroBatchPipeline.batchSized]] of the batch's session. */
  def appendBatch(batch0: DataFrame, state: String,
      bits: Option[Int] = None): Unit = {
    val batch = batchOn(batchSized(batch0.sparkSession), batch0)
      .select(col("vec_id"), col("embedding")).persist()
    val spark = batch.sparkSession
    val sliceId = layout.nextSliceId(spark, state)

    if (sliceId == 0L) {
      val geo = bits.getOrElse(Similarity.adaptiveBits(batch.count()))
      writeGeometry(spark, state, geo)
      // first slice: the batch IS the corpus — one rebuild-shaped pass
      // eager localCheckpoint instead of persist: each of these frames is
      // re-referenced by several consumers, and Catalyst plans are TREES —
      // without truncation the nested references blow the analyzed plan up
      // exponentially (the largeSmallStarComponents precedent, Dedup.scala).
      val pairs =
        scorePairs(Similarity.lshCandidatePairs(batch, bits = geo), batch)
          .localCheckpoint(true)
      // knn is re-evaluated three times downstream (the write plus both
      // sides of mutualTouching) — checkpoint once so the rank window
      // over the scored pairs runs once, not three times.
      val knn = topKOf(symmetrize(pairs)).localCheckpoint(true)
      val labels = Dedup.componentsOver(
        batch.select(col("vec_id")),
        mutualTouching(knn, batch.select(col("vec_id"))))
      batch.write.parquet(s"$state/$Emb/b0")
      pairs.write.parquet(s"$state/$Pairs/b0")
      knn.write.parquet(s"$state/$Knn/b0")
      labels.write.parquet(s"$state/$Labels/b0")
      batch.unpersist()
      PlanUtils.freeLocalCheckpoint(pairs, knn)
      return
    }

    val geo = readGeometry(spark, state)
    require(bits.forall(_ == geo),
      s"appendBatch at bits=${bits.get} against an index built at " +
        s"bits=$geo — the pair-accumulation invariant needs one frozen " +
        "geometry; re-bucket (rebuild) to widen")
    val dead = deadAll(spark, state).localCheckpoint(true)
    // dead vectors are out of the live index: they must not pair with the
    // batch, rank in anyone's top-K, or re-enter through a re-append
    // (deletes are permanent here — re-appends are refused outright, so
    // a tombstoned id stays dead)
    val histEmb = IndexFiles.readSlices(spark, s"$state/$Emb")
      .join(dead, Seq("vec_id"), "left_anti").persist()
    // --- candidate pairs introduced by this batch --------------------
    val histBuckets = bucketsOf(histEmb, geo)
    val batchBuckets = bucketsOf(batch, geo)
    // ONE driver action for both guards (they were two separate jobs —
    // at batch-append job counts the scheduling latency is the cost):
    //  - re-append guard: emb UNION tombstones must not contain a batch
    //    id (histEmb is emb minus dead, so histEmb ∪ dead ≡ emb ∪ dead —
    //    no second slice-union read needed). Compaction folds dead rows
    //    out of the data slices, but the tombstone record is permanent.
    //  - hot-bucket audit: the rebuild's salted join equals this plain
    //    join only while every (table, bucket) stays under the salt cap.
    //    Above it, fail loudly — the production path is LshSkew salting
    //    with a cap-consistent incremental bucketing, not a silently
    //    different candidate set.
    val audit = (
      histBuckets.unionByName(batchBuckets)
        .groupBy(col("table_id"), col("bucket")).agg(count(lit(1)).as("n"))
        .agg(coalesce(max(col("n")), lit(0L)).as("max_bucket"))
        .crossJoin(batch.join(
            histEmb.select(col("vec_id")).unionByName(dead),
            Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("n_reappends")))
        .head())
    require(audit.getLong(1) == 0L,
      "appendBatch received a vec_id already in the cluster index — " +
        "re-appends would double-count pairs; deletes are permanent")
    require(audit.getLong(0) <= Similarity.MaxBucketSize,
      s"bucket population ${audit.getLong(0)} exceeds the salt cap " +
        s"${Similarity.MaxBucketSize}: incremental append would diverge " +
        "from the salted rebuild — re-bucket with a wider geometry")
    val crossIds = histBuckets
      .select(col("table_id"), col("bucket"), col("vec_id").as("hist_id"))
      .join(batchBuckets
          .select(col("table_id"), col("bucket"), col("vec_id").as("batch_id")),
        Seq("table_id", "bucket"))
      .select(least(col("hist_id"), col("batch_id")).as("vec_a"),
        greatest(col("hist_id"), col("batch_id")).as("vec_b"))
      .distinct()
    // no outer distinct: crossIds (>=1 endpoint in history) and the
    // batch-internal pairs are DISJOINT sets, each already distinct —
    // a redundant distinct here would be the widest shuffle of the append
    val newIds =
      crossIds.unionByName(Similarity.lshCandidatePairs(batch, bits = geo))
    val allEmb = histEmb.unionByName(batch)
    val newPairs = scorePairs(newIds, allEmb).localCheckpoint(true)

    // --- re-rank exactly the vectors whose top-K can actually change --
    // Admission filter: a vector that merely GAINED candidates keeps its
    // top-K untouched unless some new score reaches its current K-th best
    // (>= — an equal score can still displace through the nbr-asc
    // tie-break; a strictly smaller one cannot). Without this filter,
    // bucket collisions alone would mark nearly the whole corpus touched
    // on every append (128 bucket keys), making "incremental" vacuous;
    // with it, the touched set tracks genuine neighborhood change — on a
    // clustered corpus an append only re-ranks the clusters it lands in
    // (pinned in ClusterIndexSpec).
    // oldKnn is re-evaluated by kth and newKnn, and newKnn's tree is
    // re-evaluated ~5x (both sides of mutualTouching, both sides of
    // subMutual) — each evaluation re-runs the latest-wins window over
    // the knn slice union. Checkpointing each once costs one job and
    // removes ~6 redundant window folds; profiled at sf0.1 this cuts the
    // general append's frontier/relabel phases roughly in half.
    // oldLabels stays un-checkpointed: two shallow re-references only.
    val oldKnn = liveKnn(spark, state, dead).localCheckpoint(true)
    val newBest = symmetrize(newPairs).groupBy(col("vec_id"))
      .agg(max(col("score")).as("best_new"))
    val kth = oldKnn.filter(col("rank") === Similarity.KnnK)
      .select(col("vec_id"), col("score").as("kth_score"))
    val touched0 = newBest.join(kth, Seq("vec_id"), "left")
      .filter(col("kth_score").isNull || col("best_new") >= col("kth_score"))
      .select(col("vec_id"))
      .unionByName(batch.select(col("vec_id")))
      .distinct()
    val touched = touched0.localCheckpoint(true)
    val allPairs = IndexFiles.readSlices(spark, s"$state/$Pairs")
      .join(dead.select(col("vec_id").as("vec_a")), Seq("vec_a"), "left_anti")
      .join(dead.select(col("vec_id").as("vec_b")), Seq("vec_b"), "left_anti")
      .unionByName(newPairs)
    val touchedKnn = topKOf(
      symmetrize(allPairs).join(touched, Seq("vec_id"), "left_semi"))
      .localCheckpoint(true)
    val newKnn = oldKnn.join(touched, Seq("vec_id"), "left_anti")
      .unionByName(touchedKnn).localCheckpoint(true)

    // --- changed mutual edges -> affected components ------------------
    // Mutuality is pointwise in the endpoints' top-K lists, so only edges
    // with a touched endpoint can appear or disappear. The frontier needs
    // NO old-graph diff: a REMOVED mutual edge was mutual before, so its
    // endpoints share an old component with the touched endpoint that
    // broke it — already reachable through affComponents — while an ADDED
    // edge can pull in an untouched endpoint's component, so only the NEW
    // mutual edges incident to touched vertices extend the frontier.
    val mutNew = mutualTouching(newKnn, touched)
    val frontier = touched
      .unionByName(mutNew.select(col("vec_id")))
      .unionByName(mutNew.select(col("nbr").as("vec_id")))
      .distinct()
    val oldLabels = liveLabels(spark, state, dead)
    val affComponents = oldLabels.join(frontier, Seq("vec_id"), "left_semi")
      .select(col("component")).distinct()
    val affVerts0 = oldLabels
      .join(affComponents, Seq("component"), "left_semi")
      .select(col("vec_id"))
      .unionByName(batch.select(col("vec_id")))
      .distinct()
    val affVerts = affVerts0.localCheckpoint(true)

    // --- relabel ONLY the affected components -------------------------
    // Mutual components are edge-closed: an unchanged edge keeps both
    // endpoints in one old component, a changed edge has both endpoints
    // in the frontier — so no mutual edge crosses the affVerts boundary
    // and the sub-solve composes exactly with the untouched labels.
    val subMutual = newKnn.select(col("vec_id"), col("nbr"))
      .join(affVerts, Seq("vec_id"), "left_semi")
      .filter(col("vec_id") < col("nbr"))
      .join(newKnn.select(col("nbr").as("vec_id"), col("vec_id").as("nbr")),
        Seq("vec_id", "nbr"), "left_semi")
    val newLabels = Dedup.componentsOver(affVerts, subMutual)

    batch.write.parquet(s"$state/$Emb/b$sliceId")
    newPairs.write.parquet(s"$state/$Pairs/b$sliceId")
    touchedKnn.write.parquet(s"$state/$Knn/b$sliceId")
    newLabels.write.parquet(s"$state/$Labels/b$sliceId")
    batch.unpersist(); histEmb.unpersist()
    PlanUtils.freeLocalCheckpoint(dead, newPairs, touched, touchedKnn, affVerts,
      oldKnn, newKnn)
  }

  /** DELETE vectors from the cluster state — the lifecycle verb every
    * other persisted index already has (IndexFiles tombstones): writes a
    * tombstone slice on the shared op clock, re-ranks exactly the
    * vectors that LOSE a top-K neighbor (the delete-side mirror of the
    * append's admission filter — losing a candidate below one's K-th
    * best changes nothing), and relabels only the components reachable
    * from a changed mutual edge. Deleting can SPLIT a component; the
    * sub-solve handles that because it re-runs connected components on
    * the affected vertex set, not a merge-only union.
    *
    * Contract (pinned in ClusterIndexSpec): delete-then-cluster ==
    * cluster state built from only the remaining vectors. Deletes are
    * permanent — appendBatch refuses re-appends, so there is no
    * resurrection ordering to maintain. Runs on
    * [[MicroBatchPipeline.batchSized]] of the ids' session. */
  def deleteIds(ids0: DataFrame, state: String): Unit = {
    val ids = batchOn(batchSized(ids0.sparkSession), ids0)
    val spark = ids.sparkSession
    val prevDead = deadAll(spark, state)
    val dead = ids.select(col("vec_id")).distinct()
      .join(prevDead, Seq("vec_id"), "left_anti")   // replayed delete: no-op ids
      .localCheckpoint(true)
    val sliceId = layout.nextSliceId(spark, state)
    dead.coalesce(1).write.mode("overwrite")
      .parquet(s"$state/${layout.tombs}/b$sliceId")

    val oldKnn = liveKnn(spark, state, prevDead)
    // the delete-side admission filter: only vectors whose CURRENT top-K
    // contains a dying neighbor re-rank; everyone else's ranking is
    // untouched by losing candidates they never ranked
    val touched = oldKnn
      .join(dead.select(col("vec_id").as("nbr")), Seq("nbr"), "left_semi")
      .select(col("vec_id")).distinct()
      .join(dead, Seq("vec_id"), "left_anti")
      .localCheckpoint(true)
    val allDead = prevDead.unionByName(dead)
    val livePairs = IndexFiles.readSlices(spark, s"$state/$Pairs")
      .join(allDead.select(col("vec_id").as("vec_a")), Seq("vec_a"), "left_anti")
      .join(allDead.select(col("vec_id").as("vec_b")), Seq("vec_b"), "left_anti")
    val touchedKnn = topKOf(
      symmetrize(livePairs).join(touched, Seq("vec_id"), "left_semi"))
      .localCheckpoint(true)
    // sentinel rows (rank 0) for touched vectors whose LAST candidate
    // died: without them, latest-wins would resurrect the stale top-K
    // from an older slice. liveKnn filters them out on read.
    val sentinels = touched
      .join(touchedKnn.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), lit(-1L).as("nbr"),
        lit(0.0).as("score"), lit(0L).as("rank"))
    val newKnn = oldKnn
      .join(dead, Seq("vec_id"), "left_anti")
      .join(touched, Seq("vec_id"), "left_anti")
      .unionByName(touchedKnn)

    // changed mutual edges: every edge at a dead endpoint is lost, and
    // touched endpoints may gain/lose through their re-ranked lists. As
    // in the append path, the frontier needs no old-graph diff — every
    // LOST edge's endpoints share an old component with the dead or
    // touched vertex that broke it, so only NEW mutual edges incident to
    // the re-ranked vertices can extend the frontier.
    val frontier0 = touched.unionByName(dead).distinct()
    val mutNew = mutualTouching(newKnn, frontier0)
    val frontier = frontier0
      .unionByName(mutNew.select(col("vec_id")))
      .unionByName(mutNew.select(col("nbr").as("vec_id")))
      .distinct()
    val oldLabels = liveLabels(spark, state, prevDead)
    val affComponents = oldLabels.join(frontier, Seq("vec_id"), "left_semi")
      .select(col("component")).distinct()
    val affVerts = oldLabels
      .join(affComponents, Seq("component"), "left_semi")
      .select(col("vec_id"))
      .join(dead, Seq("vec_id"), "left_anti")
      .localCheckpoint(true)
    val subMutual = newKnn.select(col("vec_id"), col("nbr"))
      .join(affVerts, Seq("vec_id"), "left_semi")
      .filter(col("vec_id") < col("nbr"))
      .join(newKnn.select(col("nbr").as("vec_id"), col("vec_id").as("nbr")),
        Seq("vec_id", "nbr"), "left_semi")
    val newLabels = Dedup.componentsOver(affVerts, subMutual)

    touchedKnn.unionByName(sentinels)
      .write.parquet(s"$state/$Knn/b$sliceId")
    newLabels.write.parquet(s"$state/$Labels/b$sliceId")
    PlanUtils.freeLocalCheckpoint(dead, touched, touchedKnn, affVerts)
  }

  /** The serving read: fold the label deltas, attach cluster sizes —
    * the same (vec_id, cluster_id, cluster_size) contract as the
    * rebuild query. */
  def clusters(spark: SparkSession, state: String,
      asOf: Option[Long] = None): DataFrame = {
    val labels = liveLabels(spark, state, deadAll(spark, state, asOf), asOf)
    val sizes = labels.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "component")
      .select(col("vec_id"), col("component").as("cluster_id"),
        col("cluster_size"))
      .orderBy(col("vec_id"))
  }

  /** Declared-query form: the embeddings table arrives as THREE
    * vec_id-ordered slices appended to one persisted cluster state (the
    * incrementalEmbeddingDedupQuery convention). Because append-then-
    * cluster == rebuild-then-cluster, the output is row-identical to
    * sim_semantic_clusters and shares its oracle SQL verbatim. */
  def incrementalClustersQuery(spark: SparkSession, dir: String): DataFrame = {
    val state = graft.StateCache.stateDir(dir, "clusters/app3",
        "graft_incclusters_state") { state =>
      val emb = graft.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      val top = emb.agg(max(col("vec_id"))).head().getLong(0)
      val (cut1, cut2) = (top / 3, 2 * top / 3)
      // geometry from the FULL corpus the lifecycle will hold, not the
      // first batch: the shared-verbatim rebuild oracle picks its key
      // space from COUNT(embeddings), and the equality contract needs the
      // index built at exactly that width
      val geo = Some(Similarity.corpusBits(spark, dir))
      appendBatch(emb.filter(col("vec_id") <= cut1), state, geo)
      appendBatch(emb.filter(col("vec_id") > cut1 && col("vec_id") <= cut2),
        state, geo)
      appendBatch(emb.filter(col("vec_id") > cut2), state, geo)
    }
    clusters(spark, state)
  }

  /** Declared-query form of the DELETE verb: two id-ordered appends,
    * then every vec_id ≡ 3 (mod 7) deleted. Delete-then-cluster equals
    * a rebuild over only the survivors, so the oracle is the rebuild
    * oracle with the corpus CTE filtered to the survivors — deletion as
    * real state maintenance, replayed by a plain SQL predicate. */
  def deletedClustersQuery(spark: SparkSession, dir: String): DataFrame =
    clusters(spark, deletedState(spark, dir))

  /** The 2-append + delete-every-7th lifecycle state — built once per
    * corpus and shared read-only by `sim_clusters_deleted`,
    * `sim_clusters_stats`, and the re-bucket verb's source index (their
    * mutation histories are identical, so the state is too). */
  private def deletedState(spark: SparkSession, dir: String): String =
    graft.StateCache.stateDir(dir, "clusters/app2_del7",
        "graft_delclusters_state") { state =>
      val emb = graft.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      val top = emb.agg(max(col("vec_id"))).head().getLong(0)
      val cut = top / 2
      val geo = Some(Similarity.corpusBits(spark, dir))
      appendBatch(emb.filter(col("vec_id") <= cut), state, geo)
      appendBatch(emb.filter(col("vec_id") > cut), state, geo)
      deleteIds(emb.filter(col("vec_id") % 7 === 3).select(col("vec_id")),
        state)
    }

  /** The rebuild oracle over a restricted corpus: the shared text
    * instantiated at a `live_emb` CTE carrying the restriction
    * predicate. The geometry count inside stays on the FULL embeddings
    * table — verbs serve at the key space frozen when the index was
    * built; a delete or snapshot must not re-narrow it. The re-bucket
    * verb's oracle passes the +2-rung ladder as `geo`. */
  private def restrictedOracleSql(predicate: String,
      geo: Similarity.OracleGeo =
        Similarity.OracleGeo.Ladder("embeddings")): String =
    Similarity.semanticClustersOracleSqlOver("live_emb", geo)
      .replaceFirst("WITH RECURSIVE ",
        "WITH RECURSIVE live_emb AS " +
          s"(SELECT * FROM embeddings WHERE $predicate),\n")

  /** Declared-query form of the RE-BUCKET verb: the standard two-append
    * + delete lifecycle at the corpus-adaptive width, then
    * [[rebucketIndex]] into a geometry two rungs wider — the planned
    * response to a shrinking `guard_headroom` in the geometry audit.
    * Re-bucket-then-cluster equals a rebuild over only the survivors AT
    * THE WIDER WIDTH, so the oracle is the restricted rebuild text with
    * the +2-shifted ladder. */
  def rebucketClustersQuery(spark: SparkSession, dir: String): DataFrame =
    clusters(spark, rebucketedState(spark, dir))

  /** The +2-rung re-bucketed state the remedy produces — built once per
    * corpus and shared read-only by the rebucket row and the cutover
    * row (which swaps the serving alias to exactly this dir). */
  private def rebucketedState(spark: SparkSession, dir: String): String =
    graft.StateCache.stateDir(dir, "clusters/app2_del7_rebucket2",
        "graft_rebucket_state_b") { wider =>
      // source index: the SHARED 2-append + delete lifecycle state (its
      // geometry, corpusBits == adaptiveBits(n), is exactly the width
      // this verb widens from)
      val state = deletedState(spark, dir)
      val n = graft.Tables.embeddings(spark, dir).count()
      rebucketIndex(spark, state, wider, Similarity.widenedBits(n, 2))
    }

  /** Declared query — the CUTOVER lifecycle on the cluster index
    * (VERDICT r19 #1): the standard 2-append + delete lifecycle, the
    * +2-rung [[rebucketIndex]] remedy into a fresh state dir, then the
    * ATOMIC alias swap (the [[layout]] cutover plus [[checkGeometry]]) and
    * a serve THROUGH the pointer — the remedy → serve loop closed in code for
    * this family exactly as the IVF tiers' cutover rows closed theirs.
    * Equals [[rebucketClustersQuery]] row for row (the pointer resolves
    * to the widened state; atomicity/refusal/retire pinned in
    * ClusterIndexSpec), so the +2-ladder rebuild-on-survivors oracle
    * carries verbatim. */
  def clustersCutoverQuery(spark: SparkSession, dir: String): DataFrame = {
    val alias = graft.StateCache.stateDir(dir, "clusters/cutover_alias",
        "graft_clalias") { a =>
      val target = rebucketedState(spark, dir)
      layout.cutoverProbed(spark, a, target)(checkGeometry(spark, target))
    }
    clusters(spark, IndexFiles.resolveServing(alias))
  }

  /** AS-OF snapshot serving — the time-travel verb of the index family
    * (`sim_topk_ivf_asof` / `dedup_serve_asof` precedent): two appends
    * and a delete run against the state, then the clusters are read AT
    * op 0 — the later append AND the later delete must both be
    * invisible. A snapshot at op 0 is definitionally the cluster state
    * of the first batch alone, so the oracle is the rebuild SQL over
    * exactly that batch (the id cut replayed as a scalar subquery). */
  def asofClustersQuery(spark: SparkSession, dir: String): DataFrame = {
    val state = graft.StateCache.stateDir(dir, "clusters/app2_del5",
        "graft_asofclusters_state") { state =>
      val emb = graft.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      val top = emb.agg(max(col("vec_id"))).head().getLong(0)
      val cut = top / 2
      val geo = Some(Similarity.corpusBits(spark, dir))
      appendBatch(emb.filter(col("vec_id") <= cut), state, geo)   // op 0
      appendBatch(emb.filter(col("vec_id") > cut), state, geo)    // op 1
      deleteIds(emb.filter(col("vec_id") % 5 === 2)
        .select(col("vec_id")), state)                            // op 2
    }
    clusters(spark, state, asOf = Some(0L))
  }

  /** RE-BUCKET the index at a wider frozen geometry — the operation the
    * salt-cap guard's refusal prescribes ("re-bucket with a wider
    * geometry"): one rebuild-shaped pass over the LIVE set into a fresh
    * state at `bits`, after which appends resume with the cap headroom
    * the [[Similarity.geometryAudit]] row shows. The permanent delete
    * record carries over — a tombstoned id must stay un-appendable in
    * the re-bucketed index too (the forget-audit contract) — and the
    * old state is left untouched for as-of reads until retired (serving
    * swaps to the new state via the layout's atomic cutover). */
  def rebucketIndex(spark: SparkSession, oldState: String,
      newState: String, bits: Int): Unit = {
    val dead = deadAll(spark, oldState).localCheckpoint(true)
    val live = IndexFiles.readSlices(spark, s"$oldState/$Emb")
      .join(dead, Seq("vec_id"), "left_anti")
    appendBatch(live, newState, Some(bits))
    if (!dead.isEmpty) deleteIds(dead, newState)
  }

  /** The cluster family's own cutover check, on top of the layout's
    * (a slice under every subdir, a non-empty geometry table): the frozen
    * geometry records a positive key-space width. */
  private[graft] def checkGeometry(spark: SparkSession, state: String): Unit = {
    val bits = readGeometry(spark, state)
    require(bits > 0,
      s"cutover refused: $state records non-positive geometry $bits")
  }

  /** COMPACT the cluster state: fold every slice with op id <=
    * `upToOp` into one `c<upToOp>` slice per subdir — emb/pairs as
    * dead-free unions, knn/labels as MATERIALIZED latest-wins folds (so
    * the superseded rows and the delete sentinels physically disappear),
    * tombstone slices kept untouched as the permanent delete record the
    * re-append guard consults. Results are bit-identical before and
    * after (pinned in ClusterIndexSpec); an as-of read whose snapshot
    * predates the fold refuses loudly. Crash safety is the shared
    * [[IndexFiles.publishCompacted]] dot-dir/rename/cleanup protocol. */
  def compactOps(spark: SparkSession, state: String, upToOp: Long): Unit = {
    val dead = deadAll(spark, state).persist()
    def fold(sub: String)(merge: Seq[String] => DataFrame): Unit = {
      val base = s"$state/$sub"
      val inputs = IndexFiles.slicesUpTo(spark, base, upToOp)
      if (inputs.nonEmpty)
        IndexFiles.publishCompacted(spark, base, upToOp, merge(inputs),
          inputs, Nil)((df, path) => df.write.parquet(path))
    }
    fold(Emb)(in => IndexFiles.readUnion(spark, in)
      .join(dead, Seq("vec_id"), "left_anti"))
    fold(Pairs)(in => IndexFiles.readUnion(spark, in)
      .join(dead.select(col("vec_id").as("vec_a")), Seq("vec_a"), "left_anti")
      .join(dead.select(col("vec_id").as("vec_b")), Seq("vec_b"), "left_anti"))
    fold(Knn)(in => latestWinsOver(spark, in, "vec_id")
      .filter(col("rank") >= 1L)
      .join(dead, Seq("vec_id"), "left_anti"))
    fold(Labels)(in => latestWinsOver(spark, in, "vec_id")
      .join(dead, Seq("vec_id"), "left_anti"))
    dead.unpersist()
  }

  /** Declared-query form of the COMPACTION verb: append, delete, fold
    * everything into one c-slice per subdir, serve. Compaction is
    * result-invariant, so the output equals [[deletedClustersQuery]]
    * exactly and the oracle is the same rebuild-on-survivors SQL. */
  def compactedClustersQuery(spark: SparkSession, dir: String): DataFrame = {
    val state = graft.StateCache.stateDir(dir, "clusters/app1_del7_compact",
        "graft_cptclusters_state") { state =>
      val emb = graft.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      appendBatch(emb, state)                                       // op 0
      deleteIds(emb.filter(col("vec_id") % 7 === 3)
        .select(col("vec_id")), state)                              // op 1
      compactOps(spark, state, 1L)
    }
    clusters(spark, state)
  }

  /** Declared query — STREAMING cluster maintenance, completing the
    * streaming column of the index-family matrix (text LSH:
    * `stream_text_serve`; IVF: `stream_ivf_index_append`; clusters:
    * this). The corpus lands as two parquet files in a landing
    * directory; a checkpointed file stream drains them one file per
    * micro-batch (`maxFilesPerTrigger=1`), each batch appended to the
    * persisted cluster state via [[appendBatch]] — so the second batch
    * exercises the full incremental path (admission filter, frontier,
    * sub-relabel) under real streaming machinery, not a hand-rolled
    * loop. Append-then-cluster == rebuild-then-cluster for ANY corpus
    * partition, so the served clusters share the rebuild oracle
    * VERBATIM regardless of file arrival order. Exactly-once: the
    * checkpoint guarantees a committed batch never re-fires, and a
    * replayed UNCOMMITTED batch trips the re-append guard loudly
    * instead of double-counting pairs (fail-loud, not fail-wrong; the
    * overwrite-slice replay pattern of StreamingDedup.appendBatch does
    * not compose with delta slices that later ops build on). */
  def streamClusterAppendQuery(spark: SparkSession, dir: String): DataFrame = {
    val state = graft.StateCache.stateDir(dir, "clusters/stream2",
        "graft_sclappend_state") { state =>
      val landing = graft.TempDirs.scoped("graft_sclappend_landing")
      val emb = graft.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      val top = emb.agg(max(col("vec_id"))).head().getLong(0)
      val cut = top / 2
      val geo = Some(Similarity.corpusBits(spark, dir))
      // two appends into ONE landing dir = two data files (coalesce(1)
      // each); FileStreamSource ignores the _SUCCESS markers
      emb.filter(col("vec_id") <= cut)
        .coalesce(1).write.mode("append").parquet(landing)
      emb.filter(col("vec_id") > cut)
        .coalesce(1).write.mode("append").parquet(landing)
      val files = spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1").parquet(landing)
      MicroBatchPipeline.drain(files, "sclappend") { (b, _) =>
        appendBatch(b, state, geo)
      }
      // the claim is streaming MAINTENANCE: if the source ever coalesced
      // the files into one batch, this would silently degrade to a single
      // rebuild-shaped op0 — refuse instead of serving a hollow result
      require(layout.slices(spark, state, Emb).size >= 2,
        "stream_cluster_append drained as a single micro-batch — " +
          "maxFilesPerTrigger was not honored; the general append path " +
          "was never exercised")
    }
    clusters(spark, state)
  }

/** One-row lifecycle readout of the cluster state (the
    * `sim_index_stats`/`dedup_compaction_stats` convention): run the
    * standard two-append + delete lifecycle, then report slice
    * accounting plus live-state row counts — the dashboard row an
    * operator alerts on. Slice counts are facts of the lifecycle run
    * (2 appends, 1 tombstone); live counts are replayable from the
    * corpus, so the whole row oracles as literals + filtered counts. */
  def clusterStatsQuery(spark: SparkSession, dir: String): DataFrame = {
    // the SAME lifecycle as sim_clusters_deleted — served from the shared
    // built-once state; the slice accounting below still observes the
    // real dirs, so a drifted build shape fails the literal oracle
    val state = deletedState(spark, dir)
    val nAppend = layout.slices(spark, state, Emb).size
    val nTomb = layout.slices(spark, state, layout.tombs).size
    val dead = deadAll(spark, state)
    clusters(spark, state)
      .agg(count(lit(1)).as("n_live_vectors"),
        count_distinct(col("cluster_id")).as("n_clusters"))
      .crossJoin(dead.agg(count(lit(1)).as("n_dead_ids")))
      .select(lit(nAppend.toLong).as("n_append_slices"),
        lit(nTomb.toLong).as("n_tombstone_slices"),
        col("n_live_vectors"), col("n_dead_ids"), col("n_clusters"))
  }

  /** Stats oracle: slice counts are lifecycle literals; live/dead counts
    * replay from the corpus; the cluster count replays the full
    * rebuild-on-survivors component CTEs. */
  private def statsOracleSql: String =
    restrictedOracleSql("vec_id % 7 <> 3")
      .replace("""SELECT c.vec_id, c.cluster_id, s.cluster_size
FROM comp c JOIN sizes s USING (cluster_id)
ORDER BY vec_id""",
        """SELECT CAST(2 AS BIGINT) AS n_append_slices,
  CAST(1 AS BIGINT) AS n_tombstone_slices,
  (SELECT COUNT(*) FROM live_emb) AS n_live_vectors,
  (SELECT COUNT(*) FROM embeddings WHERE vec_id % 7 = 3) AS n_dead_ids,
  (SELECT COUNT(DISTINCT cluster_id) FROM comp) AS n_clusters""")

  import graft.QuerySpec.withOracle

  val specs: Seq[graft.QuerySpec] = Seq(
    withOracle("sim_clusters_stats", clusterStatsQuery, statsOracleSql),
    withOracle("sim_clusters_incremental", incrementalClustersQuery,
      Similarity.semanticClustersOracleSql),
    withOracle("stream_cluster_append", streamClusterAppendQuery,
      Similarity.semanticClustersOracleSql),
    withOracle("sim_clusters_deleted", deletedClustersQuery,
      restrictedOracleSql("vec_id % 7 <> 3")),
    withOracle("sim_clusters_compacted", compactedClustersQuery,
      restrictedOracleSql("vec_id % 7 <> 3")),
    withOracle("sim_clusters_asof", asofClustersQuery,
      restrictedOracleSql(
        "vec_id <= (SELECT MAX(vec_id) // 2 FROM embeddings)")),
    withOracle("sim_clusters_rebucket", rebucketClustersQuery,
      restrictedOracleSql("vec_id % 7 <> 3",
        Similarity.OracleGeo.Ladder("embeddings", 2))),
    // The cutover row serves the SAME widened state through the atomic
    // alias, so the +2-ladder rebuild-on-survivors replay carries
    // verbatim — a pointer resolving anywhere else diverges or fails
    // loudly.
    withOracle("sim_clusters_cutover", clustersCutoverQuery,
      restrictedOracleSql("vec_id % 7 <> 3",
        Similarity.OracleGeo.Ladder("embeddings", 2))))
}
