package graft

import org.apache.spark.sql.functions._
import graft.functions.Scale

class ScaleSpec extends SparkSpec {

  test("salted aggregation equals direct aggregation") {
    val ev = Tables.events(spark, sf)
      .withColumn("vc", round(col("value") * 100).cast("long"))
    val direct = ev.groupBy(col("event_type"))
      .agg(sum(col("vc")).as("sum_vc"), count(lit(1)).as("n_rows"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val salted = Scale.saltedSum(ev, Seq("event_type"), col("vc"), "vc",
        saltFrom = col("event_id"), buckets = 16)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == direct)
  }

  test("salt is deterministic and spans the bucket range") {
    val ev = Tables.events(spark, sf)
      .select(Scale.salt(col("event_id"), 16).as("s"))
    val values = ev.distinct().collect().map(_.getLong(0)).toSet
    assert(values.forall(s => s >= 0 && s < 16))
    assert(values.size > 8) // spread, not collapsed
    val again = Tables.events(spark, sf)
      .select(Scale.salt(col("event_id"), 16).as("s"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(values == again)
  }

  test("LSH hot-bucket guard bounds candidates on a degenerate embedding corpus") {
    import graft.operators.Similarity
    // 10k copies of ONE vector: every row lands in the same bucket of
    // every table — the unguarded join would emit C(10000,2) ≈ 50M pairs.
    val n = 10000
    val cap = 128
    val vec = array((0 until Similarity.Dim).map(i =>
      lit(((i % 7) + 1) * 0.1f)): _*)
    val emb = spark.range(n).select(col("id").as("vec_id"), vec.as("embedding"))
    val got = graft.operators.Similarity.lshCandidatePairs(emb, cap).count()
    // expected: within-salt pairs of ONE hot bucket (identical across the
    // 8 tables, so distinct collapses them), computed by the same modular
    // split the guard applies
    val nSalt = math.ceil(n.toDouble / cap).toLong
    val expected = (0L until n.toLong).groupBy(_ % nSalt).values
      .map(g => g.size.toLong * (g.size - 1) / 2).sum
    assert(got == expected, s"got $got, expected $expected")
    assert(got <= n.toLong * cap) // the guard's work bound
    assert(got < n.toLong * (n - 1) / 2 / 10) // nowhere near quadratic
  }

  test("phash hot-band guard bounds candidates on a degenerate image corpus") {
    import spark.implicits._
    import graft.operators.Multimodal
    // every image identical => one hot (band, value) bucket per band; the
    // unguarded join would emit C(n,2) pairs
    val n = 30
    val cap = 8
    val hashes = (0L until n.toLong).map(i => (i, 0x1234567890abcdefL))
      .toDF("media_id", "phash")
    val got = Multimodal.phashPairsOn(hashes, cap).count()
    val nSalt = math.ceil(n.toDouble / cap).toLong
    val expected = (0L until n.toLong).groupBy(_ % nSalt).values
      .map(g => g.size.toLong * (g.size - 1) / 2).sum
    assert(got == expected, s"got $got, expected $expected")
    assert(got < n.toLong * (n - 1) / 2) // strictly below quadratic
  }

  test("video frame-band guard bounds candidates on identical clips") {
    import spark.implicits._
    import graft.operators.Multimodal
    // every clip identical => per frame, one hot (frame, band, value)
    // bucket per band; the salt guard must bound each frame's pair set
    // exactly as the image tier's (same formula, per frame)
    val n = 30
    val frames = 4
    val cap = 8
    val rows = for { i <- 0L until n.toLong; f <- 0 until frames }
      yield (i, f.toLong, 0x1234567890abcdefL)
    val got = Multimodal
      .framePairs(rows.toDF("media_id", "frame_id", "phash"), cap)
      .count()
    val nSalt = math.ceil(n.toDouble / cap).toLong
    val perFrame = (0L until n.toLong).groupBy(_ % nSalt).values
      .map(g => g.size.toLong * (g.size - 1) / 2).sum
    assert(got == perFrame * frames, s"got $got, expected ${perFrame * frames}")
    assert(got < n.toLong * (n - 1) / 2 * frames) // strictly below quadratic
    // and the vote aggregation collapses them to one pair row each
    val votes = Multimodal.videoNearDup(spark, "/root/testdata/sf0.001")
    votes.collect().foreach(r => assert(r.getLong(2) <= frames))
  }

  test("semdedup hot-cell guard splits a degenerate single-cell corpus") {
    import graft.operators.{EmbeddingOps, Similarity}
    // identical vectors => one k-means cell; the guard must split it
    val n = 30
    val cap = 8
    val vec = array((0 until Similarity.Dim).map(i =>
      lit(0.1f * ((i % 5) + 1))): _*)
    val emb = spark.range(n).select(col("id").as("vec_id"), vec.as("embedding"))
    val centroids = Seq(
      Array.tabulate(Similarity.Dim)(i => 0.1f * ((i % 5) + 1)))
    val out = EmbeddingOps.semDedupOn(emb, centroids, cap).collect()
    val nSalt = math.ceil(n.toDouble / cap).toLong
    assert(out.length == n)
    out.foreach { r =>
      val (id, keeper, isDup) = (r.getLong(0), r.getLong(2), r.getLong(3))
      if (id < nSalt) { // smallest id of its salt group: survives
        assert(keeper == id && isDup == 0L)
      } else { // duplicate of its salt group's minimum
        assert(keeper == id % nSalt && isDup == 1L)
      }
    }
  }

  test("saltBuckets window and broadcast-size forms assign identical salts") {
    import graft.operators.LshSkew
    import spark.implicits._
    // Skewed random bucket assignment (zipf-ish): both counting paths
    // must yield the same ceil(B/cap) split for every row.
    val rnd = new scala.util.Random(5)
    val rows = Seq.fill(5000)(
      (math.abs(rnd.nextLong()) % 100000, rnd.nextInt(rnd.nextInt(15) + 1).toLong))
    val buckets = rows.toDF("id", "bucket")
    def salted(broadcastSizes: Boolean): Map[(Long, Long), Long] =
      LshSkew.saltBuckets(buckets, Seq("bucket"), "id", cap = 100, broadcastSizes)
        .select("id", "bucket", "salt") // the join form reorders columns
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(salted(broadcastSizes = true) == salted(broadcastSizes = false))
  }

  test("LSH salt is inert below the cap: candidates identical to unguarded") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    def pairs(cap: Int) = Similarity.lshCandidatePairs(emb, cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(Similarity.MaxBucketSize) == pairs(Int.MaxValue))
  }

  test("MinHash band-bucket guard bounds candidates on an all-identical corpus") {
    import graft.operators.Dedup
    // 2000 identical documents: every band bucket holds the whole corpus.
    val n = 2000
    val cap = 64
    val docs = spark.range(n).select(col("id").as("doc_id"),
      lit("the quick brown fox jumps over the lazy dog again and again").as("text"))
    val got = Dedup.minhashLshPairs(docs, bandCap = cap).count()
    // identical docs all verify at jaccard 1.0, so verified == candidates
    val nSalt = math.ceil(n.toDouble / cap).toLong
    val expected = (0L until n.toLong).groupBy(_ % nSalt).values
      .map(g => g.size.toLong * (g.size - 1) / 2).sum
    assert(got == expected, s"got $got, expected $expected")
    assert(got <= n.toLong * cap)
  }

  test("MinHash salt is inert below the cap: pairs identical to unguarded") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf)
    def pairs(cap: Int) = Dedup.minhashLshPairs(docs, bandCap = cap)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(Dedup.MaxBandBucketSize) == pairs(Int.MaxValue))
  }

  test("AQE splits a skewed join partition at runtime") {
    import spark.implicits._
    // SURVEY's join scale note leans on AQE skew-splitting for hot keys;
    // verify the mechanism actually engages: one key carrying ~all rows
    // must be marked skew=true in the final adaptive plan.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force sort-merge
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val skewed = spark.range(300000)
        .select((when(col("id") % 100 === 0, col("id")).otherwise(lit(7L))).as("k"),
          col("id").as("v"))
      val dim = spark.range(1000).select(col("id").as("k"), col("id").as("w"))
      // The filter depends on BOTH sides so it cannot push below the join;
      // collect() executes THIS dataframe's own adaptive plan (count()
      // would plan and execute a separate derived query).
      val joined = skewed.join(dim, "k").filter(col("v") + col("w") < 0)
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), plan)
      assert(plan.contains("skew=true"), s"no skew split in plan:\n$plan")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("bucketed tables sort-merge join without a shuffle exchange") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = Tables.lineitem(spark, sf)
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
      li.write.mode("overwrite").bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable("li_bucket_a")
      li.write.mode("overwrite").bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable("li_bucket_b")
      val joined = spark.table("li_bucket_a")
        .join(spark.table("li_bucket_b"), "l_orderkey")
      joined.count() // materialize through AQE
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS li_bucket_a")
      spark.sql("DROP TABLE IF EXISTS li_bucket_b")
    }
  }

  test("spanDedup plan: first-occurrence is a hash aggregate with partial combine") {
    // The packed-long rewrite exists so a hot boilerplate window collapses
    // map-side; a regression to min(struct) would reappear as
    // SortAggregate over the full window stream. Pin the pre-AQE plan.
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, SortAggregateExec}
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = graft.operators.Curation.spanDedup(d).queryExecution.sparkPlan
    val hashAggs = plan.collect { case h: HashAggregateExec => h }
    val sortAggs = plan.collect { case s: SortAggregateExec => s }
    assert(hashAggs.size >= 2, s"expected partial+final hash aggregates:\n$plan")
    assert(sortAggs.isEmpty,
      s"first-occurrence must not sort the window stream:\n$plan")
  }

  test("winnowing df cap bounds the pair join on a boilerplate-dominated corpus") {
    import graft.operators.Dedup
    // 5000 copies of ONE text: every fingerprint appears in every doc —
    // the unguarded join would emit C(5000,2) ≈ 12.5M pairs per shared
    // fingerprint; the df cap (MOSS's ignore-very-common step) drops
    // them ALL as boilerplate, so the overlap join is EMPTY.
    val n = 5000
    val docs = spark.range(n).select(col("id").as("doc_id"),
      lit("the same boilerplate text repeated in every single document here")
        .as("text"))
    val fps = Dedup.winnowFingerprints(docs)
    assert(fps.count() == 0L) // everything over the df cap -> dropped
    // and a doc with UNIQUE content keeps its fingerprints: the cap
    // removes boilerplate, not signal
    import spark.implicits._
    val mixed = docs.unionByName(Seq((99999L,
      "completely unique words appear only inside this one document"))
      .toDF("doc_id", "text"))
    val kept = Dedup.winnowFingerprints(mixed)
      .filter(col("doc_id") === 99999L).count()
    assert(kept > 0L)
  }

  test("trainerCleanDeduped plan: corpus side of decontamination never shuffles before the anti-join") {
    // The clean-corpus branch must be scan -> filter -> broadcast anti;
    // an Exchange under the anti-join's streamed side would mean the
    // 100 TB side shuffles for decontamination. Pinned on the
    // pre-checkpoint stage: trainerPipeline materializes this plan once
    // (localCheckpoint) before the packing passes, so the final query
    // plan no longer carries the anti-join. The composition itself is
    // pinned below (ADVICE r18): if trainerPipeline ever stopped
    // composing trainerCleanDeduped, this anti-join pin would keep
    // passing while production lost the property.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val plan = graft.operators.Curation
      .trainerCleanDeduped(spark, "/root/testdata/sf0.001")
      .queryExecution.sparkPlan
    val antiJoins = plan.collect {
      case j: BroadcastHashJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    }
    assert(antiJoins.nonEmpty, s"decontamination anti-join missing:\n$plan")
    antiJoins.foreach { j =>
      val shuffles = j.left.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.isEmpty,
        s"corpus side of the anti-join shuffles:\n${j.left}")
    }
  }

  test("trainerPipeline composes trainerCleanDeduped (the pinned pre-checkpoint stage)") {
    // The anti-join pin above runs against trainerCleanDeduped directly;
    // this pin closes the loop: the production pipeline's manifest must
    // equal the same shard aggregation recomputed over the factored
    // stage, so the pipeline cannot silently swap in a different
    // pre-checkpoint corpus while the plan pin keeps passing.
    import graft.operators.Curation
    val dir = "/root/testdata/sf0.001"
    val got = Curation.trainerPipeline(spark, dir).collect().toSeq
    val shard = (conv(substring(md5(
      concat_ws(":", col("source"), col("pack_id"))), 1, 6), 16, 10)
      .cast("long") % Curation.NumShards).as("shard_id")
    val want = Curation.packSequences(Curation.trainerCleanDeduped(spark, dir))
      .select(shard, col("source"), col("pack_id"), col("doc_id"),
        col("n_in_pack"))
      .groupBy(col("shard_id"))
      .agg(
        countDistinct(col("source"), col("pack_id")).as("n_packs"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("n_in_pack")).as("sum_tokens"))
      .orderBy(col("shard_id")).collect().toSeq
    assert(got == want)
  }
}
