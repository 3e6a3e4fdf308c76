package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.IndexFiles
import graft.streaming.{MicroBatchPipeline, StreamQueries}

class StreamingSpec extends SparkSpec {

  /** Stage a DataFrame as one single parquet FILE in a landing dir (the
    * file-stream sources here watch files, not directories). */
  private def landFile(landing: java.nio.file.Path, name: String,
      df: org.apache.spark.sql.DataFrame): Unit = {
    import scala.jdk.CollectionConverters._
    val tmp = Files.createTempDirectory("land_tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val listing = Files.list(tmp)
    val part =
      try listing.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally listing.close()
    Files.move(part, landing.resolve(name))
  }

  test("events readers leave the caller's SQLConf as they found it") {
    val s = spark.newSession()
    assert(!s.conf.getAll.contains("spark.sql.legacy.parquet.nanosAsLong"))
    val before = s.conf.getAll
    assert(Tables.events(s, sf).count() > 0)
    assert(MicroBatchPipeline.eventsStream(s, sf).isStreaming)
    assert(s.conf.getAll == before)
  }

  test("a TIMESTAMP(NANOS) events file loads with micros-exact ts") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = TempDirs.scoped("graft_nanos_events")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val nanos = Seq(1700000000123456789L, 1700003600000000999L, 0L)
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema)
      .withConf(new org.apache.hadoop.conf.Configuration())
      .build()
    val groups = new SimpleGroupFactory(schema)
    nanos.zipWithIndex.foreach { case (n, i) =>
      writer.write(groups.newGroup().append("event_id", i.toLong).append("ts", n))
    }
    writer.close()
    val s = spark.newSession()
    // a plain read rejects the encoding: the loaders are what make it load
    intercept[Exception] { s.read.parquet(s"$dir/events.parquet").collect() }
    def micros(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select(col("event_id"), unix_micros(col("ts"))).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    val expected = nanos.zipWithIndex.map { case (n, i) => (i.toLong, n / 1000) }
    assert(micros(Tables.events(s, dir)) == expected)
    val streamed = MicroBatchPipeline.runToResult(
      MicroBatchPipeline.eventsStream(s, dir).select(col("event_id"), col("ts")),
      org.apache.spark.sql.streaming.OutputMode.Append())
    assert(micros(streamed) == expected)
    assert(!s.conf.getAll.contains("spark.sql.legacy.parquet.nanosAsLong"))
  }

  test("hourly agg over the stream equals the same aggregation in batch") {
    val streamed = StreamQueries.hourlyAggQuery(spark, sf).collect()
    val batch = Tables.events(spark, sf)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
        .as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("window_start"), col("event_type"))
      .collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getString(0) == b.getString(0))
      assert(s.getString(1) == b.getString(1))
      assert(s.getLong(2) == b.getLong(2))
    }
  }

  test("streaming OHLC bars equal the batch candles row-for-row") {
    val streamed = StreamQueries.ohlcBarsStreamQuery(spark, sf).collect()
    val batch = graft.operators.RelationalExt.ohlcBars(spark, sf).collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getString(0) == b.getString(0))
      (1 to 4).foreach(i => assert(s.getDouble(i) == b.getDouble(i)))
      assert(s.getLong(5) == b.getLong(5))
      assert(s.getDouble(6) == b.getDouble(6))
    }
  }

  test("foreachBatch append is exactly-once across a restart") {
    val out = Files.createTempDirectory("graft_stream_out").toString
    val ckpt = Files.createTempDirectory("graft_stream_ckpt").toString
    val src = MicroBatchPipeline.eventsStream(spark, sf)
    MicroBatchPipeline.foreachBatchAppend(src, out, ckpt)
    val afterFirst = spark.read.parquet(out).count()
    assert(afterFirst == Tables.events(spark, sf).count())
    // "restart": same checkpoint, no new files -> nothing re-processed
    MicroBatchPipeline.foreachBatchAppend(
      MicroBatchPipeline.eventsStream(spark, sf), out, ckpt)
    assert(spark.read.parquet(out).count() == afterFirst)
  }

  test("memory-sink drains leave no temp view; the result outlives its view") {
    def tempViews: Int = spark.catalog.listTables().collect().count(_.isTemporary)
    val before = tempViews
    val first = StreamQueries.hourlyAggQuery(spark, sf)
    val second = StreamQueries.hourlyAggQuery(spark, sf)
    assert(tempViews == before)
    assert(first.collect().nonEmpty)
    assert(first.collect().sameElements(second.collect()))
  }

  test("drain propagates a failing batch and restores the session conf") {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val prev = keys.map(spark.conf.get)
    // values the drain's own policy (8 partitions, AQE off) never uses
    val set = Seq("3", "true")
    keys.zip(set).foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val err = intercept[Exception] {
        MicroBatchPipeline.drain(Tables.stream(spark, sf, "documents"), "fail") {
          (_, _) => throw new IllegalStateException("batch body failed")
        }
      }
      val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      assert(chain.exists(_.getMessage == "batch body failed"), err)
      assert(keys.map(spark.conf.get) == set)
    } finally keys.zip(prev).foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("a drain hands its body each batch on the stream's own session") {
    // the stream's own session is the memoized batch-sized one, so two
    // drains hand their batches the same derived session
    def batchSessions(name: String) = {
      val sessions = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.SparkSession]
      MicroBatchPipeline.drain(Tables.stream(spark, sf, "documents"), name) {
        (b, _) => sessions += b.sparkSession
      }
      assert(sessions.nonEmpty)
      sessions.toSeq
    }
    val sessions = batchSessions("session") ++ batchSessions("session_again")
    assert(sessions.forall(_ eq MicroBatchPipeline.batchSized(spark)))
    assert(!(sessions.head eq spark))
  }

  test("a drain leaves a fresh session's SQLConf as it found it") {
    val s = spark.newSession()
    val before = s.conf.getAll
    assert(!before.contains("spark.sql.adaptive.enabled"))
    var rows = 0L
    MicroBatchPipeline.drain(Tables.stream(s, sf, "documents"), "conf") {
      (b, _) => rows += b.count()
    }
    assert(rows > 0)
    assert(s.conf.getAll == before)
  }

  test("the RocksDB stream join leaves a fresh session's SQLConf as it found it") {
    val s = spark.newSession()
    val before = s.conf.getAll
    assert(!before.contains("spark.sql.streaming.stateStore.providerClass"))
    StreamQueries.streamStreamJoinRocksDbQuery(s, sf).collect()
    assert(s.conf.getAll == before)
  }

  test("a second hourly agg drain compiles no classes") {
    StreamQueries.hourlyAggQuery(spark, sf).collect()
    val warm = compiles { StreamQueries.hourlyAggQuery(spark, sf).collect() }
    info(s"classes compiled by the second drain: $warm")
    assert(warm == 0L)
  }

  test("a failing memory-sink drain leaves no temporary checkpoint behind") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.streaming.OutputMode
    // Spark's own fallback checkpoint is java.io.tmpdir/temporary-<uuid>,
    // deleted only when the query succeeds
    def temporaries: Set[String] = {
      val listing = Files.list(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
      try listing.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("temporary-")).toSet
      finally listing.close()
    }
    val before = temporaries
    val failing = Tables.stream(spark, sf, "documents")
      .select(raise_error(lit("projection failed")).as("x"))
    val err = intercept[Exception](
      MicroBatchPipeline.runToResult(failing, OutputMode.Append()))
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(e => String.valueOf(e.getMessage).contains("projection failed")), err)
    assert(temporaries -- before == Set.empty)
  }

  test("streaming dedup within watermark drops replayed events") {
    import org.apache.spark.sql.streaming.OutputMode
    val src = MicroBatchPipeline.eventsStream(spark, sf)
    // duplicate every event by unioning the stream with itself
    val doubled = src.union(MicroBatchPipeline.eventsStream(spark, sf))
    val deduped = MicroBatchPipeline.runToResult(
      MicroBatchPipeline.dedupWithinWatermark(doubled), OutputMode.Append())
    assert(deduped.count() == Tables.events(spark, sf).count())
  }

  test("streaming dedup holds state ACROSS micro-batches") {
    import org.apache.spark.sql.streaming.OutputMode
    // Two landing files with identical content + maxFilesPerTrigger=1
    // forces two micro-batches delivering the same event_ids — the second
    // batch's rows must be dropped by state carried from the first, not
    // by within-batch dedup.
    val landing = Files.createTempDirectory("graft_dedup_landing")
    val src = java.nio.file.Paths.get(s"$sf/events.parquet")
    java.nio.file.Files.copy(src, landing.resolve("a.parquet"))
    java.nio.file.Files.copy(src, landing.resolve("b.parquet"))
    val stream = MicroBatchPipeline.eventsStreamFrom(
      spark, landing.toString, maxFilesPerTrigger = Some(1))
    val deduped = MicroBatchPipeline.runToResult(
      MicroBatchPipeline.dedupWithinWatermark(stream), OutputMode.Append())
    assert(deduped.count() == Tables.events(spark, sf).count())
  }

  test("a Complete-mode drain returns the last result table, not every emission") {
    // two copies of the events file + maxFilesPerTrigger=1: two batches,
    // each emitting the whole table so far
    val landing = Files.createTempDirectory("graft_complete_landing")
    val src = java.nio.file.Paths.get(s"$sf/events.parquet")
    Files.copy(src, landing.resolve("a.parquet"))
    Files.copy(src, landing.resolve("b.parquet"))
    def stream() = MicroBatchPipeline.eventsStreamFrom(
      spark, landing.toString, maxFilesPerTrigger = Some(1))
    val batchIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    MicroBatchPipeline.drain(stream(), "complete") { (_, id) => batchIds += id }
    assert(batchIds == Seq(0L, 1L))
    val drained = MicroBatchPipeline.runToResult(MicroBatchPipeline.hourlyAgg(stream()))
    val ev = Tables.events(spark, sf)
    val batch = MicroBatchPipeline.hourlyAgg(ev.unionByName(ev))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(drained).nonEmpty)
    assert(rows(drained) == rows(batch))
  }

  test("LM scoring is batch-boundary invariant (stream_lm_score's contract)") {
    val docs = Tables.documents(spark, sf)
    val (c1, c2, c3) = operators.TextAnalysis.lmCounts(docs)
    // any split of the corpus into micro-batches must reproduce the
    // whole-corpus scores: per-doc scoring against frozen count tables
    val split = operators.TextAnalysis
      .lmScoreOver(docs.filter(col("doc_id") % 2 === 0), c1, c2, c3)
      .unionByName(operators.TextAnalysis
        .lmScoreOver(docs.filter(col("doc_id") % 2 === 1), c1, c2, c3))
      .orderBy(col("doc_id")).collect().map(_.toString).toSeq
    val whole = operators.TextAnalysis.lmScore(spark, sf)
      .collect().map(_.toString).toSeq
    assert(split == whole)
  }

  test("classifier scoring is batch-boundary invariant (stream_classifier_score's contract)") {
    val docs = Tables.documents(spark, sf)
    val (cPos, cNeg) = operators.TextAnalysis.classifierCounts(docs)
    val split = operators.TextAnalysis
      .classifierScoreOver(docs.filter(col("doc_id") % 2 === 0), cPos, cNeg)
      .unionByName(operators.TextAnalysis
        .classifierScoreOver(docs.filter(col("doc_id") % 2 === 1), cPos, cNeg))
      .orderBy(col("doc_id")).collect().map(_.toString).toSeq
    val whole = operators.TextAnalysis.classifierScore(spark, sf)
      .collect().map(_.toString).toSeq
    assert(split == whole)
  }

  test("dsir scoring is batch-boundary invariant (stream_dsir_score's contract)") {
    val docs = Tables.documents(spark, sf)
    val (cTgt, cRaw) = operators.TextAnalysis.dsirCounts(docs)
    val split = operators.TextAnalysis
      .dsirWeightsOver(docs.filter(col("doc_id") % 2 === 0), cTgt, cRaw)
      .unionByName(operators.TextAnalysis
        .dsirWeightsOver(docs.filter(col("doc_id") % 2 === 1), cTgt, cRaw))
      .orderBy(col("doc_id")).collect().map(_.toString).toSeq
    val whole = operators.TextAnalysis.dsirWeights(spark, sf)
      .collect().map(_.toString).toSeq
    assert(split == whole)
  }

  test("quality signals are batch-boundary invariant (stream_quality_signals)") {
    import graft.operators.{QualityGate, TextAnalysis}
    val docs = Tables.documents(spark, sf)
    val (c1, c2, c3) = TextAnalysis.lmCounts(docs)
    val (cPos, cNeg) = TextAnalysis.classifierCounts(docs)
    val (cTgt, cRaw) = TextAnalysis.dsirCounts(docs)
    def serve(b: org.apache.spark.sql.DataFrame) =
      b.select(col("doc_id"))
        .join(QualityGate.gopherFlags(b)
          .select(col("doc_id"), col("keep")), "doc_id")
        .join(TextAnalysis.lmScoreOver(b, c1, c2, c3)
          .select(col("doc_id"), col("hit_rate"), col("lm_score")), "doc_id")
        .join(TextAnalysis.classifierScoreOver(b, cPos, cNeg)
          .select(col("doc_id"), col("clf_score")), "doc_id")
        .join(TextAnalysis.dsirWeightsOver(b, cTgt, cRaw)
          .select(col("doc_id"), col("dsir_weight")), "doc_id")
    val split = serve(docs.filter(col("doc_id") % 2 === 0))
      .unionByName(serve(docs.filter(col("doc_id") % 2 === 1)))
      .orderBy(col("doc_id")).collect().map(_.toString).toSeq
    val whole = TextAnalysis.qualitySignals(spark, sf)
      .collect().map(_.toString).toSeq
    assert(split == whole)
  }

  test("winnow decon is batch-boundary invariant (stream_winnow_decon's contract)") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf)
    val isEval = substring(md5(col("doc_id").cast("string")), 1, 1) === "0"
    val boiler = Dedup.winnowFp0(docs)
      .groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") > Dedup.WinnowMaxDf).select(col("fp"))
    val evalFps = Dedup.winnowFingerprints(docs)
      .filter(isEval).select(col("fp")).distinct()
    def serve(batch: org.apache.spark.sql.DataFrame) =
      Dedup.winnowFp0(batch.filter(!isEval))
        .join(boiler, Seq("fp"), "left_anti")
        .join(evalFps, "fp")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared_fp"))
        .filter(col("n_shared_fp") >= Dedup.WinnowMinShared)
    val split = serve(docs.filter(col("doc_id") % 2 === 0))
      .unionByName(serve(docs.filter(col("doc_id") % 2 === 1)))
      .orderBy(col("doc_id")).collect().map(_.toString).toSeq
    val whole = Dedup.winnowDecontaminate(spark, sf)
      .collect().map(_.toString).toSeq
    assert(split == whole)
  }

  test("featurization is batch-boundary invariant (stream_feature_embed's contract)") {
    val docs = Tables.documents(spark, sf)
    val split = operators.TextAnalysis
      .featureEmbeddingOf(docs.filter(col("doc_id") % 2 === 0))
      .unionByName(operators.TextAnalysis
        .featureEmbeddingOf(docs.filter(col("doc_id") % 2 === 1)))
      .orderBy(col("doc_id"), col("dim"))
      .collect().map(_.toString).toSeq
    val whole = operators.TextAnalysis.featureEmbedding(spark, sf)
      .collect().map(_.toString).toSeq
    assert(split == whole)
  }

  test("hybrid serving is batch-boundary invariant (stream_hybrid_serve's contract)") {
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val queries = docs
      .filter(col("doc_id") < operators.Similarity.NumQueryVectors)
      .select(col("doc_id"), col("text"))
    val split = operators.Similarity
      .hybridOver(docs, emb, queries.filter(col("doc_id") % 2 === 0))
      .unionByName(operators.Similarity
        .hybridOver(docs, emb, queries.filter(col("doc_id") % 2 === 1)))
      .orderBy(col("query_id"), col("rank"))
      .collect().map(_.toString).toSeq
    val whole = operators.Similarity.hybridRetrieve(spark, sf)
      .collect().map(_.toString).toSeq
    assert(split == whole)
  }

  test("explicit schema lets the stream start on an EMPTY landing directory") {
    import org.apache.spark.sql.streaming.OutputMode
    // inference needs a footer to read, so an empty dir throws...
    val empty = Files.createTempDirectory("graft_empty_landing")
    intercept[org.apache.spark.sql.AnalysisException](
      MicroBatchPipeline.eventsStreamFrom(spark, empty.toString))
    // ...but a catalog-supplied schema skips the footer read entirely:
    // construct on the empty dir, land a file, drain, see the rows.
    val schema = Tables.load(spark, sf, "events").schema
    val stream = MicroBatchPipeline.eventsStreamFrom(
      spark, empty.toString, schema = Some(schema))
    val src = java.nio.file.Paths.get(s"$sf/events.parquet")
    java.nio.file.Files.copy(src, empty.resolve("events.parquet"))
    val drained = MicroBatchPipeline.runToResult(stream, OutputMode.Append())
    assert(drained.count() == Tables.events(spark, sf).count())
    assert(drained.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("custom DSv2 streaming source: drain equals the batch read") {
    val streamed = StreamQueries.syntheticSourceStreamQuery(spark, sf).collect()
    val batch = spark.read.format("graft.sources.SyntheticEvents")
      .option("rows", 100000).option("numPartitions", 8).load()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_c"))
      .select(col("event_type"), col("n_events"),
        (col("value_c") / 100.0).as("sum_value"))
      .orderBy(col("event_type")).collect()
    assert(streamed.length == 5)
    assert(streamed.map(_.toString).toSeq == batch.map(_.toString).toSeq)
  }

  test("streaming funnel carries step state ACROSS micro-batches") {
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    val landing = Files.createTempDirectory("graft_funnel_landing")
    val base = 1700000000L * 1000000000L
    def ev(id: Long, tsMin: Long, user: Long, typ: String) =
      (id, base + tsMin * 60L * 1000000000L, user, typ, 1.0, "{}")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    // batch 1 ends the user at depth 1; the click and purchase arrive in
    // batch 2 and must chain onto batch-1 state to reach depth 3
    landFile(landing, "a.parquet", Seq(ev(1, 0, 7, "view")).toDF(cols: _*))
    Thread.sleep(20)
    landFile(landing, "b.parquet",
      Seq(ev(2, 5, 7, "click"), ev(3, 9, 7, "purchase")).toDF(cols: _*))
    val stream = MicroBatchPipeline.eventsStreamFrom(
      spark, landing.toString, maxFilesPerTrigger = Some(1))
    val drained = MicroBatchPipeline.runToResult(
      MicroBatchPipeline.funnelDepths(spark, stream).toDF(), OutputMode.Update())
    val finalDepth = drained.groupBy(col("user_id"))
      .agg(max(col("depth")).as("depth")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(finalDepth == Map(7L -> 3L))
    // the intermediate emission recorded depth 1 — state really crossed
    assert(drained.filter(col("depth") === 1L).count() == 1L)
  }

  test("stream-stream join matches click state across micro-batches") {
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    val landing = Files.createTempDirectory("graft_ssj_landing")
    // base well past epoch: rows AT the initial watermark (0) would be
    // dropped as late-arriving
    val base = 1700000000L * 1000000000L
    def ev(id: Long, tsMin: Long, user: Long, typ: String) =
      (id, base + tsMin * 60L * 1000000000L, user, typ, 1.0, "{}")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    // batch 1: the click; batch 2: two purchases — one inside the 30-min
    // attribution window (must join against batch-1 state), one outside
    landFile(landing, "a.parquet", Seq(ev(1, 0, 7, "click")).toDF(cols: _*))
    Thread.sleep(20) // distinct mtimes keep file-batch order deterministic
    landFile(landing, "b.parquet",
      Seq(ev(2, 10, 7, "purchase"), ev(3, 40, 7, "purchase")).toDF(cols: _*))
    def side() = MicroBatchPipeline.eventsStreamFrom(
      spark, landing.toString, maxFilesPerTrigger = Some(1))
    val out = MicroBatchPipeline.runToResult(
        StreamQueries.attributionJoin(side(), side()), OutputMode.Append())
      .select("purchase_id", "click_id", "user_id", "gap_sec")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out == Set((2L, 1L, 7L, 600L)))
  }

  test("streaming near-dup dedup: within-batch, cross-batch, restart") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import graft.streaming.StreamingDedup
    val landing = Files.createTempDirectory("sdedup_landing")
    val state = Files.createTempDirectory("sdedup_state").toString
    val out = Files.createTempDirectory("sdedup_out").toString
    val ckpt = Files.createTempDirectory("sdedup_ckpt").toString
    val schema = Seq((0L, "x")).toDF("doc_id", "text").schema
    def land(name: String, rows: Seq[(Long, String)]): Unit =
      landFile(landing, name, rows.toDF("doc_id", "text"))
    def runOnce(): Unit = StreamingDedup.run(
      spark.readStream.schema(schema).parquet(landing.toString),
      state, out, ckpt)
    def survivorIds: Set[Long] = StreamingDedup.survivors(spark, out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val other = "one two three four five six seven eight nine ten eleven"
    val third = "red orange yellow green blue indigo violet pink brown black"
    // batch 1: doc 2 is a within-batch near-dup of doc 0 (8/9 shingles)
    land("a.parquet", Seq((0L, base), (1L, other), (30L, third),
      (2L, base + " lambda")))
    runOnce()
    assert(survivorIds == Set(0L, 1L, 30L))
    // batch 2: doc 10 duplicates doc 0 ACROSS the restart boundary — the
    // parquet index, not any in-memory state, must catch it
    land("b.parquet", Seq((10L, base + " mu"),
      (11L, "completely different words with no overlap at all whatsoever")))
    runOnce()
    assert(survivorIds == Set(0L, 1L, 30L, 11L))
    // first-seen wins: doc 5 near-dups ALREADY-EMITTED doc 30. Its id is
    // smaller, but survivor 30 cannot be retracted from the sink — the
    // newcomer must be the one dropped (a pure min-id rule would keep 5
    // and leave BOTH duplicates in the output).
    land("c.parquet", Seq((5L, third + " white")))
    runOnce()
    assert(survivorIds == Set(0L, 1L, 30L, 11L))
    // restart with nothing new: checkpoint replays no batch, output stable
    runOnce()
    assert(survivorIds == Set(0L, 1L, 30L, 11L))
  }

  test("batch incremental dedup: batch-then-batch equals one-batch") {
    import graft.streaming.StreamingDedup
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val mid = docs.agg(org.apache.spark.sql.functions.max(col("doc_id")))
      .head().getLong(0) / 2
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    // one-shot: the whole corpus as a single slice
    val s1 = Files.createTempDirectory("incdedup_one_state").toString
    val o1 = Files.createTempDirectory("incdedup_one_out").toString
    StreamingDedup.appendBatch(docs, s1, o1)
    val oneShot = ids(StreamingDedup.survivors(spark, o1))
    // incremental: three id-ordered slices, a REAL compaction after the
    // second (b0+b1 -> c1; compacting one slice is a no-op), so the third
    // append parses a c-slice for next-id AND joins merged history.
    // Monotone split => first-seen-wins == min-lower-id => same survivors.
    val s2 = Files.createTempDirectory("incdedup_two_state").toString
    val o2 = Files.createTempDirectory("incdedup_two_out").toString
    val third = mid * 2 / 3
    // materialize survivor sets eagerly: the replay below OVERWRITES the
    // last slice, and a lazy frame re-read after that hits deleted files
    val aIds = ids(StreamingDedup.appendBatch(
      docs.filter(col("doc_id") <= third), s2, o2))
    val bIds = ids(StreamingDedup.appendBatch(
      docs.filter(col("doc_id") > third && col("doc_id") <= mid), s2, o2))
    StreamingDedup.layout.compact(spark, s2, 1)
    // post-compaction the only band slice is c1 -> next id must be 2
    val cIds = ids(StreamingDedup.appendBatch(
      docs.filter(col("doc_id") > mid), s2, o2))
    assert(aIds ++ bIds ++ cIds == oneShot)
    assert(ids(StreamingDedup.survivors(spark, o2)) == oneShot)
    // replay: re-appending the same batch id overwrites its own slice
    // and reproduces the same survivors (idempotent retry)
    val cAgain = StreamingDedup.appendBatch(
      docs.filter(col("doc_id") > mid), s2, o2, batchId = 2L)
    assert(ids(cAgain) == cIds)
    assert(ids(StreamingDedup.survivors(spark, o2)) == oneShot)
  }

  test("batch incremental embedding dedup equals one-batch") {
    import graft.streaming.StreamingDedup
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val mid = emb.agg(org.apache.spark.sql.functions.max(col("vec_id")))
      .head().getLong(0) / 2
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    val s1 = Files.createTempDirectory("incededup_one_state").toString
    val o1 = Files.createTempDirectory("incededup_one_out").toString
    StreamingDedup.appendEmbeddingBatch(emb, s1, o1)
    val oneShot = ids(StreamingDedup.survivors(spark, o1))
    val s2 = Files.createTempDirectory("incededup_two_state").toString
    val o2 = Files.createTempDirectory("incededup_two_out").toString
    val lowIds = ids(StreamingDedup.appendEmbeddingBatch(
      emb.filter(col("vec_id") <= mid), s2, o2))
    val highIds = ids(StreamingDedup.appendEmbeddingBatch(
      emb.filter(col("vec_id") > mid), s2, o2))
    assert(lowIds ++ highIds == oneShot)
  }

  test("compacting index slices preserves streaming dedup results") {
    import spark.implicits._
    import graft.streaming.StreamingDedup
    val landing = Files.createTempDirectory("sdedup_cmp_landing")
    val state = Files.createTempDirectory("sdedup_cmp_state").toString
    val out = Files.createTempDirectory("sdedup_cmp_out").toString
    val ckpt = Files.createTempDirectory("sdedup_cmp_ckpt").toString
    val schema = Seq((0L, "x")).toDF("doc_id", "text").schema
    def runOnce(): Unit = StreamingDedup.run(
      spark.readStream.schema(schema).parquet(landing.toString),
      state, out, ckpt)
    def survivorIds: Set[Long] = StreamingDedup.survivors(spark, out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def sliceCount(sub: String): Long = {
      val l = Files.list(java.nio.file.Paths.get(state, sub))
      try l.filter(p => Files.isDirectory(p) &&
        !p.getFileName.toString.startsWith(".")).count()
      finally l.close()
    }
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val other = "one two three four five six seven eight nine ten eleven"
    landFile(landing, "a.parquet", Seq((0L, base), (1L, other)).toDF("doc_id", "text"))
    runOnce() // batch 0
    landFile(landing, "b.parquet",
      Seq((10L, base + " mu"), (11L, "unrelated fresh words entirely new here"))
        .toDF("doc_id", "text"))
    runOnce() // batch 1
    assert(survivorIds == Set(0L, 1L, 11L))
    assert(sliceCount("bands") == 2)
    StreamingDedup.layout.compact(spark, state, 1)
    assert(sliceCount("bands") == 1)
    assert(sliceCount("sets") == 1)
    // compaction is idempotent (re-run = no-op on a single slice)
    StreamingDedup.layout.compact(spark, state, 1)
    assert(sliceCount("bands") == 1)
    // dups arriving after compaction are still caught from the merged index
    landFile(landing, "c.parquet",
      Seq((12L, base + " nu"), (13L, other + " twelve")).toDF("doc_id", "text"))
    runOnce() // batch 2 against the compacted slices
    assert(survivorIds == Set(0L, 1L, 11L))
  }

  test("streaming embedding dedup: cross-batch cosine duplicate dropped") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import graft.streaming.StreamingDedup
    val landing = Files.createTempDirectory("sededup_landing")
    val state = Files.createTempDirectory("sededup_state").toString
    val out = Files.createTempDirectory("sededup_out").toString
    val ckpt = Files.createTempDirectory("sededup_ckpt").toString
    // v1 ⊥ v2 ⊥ v3 (cosine 0 pairwise); duplicates are exact copies
    val v1 = Array.fill(64)(0.5f)
    val v2 = Array.tabulate(64)(i => if (i % 2 == 0) 0.5f else -0.5f)
    val v3 = Array.tabulate(64)(i => if (i < 32) 0.5f else -0.5f)
    val schema = Seq((0L, v1)).toDF("vec_id", "embedding").schema
    def land(name: String, rows: Seq[(Long, Array[Float])]): Unit =
      landFile(landing, name, rows.toDF("vec_id", "embedding"))
    def runOnce(): Unit = StreamingDedup.runEmbedding(
      spark.readStream.schema(schema).parquet(landing.toString),
      state, out, ckpt)
    land("a.parquet", Seq((0L, v1), (1L, v2)))
    runOnce()
    // batch 2: 10 duplicates 0 across the restart boundary; 11 is novel
    land("b.parquet", Seq((10L, v1), (11L, v3)))
    runOnce()
    val ids = StreamingDedup.survivors(spark, out)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(0L, 1L, 11L))
  }

  test("streaming near-dup dedup: saturated bucket still dedups via exemplars") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import graft.streaming.StreamingDedup
    val landing = Files.createTempDirectory("sdedup_hot_landing")
    val state = Files.createTempDirectory("sdedup_hot_state").toString
    val out = Files.createTempDirectory("sdedup_hot_out").toString
    val ckpt = Files.createTempDirectory("sdedup_hot_ckpt").toString
    val schema = Seq((0L, "x")).toDF("doc_id", "text").schema
    def land(name: String, rows: Seq[(Long, String)]): Unit =
      landFile(landing, name, rows.toDF("doc_id", "text"))
    // Every doc identical: all band buckets go hot immediately. With the
    // index capped at 2 exemplars per bucket, batch 2's docs exceed the
    // bucket population but must still dedup against the retained
    // first-seen exemplars.
    def runOnce(): Unit = StreamingDedup.run(
      spark.readStream.schema(schema).parquet(landing.toString),
      state, out, ckpt, bucketCap = 2)
    val text = "identical boilerplate text repeated in every single document"
    land("a.parquet", (0L to 4L).map(i => (i, text)))
    runOnce()
    land("b.parquet", (10L to 13L).map(i => (i, text)))
    runOnce()
    val ids = StreamingDedup.survivors(spark, out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(0L))
  }

  test("session_window merges an exactly-gap-length pause (boundary pin)") {
    import spark.implicits._
    // Two events exactly 30 minutes apart must form ONE session — the
    // oracle's `> gap` new-session rule depends on this Spark behavior.
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val later = java.sql.Timestamp.valueOf("2024-01-01 10:30:00")
    val split = java.sql.Timestamp.valueOf("2024-01-01 11:00:01")
    val df = Seq((7L, base), (7L, later), (7L, split)).toDF("user_id", "ts")
    val sessions = df.groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes"))
      .count().collect()
    assert(sessions.length == 2, sessions.mkString("; "))
  }

  test("RocksDB state store: stateful dedup results identical to HDFS-backed") {
    import org.apache.spark.sql.streaming.OutputMode
    // The declared 100 TB step for streaming state is the RocksDB
    // provider (state off-heap, changelog-checkpointable); prove the
    // switch is config-only and result-identical on the stateful dedup.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val src = MicroBatchPipeline.eventsStream(spark, sf)
      val doubled = src.union(MicroBatchPipeline.eventsStream(spark, sf))
      val deduped = MicroBatchPipeline.runToResult(
        MicroBatchPipeline.dedupWithinWatermark(doubled), OutputMode.Append())
      assert(deduped.count() == Tables.events(spark, sf).count())
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("declarative sessionization equals the stateful form row-for-row") {
    val declarative = graft.operators.RelationalExt.sessionizeWindow(spark, sf)
      .collect()
    val stateful = StreamQueries.sessionizeQuery(spark, sf).collect()
    assert(declarative.nonEmpty)
    assert(declarative.map(_.toString).toSeq == stateful.map(_.toString).toSeq)
  }

  test("sessionize: gap splits sessions, totals add up") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(minutes: Long) = new java.sql.Timestamp(base + minutes * 60000L)
    val events = Seq(
      (1L, ts(0), 7L), (2L, ts(10), 7L), (3L, ts(20), 7L), // session 1: 3 events
      (4L, ts(120), 7L), (5L, ts(125), 7L),                // session 2: 2 events
      (6L, ts(0), 8L)                                      // other user
    ).toDF("event_id", "ts", "user_id")
    val out = MicroBatchPipeline.sessionize(spark, events).collect()
      .map(s => s.user_id -> s).toMap
    assert(out(7L).n_sessions == 2)
    assert(out(7L).n_events == 5)
    assert(out(7L).longest_session_events == 3)
    assert(out(8L).n_sessions == 1)
  }

  test("serving tolerates a slice left next to its own merge by a crashed compaction") {
    import org.apache.spark.sql.functions._
    import graft.streaming.StreamingDedup
    val state = graft.TempDirs.scoped("test_tserve_crash_state")
    val sink = graft.TempDirs.scoped("test_tserve_crash_sink")
    val docs = graft.Tables.documents(spark, sf)
    val isEval = substring(md5(col("doc_id").cast("string")), 1, 1) === "0"
    StreamingDedup.appendBatch(docs.filter(!isEval), state, sink).count()

    def serveOnce(): Seq[(Long, Long)] = {
      val out = graft.TempDirs.scoped("test_tserve_crash_out")
      StreamingDedup.serveTextBatch(docs.filter(isEval), state, out, 0L,
        graft.operators.Dedup.JaccardThreshold, StreamingDedup.DefaultBucketCap)
      spark.read.parquet(s"$out/b0").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    }

    val clean = serveOnce()
    assert(clean.nonEmpty)
    // simulate the crash: the b0 slice's rows appear AGAIN as c0 (a
    // compaction that renamed its merge but died before cleanup)
    spark.read.parquet(s"$state/sets/b0").write.parquet(s"$state/sets/c0")
    spark.read.parquet(s"$state/bands/b0").write.parquet(s"$state/bands/c0")
    val dirty = serveOnce()
    assert(dirty == clean) // no doubled matches, no lost matches
  }

  test("text serving is batch-boundary invariant and leaves the index untouched") {
    import org.apache.spark.sql.functions._
    import graft.streaming.StreamingDedup
    val state = graft.TempDirs.scoped("test_tserve_state")
    val sink = graft.TempDirs.scoped("test_tserve_sink")
    val docs = graft.Tables.documents(spark, sf)
    val isEval = substring(md5(col("doc_id").cast("string")), 1, 1) === "0"
    StreamingDedup.appendBatch(docs.filter(!isEval), state, sink).count()
    val slicesBefore = IndexFiles.listSlices(spark, s"$state/bands").sorted

    def serve(splits: Seq[org.apache.spark.sql.DataFrame]): Seq[(Long, Long)] = {
      val out = graft.TempDirs.scoped("test_tserve_out")
      splits.zipWithIndex.foreach { case (b, i) =>
        StreamingDedup.serveTextBatch(b, state, out, i.toLong,
          graft.operators.Dedup.JaccardThreshold, StreamingDedup.DefaultBucketCap)
      }
      spark.read.parquet(s"$out/b*").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    }

    val queries = docs.filter(isEval)
    val oneBatch = serve(Seq(queries))
    val mid = queries.agg(avg(col("doc_id"))).head().getDouble(0)
    val twoBatches = serve(Seq(
      queries.filter(col("doc_id") <= mid), queries.filter(col("doc_id") > mid)))
    assert(oneBatch == twoBatches) // fixed index => boundaries cannot matter
    assert(oneBatch.nonEmpty)
    // read-only: serving wrote nothing into the index
    assert(IndexFiles.listSlices(spark, s"$state/bands").sorted == slicesBefore)
  }

  test("late audit: conservation and a genuine drop set") {
    val out = streaming.StreamQueries.lateAuditQuery(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (st, nb, ne, nl, np) = (r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))
      // every batch row is accounted for exactly once
      assert(ne + nl + np == nb, s"row not conserved: $r")
      if (st == "open") assert(ne == 0 && nl == 0 && np == nb)
      else assert(np == 0)
    }
    // the audit is not vacuous: this corpus produces real drops and
    // real pending windows
    assert(out.map(_.getLong(5)).sum > 0, "no late rows measured")
    assert(out.exists(_.getString(2) == "open"))
  }

  test("binary serve: a forced query split equals the batch top-k") {
    import graft.operators.{EmbeddingOps, Similarity}
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val codes = EmbeddingOps.packedSignBits(emb)
    def qc(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id").as("query_id"),
        col("code_lo").as("qlo"), col("code_hi").as("qhi"))
    val all = qc(codes.filter(col("vec_id") < Similarity.NumQueryVectors))
    val mid = Similarity.NumQueryVectors / 2
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val oneBatch = rows(EmbeddingOps.binaryServe(codes, emb, all))
    val split = rows(EmbeddingOps.binaryServe(codes, emb,
        all.filter(col("query_id") < mid))) ++
      rows(EmbeddingOps.binaryServe(codes, emb,
        all.filter(col("query_id") >= mid)))
    assert(oneBatch == split && oneBatch.nonEmpty)
    // the declared streaming twin drains to exactly the batch result
    val drained = rows(EmbeddingOps.streamBinaryServeQuery(spark, sf))
    assert(drained == rows(EmbeddingOps.topKBinary(spark, sf)))
  }
}
