package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType}
import graft.pipeline.{BpiPipeline, BpiQueries, BpiSchema, Expectations}

class BpiPipelineSpec extends SparkSpec {

  private def golden = BpiPipeline.readRawStrings(spark, BpiQueries.goldenPayloads)

  private val fixedClock = to_timestamp(lit("2023-01-10 00:00:00"))

  /** A fresh landing dir holding one file per payload. */
  private def landing(payloads: Seq[String]): String = {
    val dir = java.nio.file.Files.createTempDirectory("bpi_landing")
    payloads.zipWithIndex.foreach { case (p, i) =>
      java.nio.file.Files.writeString(dir.resolve(f"payload_$i%03d.json"), p)
    }
    dir.toString
  }

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Spark jobs started and stages completed while `body` runs, counted
    * once the listener bus has delivered every event. */
  private def jobsAndStages(body: => Unit): (Int, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerStageCompleted}
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.GraftListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.GraftListenerBus.drain(sc) }
    finally sc.removeSparkListener(listener)
    (jobs.get, stages.get)
  }

  test("golden payload produces the exact 16-column warehouse row") {
    val out = BpiPipeline.run(
      golden, BpiQueries.ratesDf(spark),
      jobId = md5(col("time_updated_iso")),
      clock = to_timestamp(lit("2023-01-10 00:00:00")))
    assert(out.columns.toSeq == BpiSchema.warehouseColumns)
    val rows = out.orderBy("time_updated_iso").collect()
    assert(rows.length == 3)
    val first = rows.head
    assert(first.bpi_usd_rate_float == 17101.3517)
    assert(first.bpi_gdp_rate_float == 14041.4243)
    assert(first.bpi_eur_rate_float == 16320.4085)
    assert(first.bpi_idr_rate_float == 17101.3517 * 15432.5)
    assert(first.time_updated == "2022-12-06 13:31:00")
    assert(first.time_updated_iso == "2022-12-06 13:31:00")
    assert(first.last_updated == "2023-01-10 00:00:00")
    assert(first.bpi_gdp_code == "GBP") // misnamed column, correct value
  }

  test("non-UTC ISO offset is normalized to UTC") {
    val rows = BpiQueries.pipelineEndToEnd(spark, sf).collect()
    val jan = rows.find(_.getAs[String]("time_updated") == "2023-01-03 09:05:00")
    assert(jan.isDefined)
    assert(jan.get.getAs[String]("time_updated_iso") == "2023-01-03 09:05:00")
  }

  test("corrupt payload lands in the quarantine lane, not the pipeline") {
    val raw = BpiPipeline.readRawStrings(
      spark, BpiQueries.goldenPayloads :+ BpiQueries.corruptPayload)
    assert(BpiPipeline.corruptRows(raw).count() == 1)
    assert(BpiPipeline.flatten(raw).count() == 3)
  }

  test("missing FX rate yields null idr (left join), then fails the gate") {
    val noRates = BpiQueries.ratesDf(spark).filter(col("rate_date") =!= lit("2022-12-06"))
    val ex = intercept[Expectations.ValidationFailedException] {
      BpiPipeline.run(golden, noRates,
        jobId = lit("j"), clock = to_timestamp(lit("2023-01-10 00:00:00"))).collect()
    }
    assert(ex.violations.exists(_.name.contains("bpi_idr_rate_float")))
  }

  test("bad timestamp format fails the gate with a named violation") {
    val bad = golden.withColumn("time",
      struct(lit("06/12/2022 13:31").as("updated"),
        col("time.updatedISO").as("updatedISO"),
        col("time.updateduk").as("updateduk")))
    val ex = intercept[Expectations.ValidationFailedException] {
      BpiPipeline.run(bad, BpiQueries.ratesDf(spark),
        jobId = lit("j"), clock = to_timestamp(lit("2023-01-10 00:00:00"))).collect()
    }
    assert(ex.violations.exists(_.name.startsWith("time_updated")))
  }

  test("streaming mode: landing dir -> warehouse, exactly-once on restart") {
    val landing = java.nio.file.Files.createTempDirectory("bpi_landing")
    val warehouse = java.nio.file.Files.createTempDirectory("bpi_wh").toString
    val ckpt = java.nio.file.Files.createTempDirectory("bpi_ckpt").toString
    BpiQueries.goldenPayloads.zipWithIndex.foreach { case (p, i) =>
      java.nio.file.Files.writeString(landing.resolve(s"payload_$i.json"), p)
    }
    def run() = BpiPipeline.runStream(spark, landing.toString,
      BpiQueries.ratesDf(spark), warehouse, ckpt,
      clock = to_timestamp(lit("2023-01-10 00:00:00")))
    run()
    val out = spark.read.parquet(warehouse)
    assert(out.count() == 3)
    assert(out.columns.toSeq == pipeline.BpiSchema.warehouseColumns)
    run() // restart with no new files: nothing reprocessed
    assert(spark.read.parquet(warehouse).count() == 3)
    // a late-arriving file is picked up incrementally
    java.nio.file.Files.writeString(landing.resolve("payload_late.json"),
      BpiQueries.goldenPayloads.head)
    run()
    assert(spark.read.parquet(warehouse).count() == 4)
  }

  test("HTTP ingest: flaky transport retried, landed atomically, piped end-to-end") {
    import graft.pipeline.HttpIngest
    val landing = java.nio.file.Files.createTempDirectory("bpi_http_landing")
    val warehouse = java.nio.file.Files.createTempDirectory("bpi_http_wh").toString
    val ckpt = java.nio.file.Files.createTempDirectory("bpi_http_ckpt").toString
    val served = BpiQueries.goldenPayloads.iterator
    var calls = 0
    val flaky: HttpIngest.Transport = { url =>
      calls += 1
      if (calls == 1) throw new java.io.IOException(s"HTTP 503 from $url")
      served.next()
    }
    (0 until 3).foreach { i =>
      HttpIngest.fetchToLanding("https://api.example.test/v1/currentprice.json",
        landing, f"$i%04d", flaky, retries = 1)
    }
    assert(calls == 4) // 3 polls + 1 retry of the failed first attempt
    val names = java.nio.file.Files.list(landing).iterator()
    while (names.hasNext) { // rename left no hidden temp litter behind
      assert(!names.next().getFileName.toString.endsWith(".tmp"))
    }
    BpiPipeline.runStream(spark, landing.toString, BpiQueries.ratesDf(spark),
      warehouse, ckpt, clock = to_timestamp(lit("2023-01-10 00:00:00")))
    val out = spark.read.parquet(warehouse)
    assert(out.count() == 3)
    assert(out.columns.toSeq == BpiSchema.warehouseColumns)
  }

  test("HTTP ingest: exhausted retry budget propagates the failure") {
    import graft.pipeline.HttpIngest
    var attempts = 0
    val dead: HttpIngest.Transport = { _ =>
      attempts += 1; throw new java.io.IOException("connect refused")
    }
    intercept[java.io.IOException] {
      HttpIngest.fetchWithRetry("https://api.example.test/x", dead, retries = 2)
    }
    assert(attempts == 3) // initial call + 2 retries
  }

  test("ProcessingTime trigger keeps one query alive across multiple batches") {
    import org.apache.spark.sql.streaming.Trigger
    val landing = java.nio.file.Files.createTempDirectory("bpi_pt_landing")
    val warehouse = java.nio.file.Files.createTempDirectory("bpi_pt_wh").toString
    val ckpt = java.nio.file.Files.createTempDirectory("bpi_pt_ckpt").toString
    java.nio.file.Files.writeString(landing.resolve("p0.json"),
      BpiQueries.goldenPayloads(0))
    val q = BpiPipeline.startStreamWith(spark, landing.toString,
      BpiQueries.ratesDf(spark), ckpt,
      clock = to_timestamp(lit("2023-01-10 00:00:00")),
      trigger = Trigger.ProcessingTime("250 milliseconds")) { (batch, _) =>
      BpiPipeline.appendParquet(BpiPipeline.validationGate(batch).toDF(), warehouse)
    }
    try {
      def rows: Long =
        try spark.read.parquet(warehouse).count()
        catch { case _: Exception => 0L } // sink dir not created yet
      def waitFor(n: Long): Unit = {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (rows < n && System.nanoTime() < deadline) Thread.sleep(100)
        assert(rows == n)
      }
      waitFor(1) // batch 1: the file present at start
      java.nio.file.Files.writeString(landing.resolve("p1.json"),
        BpiQueries.goldenPayloads(1))
      waitFor(2) // batch 2: picked up by the SAME running query
    } finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2)
  }

  private def derbyUrl(name: String): String = {
    // Derby writes derby.log under derby.system.home — keep it out of the repo
    if (System.getProperty("derby.system.home") == null)
      System.setProperty("derby.system.home",
        java.nio.file.Files.createTempDirectory("derby_home").toString)
    val dir = java.nio.file.Files.createTempDirectory(s"derby_$name")
    s"jdbc:derby:$dir/db;create=true"
  }

  test("JDBC warehouse append round-trips through embedded Derby") {
    val url = derbyUrl("batch")
    val out = BpiPipeline.run(
      golden, BpiQueries.ratesDf(spark),
      jobId = md5(col("time_updated_iso")),
      clock = to_timestamp(lit("2023-01-10 00:00:00"))).toDF()
    val props = new java.util.Properties()
    props.setProperty("createTableColumnTypes", BpiPipeline.varcharColumnTypes(out))
    BpiPipeline.appendJdbc(out, url, "data", props)
    BpiPipeline.appendJdbc(out, url, "data", props) // if_exists="append" semantics
    val back = spark.read.jdbc(url, "data", new java.util.Properties())
    assert(back.count() == 6)
    assert(back.columns.sorted.toSeq == BpiSchema.warehouseColumns.sorted)
    val row = back.filter(col("time_updated") === "2022-12-06 13:31:00")
      .select("bpi_usd_rate_float", "bpi_gdp_code").distinct().collect()
    assert(row.length == 1)
    assert(row.head.getDouble(0) == 17101.3517)
    assert(row.head.getString(1) == "GBP")
  }

  test("streaming JDBC sink: exactly-once on restart, idempotent on batch replay") {
    val url = derbyUrl("stream")
    val landing = java.nio.file.Files.createTempDirectory("bpi_jdbc_landing")
    val ckpt = java.nio.file.Files.createTempDirectory("bpi_jdbc_ckpt").toString
    BpiQueries.goldenPayloads.zipWithIndex.foreach { case (p, i) =>
      java.nio.file.Files.writeString(landing.resolve(s"payload_$i.json"), p)
    }
    def run() = BpiPipeline.runStreamWith(spark, landing.toString,
      BpiQueries.ratesDf(spark), ckpt,
      clock = to_timestamp(lit("2023-01-10 00:00:00"))) { (batch, batchId) =>
      val gated = BpiPipeline.validationGate(batch).toDF()
      val props = new java.util.Properties()
      props.setProperty("createTableColumnTypes", BpiPipeline.varcharColumnTypes(gated))
      BpiPipeline.appendJdbcBatch(gated, url, "data", batchId, props)
    }
    run()
    def table = spark.read.jdbc(url, "data", new java.util.Properties())
    assert(table.count() == 3)
    run() // restart, no new files: checkpoint replays nothing
    assert(table.count() == 3)
    // a mid-write failure replays the batch: re-appending the same batchId
    // must REPLACE its rows, not duplicate them
    // materialize first: a real retry re-reads the SOURCE, not the sink
    val snapshot = table.filter(col("batch_id") === 0L).drop("batch_id")
    val replay = spark.createDataFrame(
      java.util.Arrays.asList(snapshot.collect(): _*), snapshot.schema)
    BpiPipeline.appendJdbcBatch(replay, url, "data", 0L)
    assert(table.count() == 3)
    // late file -> new batch id -> incremental append
    java.nio.file.Files.writeString(landing.resolve("payload_late.json"),
      BpiQueries.goldenPayloads.head)
    run()
    assert(table.count() == 4)
    assert(table.select("batch_id").distinct().count() == 2)
  }

  test("postgres dialect contract: DDL types, quoting and folding the sink relies on") {
    // The reference's warehouse is Postgres; no pg (or pg-mode) driver jar
    // is available offline, so a live round-trip twin of the Derby suite
    // cannot run here. What IS checkable — and is exactly where
    // dialect-portable sinks break — is the dialect contract Spark would
    // apply: the CREATE TABLE column type for every column of the
    // 16-column warehouse frame (plus the replay tag), the identifier
    // quote string the idempotent delete assumes, and that pg's TEXT
    // mapping (unlike Derby's CLOB) is a comparable type so the varchar
    // override is optional rather than load-bearing.
    import org.apache.spark.sql.jdbc.JdbcDialects
    import org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
    import org.apache.spark.sql.types.{DataType, DoubleType, LongType,
      StringType}
    val pg = JdbcDialects.get("jdbc:postgresql://warehouse:5432/bpi")
    val out = BpiPipeline.run(
        golden, BpiQueries.ratesDf(spark),
        jobId = md5(col("time_updated_iso")),
        clock = to_timestamp(lit("2023-01-10 00:00:00"))).toDF()
      .withColumn("batch_id", lit(0L))
    def pgType(dt: DataType): String =
      pg.getJDBCType(dt).orElse(JdbcUtils.getCommonJDBCType(dt))
        .map(_.databaseTypeDefinition)
        .getOrElse(fail(s"no postgres mapping for $dt"))
    out.schema.fields.foreach { f =>
      val t = pgType(f.dataType)
      f.dataType match {
        case StringType => assert(t == "TEXT", s"${f.name}: $t")
        case DoubleType => assert(t == "DOUBLE PRECISION" || t == "FLOAT8",
          s"${f.name}: $t")
        case LongType => assert(t == "BIGINT", s"${f.name}: $t")
        case other => fail(s"unexpected warehouse column type $other")
      }
    }
    // the idempotent delete quotes with the dialect's quote string —
    // postgres reports `"`, the same the Spark writer uses for DDL, so
    // the lowercase batch_id column the writer creates is addressable
    assert(pg.quoteIdentifier("batch_id") == "\"batch_id\"")
    // pg folds unquoted identifiers to LOWERCASE; the sink's exists-probe
    // tries (as-is, UPPER, lower), so the pg folding is in its candidate
    // set for any table name the pipeline uses
    val probed = Seq("data", "data".toUpperCase(java.util.Locale.ROOT),
      "data".toLowerCase(java.util.Locale.ROOT)).distinct
    assert(probed.contains("data"))
    // and the varchar override clause parses against real columns only
    val overrides = BpiPipeline.varcharColumnTypes(out)
    overrides.split(", ").foreach { clause =>
      val name = clause.split(" ").head
      assert(out.columns.contains(name), s"override for unknown column $name")
    }
  }

  test("expectations: type gate catches wrong dtype driver-side") {
    val df = spark.range(1).select(lit("not-a-double").as("x"))
    assert(Expectations.expectType(df, "x", DoubleType).isDefined)
    assert(Expectations.expectType(df, "x", StringType).isEmpty)
  }

  test("expectations: summarize counts violations in one pass") {
    val df = spark.range(10).select(
      when(col("id") < 7, col("id")).as("v"),
      lit("2023-01-10 00:00:00").as("ts"))
    val out = Expectations.summarize(df, Seq(
      Expectations.expectNotNull("v"),
      Expectations.expectTimestampString("ts")))
    assert(out.head.violations == 3)
    assert(out(1).violations == 0)
  }

  test("expectations: summarize on an empty frame counts 0 for every expectation") {
    val df = spark.range(0).select(col("id").as("v"), lit("x").as("ts"))
    val out = Expectations.summarize(df, Seq(
      Expectations.expectNotNull("v"),
      Expectations.expectTimestampString("ts")))
    assert(out.map(_.violations) == Seq(0L, 0L))
  }

  test("expectations: summarize runs as one job of one stage") {
    val df = spark.range(10).select(
      when(col("id") < 7, col("id")).as("v"),
      lit("bad").as("ts"))
    var out = Seq.empty[Expectations.Violation]
    val counts = jobsAndStages {
      out = Expectations.summarize(df, Seq(
        Expectations.expectNotNull("v"),
        Expectations.expectTimestampString("ts")))
    }
    assert(counts == (1, 1))
    assert(out.map(_.violations) == Seq(3L, 10L))
  }

  test("streaming mode: a batch failing the gate stops the stream before the load") {
    val bad = BpiQueries.goldenPayloads.head.replace("17,101.3517", "n/a")
    val warehouse = tempDir("bpi_gate_wh")
    val err = intercept[Exception] {
      BpiPipeline.runStream(spark, landing(Seq(bad)), BpiQueries.ratesDf(spark),
        warehouse, tempDir("bpi_gate_ckpt"), clock = fixedClock)
    }
    val failed = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .collectFirst { case v: Expectations.ValidationFailedException => v }
    assert(failed.exists(_.violations.exists(_.name.contains("bpi_usd_rate_float"))), err)
    val written = java.nio.file.Files.walk(java.nio.file.Paths.get(warehouse))
    try assert(!written.iterator().asScala.exists(_.getFileName.toString.startsWith("part-")))
    finally written.close()
  }

  test("streaming mode: a 40-file flush starts as many jobs as a 3-file one") {
    // Past 32 paths Spark lists a batch's files as a job of one task per
    // file; the landing reader lists them on the driver instead.
    def drainJobs(files: Int): Int = {
      val payloads = Iterator.continually(BpiQueries.goldenPayloads).flatten.take(files).toSeq
      val warehouse = tempDir("bpi_jobs_wh")
      val jobs = jobsAndStages {
        BpiPipeline.runStream(spark, landing(payloads), BpiQueries.ratesDf(spark),
          warehouse, tempDir("bpi_jobs_ckpt"), clock = fixedClock)
      }._1
      assert(spark.read.parquet(warehouse).count() == files)
      jobs
    }
    val few = drainJobs(3)
    assert(drainJobs(40) == few)
  }

  test("streaming mode: a drain leaves the caller's SQLConf as it found it") {
    val before = spark.conf.getAll
    val warehouse = tempDir("bpi_conf_wh")
    BpiPipeline.startStreamWith(spark, landing(BpiQueries.goldenPayloads),
        BpiQueries.ratesDf(spark), tempDir("bpi_conf_ckpt"), clock = fixedClock) {
      (batch, _) => BpiPipeline.appendParquet(BpiPipeline.validationGate(batch), warehouse)
    }.awaitTermination()
    assert(spark.read.parquet(warehouse).count() == 3)
    assert(spark.conf.getAll == before)
  }

  test("streaming mode: the landing query runs on the caller's StreamingQueryManager") {
    import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
    import StreamingQueryListener._
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[QueryProgressEvent]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val warehouse = tempDir("bpi_listen_wh")
      val q = BpiPipeline.startStreamWith(spark, landing(BpiQueries.goldenPayloads),
          BpiQueries.ratesDf(spark), tempDir("bpi_listen_ckpt"), clock = fixedClock,
          trigger = Trigger.ProcessingTime("100 milliseconds")) {
        (batch, _) => BpiPipeline.appendParquet(BpiPipeline.validationGate(batch), warehouse)
      }
      try {
        q.processAllAvailable()
        assert(spark.streams.get(q.id) != null)
      } finally q.stop()
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      val mine = progress.asScala.filter(_.progress.id == q.id)
      // numInputRows counts each run of the batch's plan (the gate's and
      // the load's), so only its presence is pinned here
      assert(mine.exists(_.progress.numInputRows > 0))
    } finally spark.streams.removeListener(listener)
  }

  test("streaming mode: live batches after the first compile no classes") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("bpi_live_landing")
    val warehouse = tempDir("bpi_live_wh")
    // a hidden name then a rename: the source never lists a partial file
    def land(i: Int): Unit = {
      val hidden = dir.resolve(s".p$i.tmp")
      java.nio.file.Files.writeString(hidden, BpiQueries.goldenPayloads(i))
      java.nio.file.Files.move(hidden, dir.resolve(s"p$i.json"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val done = new java.util.concurrent.atomic.AtomicInteger
    def awaitBatches(n: Int): Unit = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (done.get < n && System.nanoTime() < deadline) Thread.sleep(20)
      assert(done.get == n)
    }
    land(0)
    val q = BpiPipeline.startStreamWith(spark, dir.toString, BpiQueries.ratesDf(spark),
        tempDir("bpi_live_ckpt"), trigger = Trigger.ProcessingTime(0L)) { (batch, _) =>
      BpiPipeline.appendParquet(BpiPipeline.validationGate(batch), warehouse)
      done.incrementAndGet()
    }
    val perBatch = try {
      awaitBatches(1)
      (1 to 2).map(i => compiles { land(i); awaitBatches(i + 1) })
    } finally q.stop()
    assert(spark.read.parquet(warehouse).count() == 3)
    info(s"classes compiled by live batches 2 and 3: $perBatch")
    assert(perBatch == Seq(0L, 0L))
  }

  test("streaming mode: a second drain of same-shaped payloads compiles at most one class") {
    def drain(): Long = {
      val warehouse = tempDir("bpi_warm_wh")
      val n = compiles {
        BpiPipeline.runStream(spark, landing(BpiQueries.goldenPayloads),
          BpiQueries.ratesDf(spark), warehouse, tempDir("bpi_warm_ckpt"))
      }
      assert(spark.read.parquet(warehouse).count() == 3)
      n
    }
    drain()
    val warm = drain()
    info(s"classes compiled by the second drain: $warm")
    assert(warm <= 1, s"$warm classes compiled")
  }

  test("streaming mode: job_id is a fresh UUID per row, last_updated the load time") {
    val uuid = "^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$"
    val fmt = java.time.format.DateTimeFormatter.ofPattern(BpiPipeline.tsFormat)
    def epochMs(ts: String): Long = java.time.LocalDateTime.parse(ts, fmt)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    def stored(warehouse: String): Seq[(String, String)] =
      spark.read.parquet(warehouse).select("job_id", "last_updated").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
    val dir = java.nio.file.Paths.get(landing(BpiQueries.goldenPayloads))
    val warehouse = tempDir("bpi_audit_wh")
    val ckpt = tempDir("bpi_audit_ckpt")
    // the rows one drain stores, and its wall-clock window; the start is
    // floored to the second, since `last_updated` drops the millis
    def drain(): (Seq[(String, String)], Long, Long) = {
      val before = if (new java.io.File(warehouse).list().isEmpty) Nil else stored(warehouse)
      val t0 = System.currentTimeMillis() / 1000 * 1000
      BpiPipeline.runStream(spark, dir.toString, BpiQueries.ratesDf(spark), warehouse, ckpt)
      val t1 = System.currentTimeMillis()
      (stored(warehouse).diff(before), t0, t1)
    }
    val first = drain()
    java.nio.file.Files.writeString(dir.resolve("payload_late.json"),
      BpiQueries.goldenPayloads.head)
    val second = drain()
    assert(first._1.length == 3 && second._1.length == 1)
    val ids = (first._1 ++ second._1).map(_._1)
    assert(ids.forall(_.matches(uuid)), ids)
    assert(ids.distinct.length == ids.length, ids)
    Seq(first, second).foreach { case (rows, t0, t1) =>
      rows.foreach { case (_, ts) =>
        assert(epochMs(ts) >= t0 && epochMs(ts) <= t1, s"$ts outside [$t0, $t1]")
      }
    }
    val fixed = tempDir("bpi_audit_fixed_wh")
    BpiPipeline.runStream(spark, dir.toString, BpiQueries.ratesDf(spark), fixed,
      tempDir("bpi_audit_fixed_ckpt"), clock = fixedClock)
    assert(stored(fixed).map(_._2).distinct == Seq("2023-01-10 00:00:00"))
  }
}
