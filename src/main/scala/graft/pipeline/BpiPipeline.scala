package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.DoubleType

/** The reference pipeline (SURVEY.md §2.1 O1-O13) as ONE lazily-composed
  * Spark plan: parse → flatten/normalize → FX broadcast join → audit
  * columns → ordered projection → validation gate.
  *
  * Where the reference materializes every stage to MongoDB and re-reads it
  * (6+ round trips per record, bpi_crawler.py:56-165), here the stages are
  * narrow Column transformations fused by whole-stage codegen — zero
  * shuffles; the FX enrichment is a broadcast hash join (the rates dim is
  * tiny by construction), so the plan scales linearly with input splits on
  * any cluster size.
  */
object BpiPipeline {

  val tsFormat = "yyyy-MM-dd HH:mm:ss"

  /** O5 (bpi_crawler.py:68,105): strip thousands separators, cast. The
    * rlike guard makes malformed rates null (gate's job) instead of an
    * ANSI cast error killing the whole job — Spark 4 is ANSI by default. */
  def normalizeRate(c: Column): Column = {
    val clean = regexp_replace(c, ",", "")
    when(clean.rlike("^-?[0-9]*\\.?[0-9]+$"), clean.cast(DoubleType))
  }

  /** O8 parse (bpi_crawler.py:114, test.py:4): "Dec 6, 2022 13:31:00 UTC".
    * `zzz` handles the zone name; try_to_timestamp turns unparseable
    * strings into nulls the validation gate reports, rather than an ANSI
    * SparkDateTimeException aborting the job. */
  def parseUpdated(c: Column): Column =
    try_to_timestamp(c, lit("MMM d, yyyy HH:mm:ss zzz"))

  /** O8 parse (bpi_crawler.py:116): ISO-8601 with offset, normalized to
    * session UTC by Spark's native parser. */
  def parseUpdatedIso(c: Column): Column = try_to_timestamp(c)

  /** O8 format (bpi_crawler.py:115,117,118): the warehouse stores
    * timestamps as "yyyy-MM-dd HH:mm:ss" STRINGS — string-typed on purpose
    * for schema parity; true timestamps stay internal until this boundary. */
  def formatTs(c: Column): Column = date_format(c, tsFormat)

  /** Read raw payloads (batch). PERMISSIVE + _corrupt_record = quarantine
    * lane for malformed JSON rather than task failure (fixes O19's crash
    * path). */
  def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(BpiSchema.raw)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** Same, from in-memory payload strings (tests / fixtures). */
  def readRawStrings(spark: SparkSession, payloads: Seq[String]): DataFrame =
    spark.read.schema(BpiSchema.raw)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(spark.createDataset(payloads)(Encoders.STRING))

  /** Rows whose JSON failed to parse — the quarantine lane. */
  def corruptRows(raw: DataFrame): DataFrame =
    raw.filter(col("_corrupt_record").isNotNull).select(col("_corrupt_record"))

  /** O7 flatten + O5 normalize + O8 timestamps (bpi_crawler.py:101-117).
    * Keeps a true-typed `rate_date` join key; string timestamps are the
    * sink contract. Nested-schema pruning means the JSON scan only decodes
    * the subfields named here. */
  def flatten(raw: DataFrame): DataFrame =
    raw.filter(col("_corrupt_record").isNull).select(
      col("disclaimer"),
      col("chartName").as("chart_name"),
      col("bpi.USD.code").as("bpi_usd_code"),
      normalizeRate(col("bpi.USD.rate")).as("bpi_usd_rate_float"),
      col("bpi.USD.description").as("bpi_usd_description"),
      // GBP deliberately misnamed "gdp": reference schema parity
      // (bpi_crawler.py:107-109)
      col("bpi.GBP.code").as("bpi_gdp_code"),
      normalizeRate(col("bpi.GBP.rate")).as("bpi_gdp_rate_float"),
      col("bpi.GBP.description").as("bpi_gdp_description"),
      col("bpi.EUR.code").as("bpi_eur_code"),
      normalizeRate(col("bpi.EUR.rate")).as("bpi_eur_rate_float"),
      col("bpi.EUR.description").as("bpi_eur_description"),
      formatTs(parseUpdated(col("time.updated"))).as("time_updated"),
      formatTs(parseUpdatedIso(col("time.updatedISO"))).as("time_updated_iso"),
      to_date(parseUpdatedIso(col("time.updatedISO"))).as("rate_date"))

  /** O6 (bpi_crawler.py:62-91): the FX conversion HTTP call re-expressed as
    * a broadcast left join against a rates dimension keyed by date.
    * Left join: a missing rate yields null (gate decides), not row loss. */
  def enrichIdr(flat: DataFrame, rates: DataFrame,
      from: String = "USD", to: String = "IDR"): DataFrame =
    flat.join(
        broadcast(rates
          .filter(col("from_ccy") === from && col("to_ccy") === to)
          .select(col("rate_date"), col("fx_rate"))),
        Seq("rate_date"), "left")
      .withColumn("bpi_idr_rate_float", col("bpi_usd_rate_float") * col("fx_rate"))
      .drop("fx_rate")

  /** O11 surrogate key: a random UUID string per row, in the format of
    * Spark's `uuid()`. `uuid()` writes its random seed into the generated
    * Java, so every plan holding it compiles a class of its own; this
    * nondeterministic UDF is reached through the generated code's
    * references, so the code stays the same from one batch to the next. */
  val randomJobId: Column =
    udf(() => java.util.UUID.randomUUID().toString).asNondeterministic()()

  /** O11 surrogate key + the injected clock for last_updated
    * (bpi_crawler.py:118,171). Both are injectable: production uses
    * [[randomJobId]]/current_timestamp(), tests and oracle runs pass
    * deterministic expressions (SURVEY.md §7.4 non-determinism note). */
  def withAuditColumns(df: DataFrame,
      jobId: Column = randomJobId,
      clock: Column = current_timestamp()): DataFrame =
    df.withColumn("job_id", jobId)
      .withColumn("last_updated", formatTs(clock))

  /** O12: the fixed 16-column warehouse projection (bpi_crawler.py:172). */
  def orderedSelect(df: DataFrame): DataFrame =
    df.select(BpiSchema.warehouseColumns.map(col): _*)

  /** O10: the reference's great_expectations suite (bpi_crawler.py:138-159):
    * 3 timestamp-string columns, 4 float columns, 8 string columns. */
  def validationGate(df: DataFrame): DataFrame = {
    import Expectations._
    val floatCols = Seq("bpi_usd_rate_float", "bpi_gdp_rate_float",
      "bpi_eur_rate_float", "bpi_idr_rate_float")
    val stringCols = Seq("job_id", "disclaimer", "chart_name", "bpi_usd_code",
      "bpi_usd_description", "bpi_gdp_code", "bpi_gdp_description",
      "bpi_eur_code", "bpi_eur_description")
    gate(df,
      rowExpectations =
        Seq("time_updated", "time_updated_iso", "last_updated").map(expectTimestampString) ++
          floatCols.map(expectNotNull),
      typeExpectations =
        floatCols.map(_ -> org.apache.spark.sql.types.DoubleType) ++
          stringCols.collect { case c if c != "job_id" =>
            c -> org.apache.spark.sql.types.StringType }
    )
  }

  /** The whole reference DAG (O1→O13) as one composed, typed plan. */
  def run(raw: DataFrame, rates: DataFrame,
      jobId: Column = randomJobId,
      clock: Column = current_timestamp()): Dataset[BpiSchema.EnrichedBpi] = {
    val spark = raw.sparkSession
    import spark.implicits._
    validationGate(
      orderedSelect(
        withAuditColumns(enrichIdr(flatten(raw), rates), jobId, clock)))
      .as[BpiSchema.EnrichedBpi]
  }

  /** Streaming mode (reference entry points 2+3, SURVEY.md §3.2-3.3): a
    * landing directory of payload JSON files consumed exactly-once via
    * checkpointed offsets, the same flatten/enrich/audit transforms as
    * [[run]], and a foreachBatch warehouse append — the accumulate/flush
    * split without the reference's find-then-drop data-loss race. The gate runs
    * per micro-batch inside foreachBatch (it needs an action). */
  def runStream(spark: SparkSession, landingDir: String, rates: DataFrame,
      warehouseDir: String, checkpoint: String,
      clock: Column = current_timestamp()): Unit =
    runStreamWith(spark, landingDir, rates, checkpoint, clock) { (batch, _) =>
      appendParquet(validationGate(batch), warehouseDir)
    }

  /** Streaming skeleton with a pluggable warehouse sink: the parquet path
    * (tests/local) and the JDBC path (production, O13) share the same
    * checkpointed exactly-once foreachBatch loop. */
  def runStreamWith(spark: SparkSession, landingDir: String, rates: DataFrame,
      checkpoint: String, clock: Column = current_timestamp())(
      sink: (DataFrame, Long) => Unit): Unit =
    startStreamWith(spark, landingDir, rates, checkpoint, clock)(sink)
      .awaitTermination()

  /** Start the landing-dir stream and return the handle. The trigger is
    * the deployment knob (O18, bpi_crawler.py:179): AvailableNow = the
    * reference's cron shape (drain everything, terminate — default);
    * ProcessingTime = the long-running service shape (stay up, poll the
    * landing dir every interval). Same plan, same checkpoint either way —
    * switching trigger mid-life is safe.
    *
    * The landing-dir reader is built on [[graft.Sessions.derived]] of
    * `spark` with `parallelPartitionDiscovery.threshold` at `Int.MaxValue`
    * (memoized, so every stream start reads through the same one). Each
    * micro-batch re-lists its own files (FileStreamSource.getBatch), and
    * past the threshold (32 paths by default) Spark does that as a job
    * with one task per file — so a 100-payload backlog flush would pay
    * for 100 listing tasks before reading a row. The file source takes its
    * session from the reader, so it lists on the driver while the
    * caller's SQLConf is never written. The plan is then rebound to the
    * caller's session (`ofRows(spark, …)`) and started by the shared
    * [[graft.streaming.MicroBatchPipeline.start]]: the query starts on
    * `spark`, so it registers with `spark.streams` and its listeners, and
    * its batches run under the caller's conf.
    *
    * The streaming plan ends at the FX join. The audit columns and the
    * warehouse projection go on each micro-batch `start` hands the sink,
    * rebound to `spark` ([[graft.streaming.MicroBatchPipeline.batchOn]]),
    * which keeps
    * per-batch values out of the generated code: in a streaming plan
    * `current_timestamp()` is the batch time, written into the Java (as
    * `uuid()` writes its seed), so every live batch compiled its largest
    * class again. Over the rebound batch the clock folds to a string
    * literal the code only references, and [[randomJobId]]'s code does not
    * change. `last_updated` is therefore the time of the action that
    * stores the row, as in the reference (bpi_crawler.py:118). */
  def startStreamWith(spark: SparkSession, landingDir: String, rates: DataFrame,
      checkpoint: String, clock: Column = current_timestamp(),
      trigger: Trigger = Trigger.AvailableNow())(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val reader = graft.Sessions.derived(spark,
      Map(SQLConf.PARALLEL_PARTITION_DISCOVERY_THRESHOLD.key -> Int.MaxValue.toString))
    val landed = reader.readStream
      .schema(BpiSchema.raw)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(landingDir)
    // The analyzed plan: the reader's unresolved source is bound to a
    // session only by analysis, and it must be the reader's.
    val raw = GraftColumnBridge.ofRows(spark, landed.queryExecution.analyzed)
    graft.streaming.MicroBatchPipeline.start(enrichIdr(flatten(raw), rates),
        checkpoint, OutputMode.Append(), trigger) { (batch, batchId) =>
      sink(orderedSelect(withAuditColumns(batch, clock = clock)), batchId)
    }
  }

  /** O13: warehouse append. Parquet for tests/local; the JDBC path is the
    * production sink (same DataFrame, different format string). */
  def appendParquet(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  /** O13 production form (bpi_crawler.py:167-173, `to_sql(..., "append")`). */
  def appendJdbc(df: DataFrame, url: String, table: String,
      props: java.util.Properties = new java.util.Properties()): Unit =
    df.write.mode("append").jdbc(url, table, props)

  /** Idempotent micro-batch JDBC append. Checkpointing makes a *committed*
    * batch never re-run, but a batch that failed mid-write IS replayed, and
    * a plain append would duplicate its rows. Standard fix: tag every row
    * with the replay-stable `batchId` and delete the tag's rows before
    * inserting, so a retry replaces its own partial output. The delete is
    * one indexed-key statement on the driver; the insert stays a
    * distributed `df.write.jdbc` (one connection per partition). */
  def appendJdbcBatch(df: DataFrame, url: String, table: String, batchId: Long,
      props: java.util.Properties = new java.util.Properties()): Unit = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val md = conn.getMetaData
      // Dialects fold unquoted names differently (Derby: upper, Postgres:
      // lower, MySQL: as-is) — probe every folding of the table name
      // rather than assuming one.
      val exists = Seq(table,
          table.toUpperCase(java.util.Locale.ROOT),
          table.toLowerCase(java.util.Locale.ROOT)).distinct
        .exists { t =>
          val rs = md.getTables(null, null, t, null)
          try rs.next() finally rs.close()
        }
      if (exists) {
        // Spark's CREATE TABLE quotes column identifiers (stored
        // case-sensitively as lowercase batch_id); quote with the
        // dialect's OWN quote string (Derby/Postgres: ", MySQL: `).
        val q = md.getIdentifierQuoteString match {
          case null | " " => "" case s => s
        }
        val st = conn.prepareStatement(
          s"DELETE FROM $table WHERE ${q}batch_id$q = ?")
        try { st.setLong(1, batchId); st.executeUpdate() } finally st.close()
      }
    } finally conn.close()
    appendJdbc(df.withColumn("batch_id", lit(batchId)), url, table, props)
  }

  /** JDBC dialects map StringType to an unindexable LOB type (Derby: CLOB,
    * where even `=` comparisons are illegal) — a warehouse wants comparable
    * VARCHAR columns. Builds a `createTableColumnTypes` spec overriding
    * every string column; pass it in the write properties. */
  def varcharColumnTypes(df: DataFrame, width: Int = 4000): String =
    df.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.StringType =>
        s"${f.name} VARCHAR($width)"
    }.mkString(", ")
}
