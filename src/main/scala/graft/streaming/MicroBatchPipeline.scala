package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming tier — the reference's accumulate/flush micro-batch
  * DAGs (SURVEY.md §3.2-3.3) re-expressed as streaming queries.
  *
  * The reference accumulated rows in a staging collection and flushed
  * hourly with a find-all-then-drop race that silently loses rows written
  * between the two calls. Here the source is a checkpointed file stream:
  * each file is consumed exactly once, `foreachBatch` gets an atomic
  * (batchId, DataFrame) pair, and a restart resumes from the checkpoint —
  * no destructive truncate anywhere. Event-time windows + watermarks
  * replace the reference's wall-clock cron windows.
  */
object MicroBatchPipeline {

  /** File-based streaming source over the events table: stream the table
    * path as a GLOB ([[graft.Tables.streamGlob]]) — the one form
    * FileStreamSource accepts for BOTH layouts. A bare file path fails
    * ("Option 'basePath' must be a directory"), and the old parent-dir +
    * pathGlobFilter form silently reads ZERO files from a directory-shaped
    * table (part files don't match the filter) — the round-15 scale-rig
    * finding; a real 100 TB table is always directory-shaped. The glob
    * matches the verification corpus's single file and a directory's
    * contents alike — and ONLY those (the helper's character class cannot
    * overmatch a `.parquet_old` sibling the way a trailing `*` did). At
    * production scale this is a landing directory receiving new files per
    * micro-batch. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    eventsStreamFrom(spark, graft.Tables.streamGlob(dir, "events"))

  /** Streaming events reader whose schema is RESOLVED FROM THE FILES by a
    * batch read, then ts-normalized by the same `Tables.normalizeEventTs`
    * the batch loader uses. FileStreamSource requires a user schema; a
    * hardcoded one silently mis-reads when the physical encoding changes
    * (round 10: timestamp[us] micros read as Long then treated as nanos —
    * a 1000x event-time compression that still type-checked). Deriving it
    * from the batch reader makes the two paths share one source of truth.
    * The one-time footer read is driver-side and O(files-at-start), and
    * REQUIRES at least one matching file to exist when the stream is
    * constructed (an empty landing directory fails with Spark's
    * "Unable to infer schema"). Production landing zones should pass
    * `schema` explicitly (from the table catalog) — that skips the footer
    * read entirely, works on an empty directory, and scales to
    * million-file landing dirs; inference stays as the test/dev fallback.
    * Both reads go through [[graft.Tables.withNanosAsLong]], so old
    * TIMESTAMP(NANOS) files load without writing the caller's SQLConf. */
  def eventsStreamFrom(spark: SparkSession, dir: String,
      pathGlobFilter: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None,
      schema: Option[StructType] = None): DataFrame = {
    // Schema inference memoized per (dir, glob): the footer read is a pure
    // function of the frozen source files, and every drain used to pay its
    // own driver-side listing + footer job just to recover the identical
    // struct (~36 streaming queries per suite). Production passes `schema`
    // from the catalog (the doc above) and never reaches this path.
    val resolved = schema.getOrElse {
      graft.StateCache.cached(dir,
          "stream_schema:" + pathGlobFilter.getOrElse("")) {
        graft.Tables.withNanosAsLong(spark)(s => pathGlobFilter
          .foldLeft(s.read)((r, g) => r.option("pathGlobFilter", g))
          .parquet(dir)).schema
      }
    }
    val options = pathGlobFilter.map(g => ("pathGlobFilter", g)) ++
      maxFilesPerTrigger.map(n => ("maxFilesPerTrigger", n.toString))
    graft.Tables.normalizeEventTs(graft.Tables.withNanosAsLong(spark)(s =>
      options.foldLeft(s.readStream.schema(resolved))((r, kv) =>
        r.option(kv._1, kv._2)).parquet(dir)))
  }

  /** Event-time tumbling-window aggregation (the engine's replacement for
    * the reference's hourly cron batches): per (hour, event_type) count
    * and exact integer-cents value sum. Watermark bounds state. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"),
        (col("value_cents") / 100.0).as("sum_value"))

  /** Sliding event-time windows (2 h span, 1 h slide): each event lands in
    * two overlapping windows — Spark plans one Expand (×2 rows) feeding a
    * single windowed aggregate, state bounded by the watermark. */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "4 hours")
      .groupBy(window(col("ts"), "2 hours", "1 hour"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("n_events"), (col("value_cents") / 100.0).as("sum_value"))

  /** Drain a streaming DataFrame synchronously and return the final
    * result (bounded-input semantics for the declared queries and tests):
    * a [[drainAt]] whose body collects each batch to the driver by batch
    * id, so a replayed batch replaces its own rows. Complete mode keeps
    * the latest batch, Append and Update mode every batch in order. The
    * result is a local frame on the caller's session (`streamed`'s, not
    * the drain's), empty if no batch ran. */
  def runToResult(streamed: DataFrame,
      mode: OutputMode = OutputMode.Complete()): DataFrame = {
    import scala.jdk.CollectionConverters._
    val batches = scala.collection.mutable.SortedMap.empty[Long, Array[Row]]
    drainAt(streamed, graft.TempDirs.scoped("graft_stream_ckpt"), mode) { (batch, id) =>
      if (mode == OutputMode.Complete()) batches.clear()
      batches(id) = batch.collect()
    }
    streamed.sparkSession.createDataFrame(
      batches.values.flatten.toSeq.asJava, streamed.schema)
  }

  /** Drain `stream` to exhaustion (AvailableNow), handing each micro-batch
    * and its id to `sink` — the foreachBatch drain every declared
    * streaming query with a function sink shares. The checkpoint is a
    * fresh session-scoped dir, so each call consumes the whole source
    * once; the sink should make its writes idempotent per batch id (a
    * batch retried after a failed write re-runs the sink). */
  def drain(stream: DataFrame, name: String)(
      sink: (DataFrame, Long) => Unit): Unit =
    drainAt(stream, graft.TempDirs.scoped(s"graft_${name}_ckpt"))(sink)

  /** [[drain]] against a caller-owned checkpoint: a later drain over the
    * same checkpoint resumes after the last committed batch (a restart),
    * so only files that arrived since are processed. The stream is
    * rebound ([[batchOn]]) to [[batchSized]] of its session and run to
    * exhaustion there ([[start]] with AvailableNow): the query, its state
    * and the sink's batches run under the batch-sized policy, and the
    * caller's SQLConf is never written. */
  private[streaming] def drainAt(stream: DataFrame, checkpoint: String,
      mode: OutputMode = OutputMode.Append())(
      sink: (DataFrame, Long) => Unit): Unit =
    start(batchOn(batchSized(stream.sparkSession), stream), checkpoint, mode,
      Trigger.AvailableNow())(sink).awaitTermination()

  /** Start `stream` as a foreachBatch query — the one place a streaming
    * query is started. Every sink is a function of (batch, batchId) over
    * a replayable source with a checkpointed offset log, so one primitive
    * serves the drains and the long-running BPI service alike. The query
    * starts on the stream's own session (a drain's is [[batchSized]]'s,
    * BPI's the caller's), registers with that session's `streams`, and
    * the sink gets each batch on that session ([[batchOn]]). */
  private[graft] def start(stream: DataFrame, checkpoint: String,
      mode: OutputMode, trigger: Trigger)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val spark = stream.sparkSession
    stream.writeStream
      .outputMode(mode)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch((batch: Dataset[Row], batchId: Long) =>
        sink(batchOn(spark, batch), batchId))
      .start()
  }

  /** `df`'s analyzed plan as a frame on `spark`, so its jobs run under
    * `spark`'s conf and class loader. [[start]] rebinds each foreachBatch
    * frame to the session that started the query: Spark hands the body a
    * frame on the query's private clone, and each Spark 4 clone has its
    * own executor class loader, which the codegen cache is keyed by, so
    * every stream start recompiled every class its body ran. The plan is
    * the analyzed one: a micro-batch's is a scan of its planned RDD, and
    * a reader's source stays bound to the session it was read on. */
  private[graft] def batchOn(spark: SparkSession, df: Dataset[Row]): DataFrame =
    GraftColumnBridge.ofRows(spark, df.queryExecution.analyzed)

  /** [[drain]] whose micro-batch result `f(batch)` lands as the
    * overwrite-mode slice `b<batchId>` of a fresh session-scoped dir (a
    * retried batch replaces its own partial slice), returning every slice
    * read back as one frame. */
  def drainToSlices(stream: DataFrame, name: String)(
      f: DataFrame => DataFrame): DataFrame = {
    val out = graft.TempDirs.scoped(s"graft_${name}_out")
    drain(stream, name) { (batch, batchId) =>
      f(batch).write.mode("overwrite").parquet(s"$out/b$batchId")
    }
    stream.sparkSession.read.parquet(s"$out/b*")
  }

  /** The batch-sized shuffle policy. Micro-batch volumes are bounded by
    * trigger cadence, not corpus size, so bounded drains and the index
    * lifecycle's appends, deletes, compactions and serves run with
    * shuffles sized to the batch (one shared policy). */
  private[graft] val BatchSized = Map(
    // 8, not cores: these lifecycle stages move a few thousand rows each —
    // measured at sf0.1, 4 and 32 partitions are both ~20-40% slower than
    // 8 (scheduling overhead vs per-task startup), so 8 is the tuned value.
    "spark.sql.shuffle.partitions" -> "8",
    // AQE off for the same reason the partition count is fixed: micro-batch
    // volumes are bounded by trigger admission, so there is nothing for AQE
    // to adapt — but each AQE stage materialization is its own Spark job:
    // a warm `stream_mm_serve` serve runs 7 jobs here, 15 with AQE on
    // (sf0.01, local[4]). The caller keeps its AQE for corpus-sized work.
    "spark.sql.adaptive.enabled" -> "false")

  /** `spark` under [[BatchSized]]: the memoized [[graft.Sessions.derived]]
    * session the drains start on and the index lifecycle verbs (appends,
    * deletes, compactions, serves) rebind their input to ([[batchOn]]),
    * so callers never name it. `spark` itself when it already is one. */
  private[graft] def batchSized(spark: SparkSession): SparkSession =
    graft.Sessions.derived(spark, BatchSized)

  /** Micro-batch flush to parquet via foreachBatch — the reference's
    * hourly "batch store" DAG without its data-loss race. The checkpoint
    * makes file consumption exactly-once across restarts. */
  def foreachBatchAppend(events: DataFrame, outPath: String,
      checkpoint: String): Unit =
    drainAt(events, checkpoint) { (batch, batchId) =>
      batch.withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(outPath)
    }

  /** Streaming dedup: drop events whose key was already seen within the
    * watermark horizon — the reference's consume-once guarantee without
    * the destructive truncate, with state bounded by the watermark so it
    * never grows unboundedly on an infinite stream. */
  def dedupWithinWatermark(events: DataFrame, key: String = "event_id",
      watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(key)

  // -------------------------------------------------------------------
  // Stateful: sessionization with flatMapGroupsWithState
  // -------------------------------------------------------------------

  val SessionGapMinutes = 30L

  final case class SessionSummary(user_id: Long, n_sessions: Long,
      n_events: Long, longest_session_events: Long)

  private final case class SessState(lastTsMicros: Long, sessions: Long,
      events: Long, currentLen: Long, longest: Long)

  /** Per-user session counts with a 30-minute inactivity gap, as a
    * `flatMapGroupsWithState` operator (the engine's custom-state
    * primitive). In batch mode Spark hands each group's rows to the
    * function once; events are sorted by (ts, event_id) in-group —
    * groups are a single user's events, bounded. In streaming mode the
    * same function carries state across micro-batches with a timeout. */
  final case class FunnelDepth(user_id: Long, depth: Long)

  /** Streaming funnel state machine — the live form of
    * [[graft.operators.RelationalExt.eventFunnel]]'s first-touch
    * semantics: per user, keep the earliest view time, the earliest click
    * strictly after it, the earliest purchase strictly after that. Each
    * micro-batch is processed in (ts, event_id) order and the state is
    * three longs per user — O(1), no event retention — so depth only ever
    * grows and the last Update-mode emission per user is the final funnel
    * depth. Over an in-order source (each batch's events no earlier than
    * the last — the sessionize contract) the drained result equals the
    * batch funnel exactly. */
  def funnelDepths(spark: SparkSession, events: DataFrame): Dataset[FunnelDepth] = {
    import spark.implicits._
    val unset = Long.MinValue

    def fn(userId: Long, rows: Iterator[(Long, Long, Long, String)],
        state: GroupState[(Long, Long, Long)]): Iterator[FunnelDepth] = {
      val sorted = rows.toVector.sortBy(r => (r._2, r._1))
      var st = state.getOption.getOrElse((unset, unset, unset))
      // step names come from the ONE declared sequence
      // (RelationalExt.FunnelSteps) so the streaming twin can never
      // silently desynchronize from the batch funnel's steps
      val Seq(step1, step2, step3) = graft.operators.RelationalExt.FunnelSteps
      sorted.foreach { case (_, ts, _, etype) =>
        st = etype match {
          case `step1` if st._1 == unset => (ts, st._2, st._3)
          case `step2` if st._1 != unset && st._2 == unset && ts > st._1 =>
            (st._1, ts, st._3)
          case `step3` if st._2 != unset && st._3 == unset && ts > st._2 =>
            (st._1, st._2, ts)
          case _ => st
        }
      }
      state.update(st)
      val depth =
        if (st._3 != unset) 3L else if (st._2 != unset) 2L
        else if (st._1 != unset) 1L else 0L
      Iterator.single(FunnelDepth(userId, depth))
    }

    events
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(fn)
  }

  def sessionize(spark: SparkSession, events: DataFrame): Dataset[SessionSummary] = {
    import spark.implicits._
    val gapMicros = SessionGapMinutes * 60L * 1000000L

    def fn(userId: Long, rows: Iterator[(Long, Long, Long)],
        state: GroupState[SessState]): Iterator[SessionSummary] = {
      val sorted = rows.toVector.sortBy(r => (r._2, r._1))
      var st = state.getOption.getOrElse(SessState(Long.MinValue, 0L, 0L, 0L, 0L))
      sorted.foreach { case (_, ts, _) =>
        val newSession = st.lastTsMicros == Long.MinValue || ts - st.lastTsMicros > gapMicros
        st =
          if (newSession)
            SessState(ts, st.sessions + 1, st.events + 1, 1L, math.max(st.longest, 1L))
          else
            SessState(ts, st.sessions, st.events + 1, st.currentLen + 1,
              math.max(st.longest, st.currentLen + 1))
      }
      state.update(st)
      Iterator.single(SessionSummary(userId, st.sessions, st.events, st.longest))
    }

    events
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"), col("user_id"))
      .as[(Long, Long, Long)]
      .groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(fn)
  }
}
