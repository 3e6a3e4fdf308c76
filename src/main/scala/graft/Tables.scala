package graft

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated testdata tables (TESTDATA.md / FIXTURES.md §B).
  *
  * Every table is a single parquet file under `dir` — at real scale these would be
  * partitioned directories; nothing here assumes a single file, so the same code
  * works unchanged against a 100 TB partitioned layout.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** One resolved DataFrame per (session, table path) — the catalog shape:
    * production Spark resolves a table's schema and file index from
    * catalog metadata once, not by re-reading parquet footers on every
    * query that mentions the table. Un-memoized, EVERY query invocation
    * paid its own driver-side footer read + relation resolution per table
    * it touches (282 queries × 2 bench passes × 1–3 tables — a pure
    * per-query floor tax). This memoizes the ANALYZED PLAN object only:
    * every action still scans the parquet files themselves — no rows, no
    * results are cached (the plan is the same immutable value a catalog
    * lookup returns). Keyed per session so concurrent sessions (tests vs
    * mains) never share; safe because every load target is either frozen
    * testdata or a write-once replica dir (BenchScale.scaledDir creates a
    * fresh temp dir per call). */
  private val resolved =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    resolved.computeIfAbsent((spark, s"$dir/$name.parquet"),
      key => key._1.read.parquet(key._2))

  /** Same memo for an IMMUTABLE parquet directory (a completed StateCache
    * state dir): serve the resolved plan instead of re-reading footers on
    * every invocation. Only for write-once paths — a dir that receives
    * later appends must NOT go through here (the memoized plan's file
    * index would serve the old listing). */
  def loadFrozenDir(spark: SparkSession, path: String): DataFrame =
    resolved.computeIfAbsent((spark, path), key => key._1.read.parquet(key._2))

  /** Glob matching EXACTLY `<dir>/<table>.parquet` — file or directory
    * layout — and nothing else. FileStreamSource needs a glob-or-directory
    * path (a bare file path fails its basePath-directory check, and
    * parent-dir + pathGlobFilter silently lists zero files from a
    * directory-shaped table), but the previous `<table>.parquet*` trailing
    * wildcard overmatched: a leftover `<table>.parquet_old` or `.bak`
    * sibling would be silently ingested into every streaming query. A
    * single-character class keeps glob treatment (so both layouts resolve)
    * with exact-match semantics — probed against both layouts plus a decoy
    * sibling: `*` doubled the rows, this form reads exactly the table. */
  def streamGlob(dir: String, table: String): String =
    s"$dir/$table.parque[t]"

  /** The table as a file stream over [[streamGlob]]. FileStreamSource
    * needs a user schema; it is taken from the memoized batch frame
    * ([[load]]), so no drain pays its own footer read. Events go through
    * [[graft.streaming.MicroBatchPipeline.eventsStream]], which also
    * normalizes `ts`. */
  def stream(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.readStream.schema(load(spark, dir, table).schema)
      .parquet(streamGlob(dir, table))

  def region(s: SparkSession, dir: String): DataFrame     = load(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame     = load(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame   = load(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame   = load(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame       = load(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame     = load(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame   = load(s, dir, "lineitem")
  /** events.ts has shipped under two physical encodings across testdata
    * refreshes: parquet TIMESTAMP(NANOS) (reads as raw Long nanos under the
    * legacy conf) and plain timestamp[us] (reads as TIMESTAMP_NTZ). The
    * legacy conf is required to even LOAD a nanos file and is a no-op for
    * micros files, so the read always goes through [[withNanosAsLong]]
    * (memoized like [[load]], under its own key); the rewrite branches on
    * the schema Spark actually resolved. */
  def events(s: SparkSession, dir: String): DataFrame =
    normalizeEventTs(resolved.computeIfAbsent((s, s"$dir/events.parquet#nanos"),
      key => withNanosAsLong(key._1)(_.read.parquet(s"$dir/events.parquet"))))

  /** `read` run on [[Sessions.derived]] of `spark` with
    * `spark.sql.legacy.parquet.nanosAsLong=true`, its analyzed plan
    * rebound to `spark`: the parquet scan takes the conf from the
    * relation's session (the derived one), so TIMESTAMP(NANOS) files load
    * while the caller's SQLConf is never written. The analyzed plan,
    * because a reader's source is bound to a session only by analysis.
    * The derived session is memoized, so repeated reads share one. */
  private[graft] def withNanosAsLong(spark: SparkSession)(
      read: SparkSession => DataFrame): DataFrame =
    GraftColumnBridge.ofRows(spark, read(Sessions.derived(spark,
      Map("spark.sql.legacy.parquet.nanosAsLong" -> "true"))).queryExecution.analyzed)

  /** The ONE ts-normalization shared by the batch loader and the streaming
    * reader (MicroBatchPipeline.eventsStream) — the two paths diverging is
    * exactly how round 10 shipped a silent 1000x event-time compression.
    *
    *  - LongType: raw nanos (old TIMESTAMP(NANOS) encoding under the legacy
    *    conf, and test fixtures that land Long columns). `ts div 1000` stays
    *    in Long — integer floor-to-micros matches DuckDB/pandas, and a
    *    double division would lose precision above 2^53 ns.
    *  - TIMESTAMP_NTZ (current timestamp[us] testdata): cast to the session
    *    TimestampType. All entry points pin spark.sql.session.timeZone=UTC,
    *    so the cast is micros-exact and downstream windows/date_format keep
    *    the same types and values as before.
    *  - TimestampType: already normalized, pass through.
    * Anything else fails loudly here instead of 30 queries deep. */
  def normalizeEventTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType             => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case _: TimestampNTZType  =>
      // The NTZ->TimestampType cast is only value-exact under a UTC session;
      // a non-UTC consumer would get silently shifted event times. Fail loudly
      // instead of relying on the entry points' convention.
      val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
      require(tz == "UTC",
        s"events.ts is TIMESTAMP_NTZ and spark.sql.session.timeZone=$tz; " +
          "the NTZ->timestamp cast is only exact under UTC — set the session timezone to UTC")
      df.withColumn("ts", col("ts").cast(TimestampType))
    case _: TimestampType     => df
    case other => throw new IllegalStateException(
      s"events.ts: unsupported physical type $other — expected Long nanos or a timestamp")
  }
  def documents(s: SparkSession, dir: String): DataFrame  = load(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = load(s, dir, "embeddings")
}
