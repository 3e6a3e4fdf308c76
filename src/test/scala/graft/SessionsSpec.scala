package graft

import java.util.concurrent.Executors

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import graft.streaming.{MicroBatchPipeline, StreamingDedup}

/** [[Sessions.derived]]: every conf override the engine makes runs on a
  * memoized clone of the caller, never on the caller's own SQLConf. */
class SessionsSpec extends SparkSpec {

  private val policyKeys =
    Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("derived is one memoized clone per caller and overrides") {
    val s = spark.newSession()
    val before = s.conf.getAll
    val three = Map("spark.sql.shuffle.partitions" -> "3")
    val d = Sessions.derived(s, three)
    assert(!(d eq s))
    assert(Sessions.derived(s, three) eq d)
    assert(d.conf.get("spark.sql.shuffle.partitions") == "3")
    assert(s.conf.getAll == before)
    // a session whose conf already holds the overrides is its own
    assert(Sessions.derived(d, three) eq d)
    // a setting the caller makes later reaches the work: a new clone
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val again = Sessions.derived(s, three)
    assert(!(again eq d))
    assert(again.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1")
    assert(again.conf.get("spark.sql.shuffle.partitions") == "3")
  }

  test("a listener on the caller sees every batch of a drain") {
    val runs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val rows = new java.util.concurrent.atomic.AtomicLong()
    val ended = new java.util.concurrent.CountDownLatch(1)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = runs.add(e.runId)
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (runs.contains(e.progress.runId)) rows.addAndGet(e.progress.numInputRows)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (runs.contains(e.runId)) ended.countDown()
    }
    spark.streams.addListener(listener)
    try {
      MicroBatchPipeline.drain(Tables.stream(spark, sf, "documents"), "seen") {
        (b, _) => b.collect(); ()
      }
      // progress and termination reach the listener through the async bus
      assert(ended.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.streams.removeListener(listener)
    assert(runs.size == 1)
    assert(rows.get == Tables.documents(spark, sf).count())
  }

  test("drain sinks and lifecycle state builds leave the caller's shuffle " +
      "conf alone while they run") {
    val caller = policyKeys.map(spark.conf.get)
    // (the caller's values, the working frame's session's values), read
    // inside the work
    val seen = ArrayBuffer.empty[(Seq[String], Seq[String])]
    MicroBatchPipeline.drain(Tables.stream(spark, sf, "documents"), "confsink") {
      (b, _) => seen += policyKeys.map(spark.conf.get) ->
        policyKeys.map(b.sparkSession.conf.get)
    }
    // a declared lifecycle state build over a fresh copy of the corpus (the
    // state cache is keyed by corpus dir), watched from another thread
    val corpus = TempDirs.scoped("graft_confbuild_corpus")
    java.nio.file.Files.copy(java.nio.file.Paths.get(sf, "documents.parquet"),
      java.nio.file.Paths.get(corpus, "documents.parquet"))
    @volatile var building = true
    val drift = new java.util.concurrent.atomic.AtomicReference[Seq[String]]()
    val watcher = new Thread(() => while (building) {
      val now = policyKeys.map(spark.conf.get)
      if (now != caller) drift.compareAndSet(null, now)
      Thread.sleep(1)
    })
    watcher.start()
    val state = try StreamingDedup.textTrainDeletedState(spark, corpus)
      finally { building = false; watcher.join() }
    assert(drift.get == null)
    // a compaction of that state: its merge write is the verb's seam
    StreamingDedup.layout.compactWith(spark, state, 1L) {
      (df, path) =>
        seen += policyKeys.map(spark.conf.get) ->
          policyKeys.map(df.sparkSession.conf.get)
        df.write.parquet(path)
    }
    assert(seen.size >= 3)
    assert(seen.forall(_._1 == caller), seen)
    // the work itself still runs under the batch-sized policy
    assert(seen.forall(_._2 == Seq("8", "false")), seen)
  }

  test("a drain, a lifecycle serve and a batch join run concurrently on " +
      "one session with their serial results") {
    // local[N] threads stand in for concurrent clients: three driver
    // threads submit to the one shared local-mode session at once
    val names = Seq("stream_hourly_agg", "mm_serve_deleted", "rel_star_join")
    val queries = SparkEntry.queries
    val before = spark.conf.getAll
    val pool = Executors.newFixedThreadPool(names.size)
    val concurrent = try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      Await.result(Future.sequence(names.map(n =>
        Future(sorted(queries(n)(spark, sf))))), 10.minutes)
    } finally pool.shutdown()
    val serial = names.map(n => sorted(queries(n)(spark, sf)))
    names.zip(concurrent.zip(serial)).foreach { case (n, (c, s)) =>
      assert(s.nonEmpty, n)
      assert(c == s, n)
    }
    assert(spark.conf.getAll == before)
  }
}
