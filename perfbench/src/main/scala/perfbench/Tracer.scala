package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and per-layer counters for the traced run.
  *
  * Untraced runs use [[Tracer.off]], which registers nothing and records
  * nothing, so their timings carry no listener cost. The traced run
  * registers one listener per layer Spark reports on:
  *   - `SparkListener`: jobs, stages and task metrics (executor time, CPU,
  *     GC, scan input, shuffle bytes, spill, fetch wait);
  *   - `QueryExecutionListener`: Catalyst analysis, optimisation and
  *     planning time, and whether the plan calls a `GraftExpressions`
  *     kernel;
  *   - `StreamingQueryListener`: the per-trigger `durationMs` breakdown,
  *     input rows and state-store metrics.
  *
  * Events are delivered asynchronously, so every closed span first
  * drains the listener bus: the caller runs one query at a time, hence
  * everything delivered before the drain returns belongs to the span
  * that is still open. Counters are cumulative; a measurement window is
  * the difference of two [[snapshot]]s.
  */
class Tracer private (val spark: SparkSession, val enabled: Boolean) {
  import Tracer.Span

  private val nextId = new AtomicInteger(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val counters = new ConcurrentHashMap[String, java.lang.Double]()

  /** Name of the query whose events are being delivered (see class doc). */
  @volatile private var current: String = ""
  private val kernelQueries = ConcurrentHashMap.newKeySet[String]()
  /** Last state-store figures per running stream (they are gauges). */
  private val stateByRun = new ConcurrentHashMap[java.util.UUID, (Long, Long)]()

  def add(key: String, v: Double): Unit =
    if (enabled) counters.merge(key, v, (a, b) => a + b)

  def snapshot(): Map[String, Double] = {
    drain()
    val state = stateByRun.values().asScala
    counters.asScala.map { case (k, v) => k -> v.doubleValue }.toMap ++ Map(
      "state.store_rows" -> state.map(_._1.toDouble).sum,
      "state.store_bytes" -> state.map(_._2.toDouble).sum)
  }

  def drain(): Unit = if (enabled) ListenerBusAccess.drain(spark.sparkContext)

  /** Time `body` as a span under the innermost open span of this thread
    * (or under `parent` when given, for callbacks on other threads). */
  def span[T](name: String, parent: Int = -1)(body: => T): T = {
    if (!enabled) return body
    val id = nextId.getAndIncrement()
    val stack = open.get()
    val p = if (parent >= 0) parent else stack.headOption.getOrElse(0)
    open.set(id :: stack)
    val t0 = System.nanoTime()
    try body
    finally {
      drain()
      spans.add(Span(id, p, name, t0, System.nanoTime()))
      open.set(stack)
    }
  }

  /** Id of the innermost open span on this thread (0 at the root). */
  def currentSpan: Int = open.get().headOption.getOrElse(0)

  /** Attribute the events delivered from now on to `query`. */
  def attribute(query: String): Unit = if (enabled) { drain(); current = query }

  /** Queries seen executing a plan that calls a `GraftExpressions` kernel;
    * their executor CPU per window is the `cpu.<query>` counter. */
  def kernelQuerySet: Set[String] = kernelQueries.asScala.toSet

  def spanRecords: Seq[Map[String, Any]] = spans.asScala.toSeq.sortBy(_.id).map(s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6))

  private val isKernel: org.apache.spark.sql.catalyst.expressions.Expression => Boolean =
    _.getClass.getName.startsWith("graft.functions.GraftExpressions$")

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("driver.jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("driver.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val cpuMs = m.executorCpuTime / 1e6
      add("exec.tasks", 1)
      add("exec.run_ms", m.executorRunTime.toDouble)
      add("exec.cpu_ms", cpuMs)
      add("exec.gc_ms", m.jvmGCTime.toDouble)
      add("scan.bytes", m.inputMetrics.bytesRead.toDouble)
      add("scan.records", m.inputMetrics.recordsRead.toDouble)
      add("exchange.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("exchange.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("exchange.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("exchange.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add("cpu." + current, cpuMs)
    }
  }

  private object Plans extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String): Double = phases.get(p).fold(0.0)(_.durationMs.toDouble)
      add("driver.analysis_ms", ms("analysis"))
      add("driver.optimizer_ms", ms("optimization"))
      add("driver.planning_ms", ms("planning"))
      var kernel = false
      qe.optimizedPlan.foreachWithSubqueries { p =>
        if (!kernel && p.expressions.exists(_.exists(isKernel))) kernel = true
      }
      if (kernel) kernelQueries.add(current)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private object Streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Double = Option(d.get(k)).fold(0.0)(_.doubleValue)
      add("stream.batches", 1)
      add("stream.latest_offset_ms", ms("latestOffset"))
      add("stream.get_batch_ms", ms("getBatch"))
      add("stream.query_planning_ms", ms("queryPlanning"))
      add("stream.wal_commit_ms", ms("walCommit"))
      add("stream.add_batch_ms", ms("addBatch"))
      add("stream.input_rows", p.numInputRows.toDouble)
      add("stream.dropped_by_watermark",
        p.stateOperators.map(_.numRowsDroppedByWatermark).sum.toDouble)
      if (p.stateOperators.nonEmpty)
        stateByRun.put(p.runId, (p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum))
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(Jobs)
    spark.listenerManager.register(Plans)
    spark.streams.addListener(Streams)
  }

  def close(): Unit = if (enabled) {
    drain()
    spark.sparkContext.removeSparkListener(Jobs)
    spark.listenerManager.unregister(Plans)
    spark.streams.removeListener(Streams)
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

  def on(spark: SparkSession): Tracer = new Tracer(spark, true)
  def off(spark: SparkSession): Tracer = new Tracer(spark, false)

  /** `after - before` per key (keys missing on either side count as 0). */
  def diff(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    (after.keySet ++ before.keySet).map(k =>
      k -> (after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0))).toMap
}
