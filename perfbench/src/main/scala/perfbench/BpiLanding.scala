package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.pipeline.BpiPipeline

/** The BPI landing workload: the reference pipeline fed through its
  * streaming entry point, in phases over one checkpoint, in the order the
  * schedule lists them:
  *
  *   cold      a backlog is landed, then drained by an AvailableNow stream
  *             (the reference's accumulate-then-flush DAG) in a fresh
  *             session
  *   live      a long-running stream (ProcessingTime 0) drains files that a
  *             generator thread lands on an open-loop fixed-rate schedule;
  *             latency runs from a payload's due time to the return of the
  *             `appendParquet` call that stored it
  *   warm<i>   further backlogs, each drained like the first
  *
  * The payload bytes and the schedule are staged under `bpiDir` by
  * `datagen.py`; this side only lands them and times the pipeline. Every
  * file is written under a hidden name and renamed, so the file source
  * never lists a partial file. Each micro-batch goes through the sink the
  * pipeline's own `runStream` uses: `validationGate`, then `appendParquet`
  * into a parquet warehouse. The sink records which warehouse files each
  * batch wrote, so the checker can map every stored row to the call that
  * stored it.
  */
object BpiLanding {

  final case class Payload(phase: String, name: String, offsetMs: Double, bytes: Array[Byte])

  final case class Batch(phase: String, id: Long, gateMs: Double, appendMs: Double,
      returnNs: Long, files: Seq[String])

  def run(spark: SparkSession, tracer: Tracer, bpiDir: String,
      work: String): Map[String, Any] = {
    val payloads = Files.readAllLines(Paths.get(bpiDir, "schedule.tsv")).asScala.toSeq
      .filter(_.nonEmpty).map { line =>
        val Array(phase, name, offset) = line.split('\t')
        Payload(phase, name, offset.toDouble, Files.readAllBytes(Paths.get(bpiDir, "stage", name)))
      }
    val landing = Paths.get(work, "landing")
    val warehouse = Paths.get(work, "warehouse").toString
    val checkpoint = Paths.get(work, "checkpoint").toString
    Files.createDirectories(landing)
    val rates = spark.read.parquet(Paths.get(bpiDir, "rates.parquet").toString)

    val baseNs = System.nanoTime()
    val batches = new ConcurrentLinkedQueue[Batch]()
    val landed = new ConcurrentLinkedQueue[Map[String, Any]]()
    val seen = mutable.Set.empty[String]
    @volatile var phase = ""
    @volatile var phaseSpan = 0

    def land(p: Payload, dueNs: Long): Unit = {
      val hidden = landing.resolve("." + p.name + ".tmp")
      Files.write(hidden, p.bytes)
      Files.move(hidden, landing.resolve(p.name), StandardCopyOption.ATOMIC_MOVE)
      landed.add(Map("name" -> p.name, "phase" -> p.phase,
        "due_ms" -> (dueNs - baseNs) / 1e6, "written_ms" -> (System.nanoTime() - baseNs) / 1e6))
    }

    def sink(batch: DataFrame, batchId: Long): Unit =
      tracer.span(s"batch $batchId", phaseSpan) {
        val t0 = System.nanoTime()
        val gated = tracer.span("gate") { BpiPipeline.validationGate(batch) }
        val t1 = System.nanoTime()
        tracer.span("append") { BpiPipeline.appendParquet(gated, warehouse) }
        val t2 = System.nanoTime()
        val files = listParquet(warehouse).filterNot(seen.contains)
        seen ++= files
        batches.add(Batch(phase, batchId, (t1 - t0) / 1e6, (t2 - t1) / 1e6, t2 - baseNs, files))
      }

    def start(trigger: Trigger) =
      BpiPipeline.startStreamWith(spark, landing.toString, rates, checkpoint,
        trigger = trigger)(sink)

    /** Land a whole backlog, then time one AvailableNow drain of it. */
    def backlog(name: String): Double = tracer.span(name) {
      phase = name; phaseSpan = tracer.currentSpan
      payloads.filter(_.phase == name).foreach(p => land(p, System.nanoTime()))
      val t0 = System.nanoTime()
      start(Trigger.AvailableNow()).awaitTermination()
      (System.nanoTime() - t0) / 1e9
    }

    def live(): Map[String, Double] = tracer.span("live") {
      phase = "live"; phaseSpan = tracer.currentSpan
      val q = start(Trigger.ProcessingTime(0L))
      // The schedule starts once the stream has made its first (empty)
      // trigger, so query start-up is not billed to the first payloads.
      q.processAllAvailable()
      val before = tracer.snapshot()
      // Open loop: due times are fixed up front and never wait for the
      // pipeline; a late generator shows in its own lateness figures.
      val t0 = System.nanoTime() + 200L * 1000000L
      val gen = new Thread(() => payloads.filter(_.phase == "live").foreach { p =>
        val due = t0 + (p.offsetMs * 1e6).toLong
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        land(p, due)
      }, "perfbench-bpi-generator")
      gen.setDaemon(true)
      gen.start()
      gen.join()
      q.processAllAvailable()
      q.stop()
      Tracer.diff(tracer.snapshot(), before)
    }

    var liveLayers = Map.empty[String, Double]
    val drains = mutable.LinkedHashMap.empty[String, Double]
    payloads.map(_.phase).distinct.foreach {
      case "live" => liveLayers = live()
      case name => drains(name) = backlog(name)
    }

    Map(
      "drains" -> drains,
      "live_layers" -> liveLayers,
      "batches" -> batches.asScala.toSeq.map(b => Map(
        "phase" -> b.phase, "id" -> b.id, "gate_ms" -> b.gateMs, "append_ms" -> b.appendMs,
        "return_ms" -> b.returnNs / 1e6, "files" -> b.files)),
      "landed" -> landed.asScala.toSeq,
      "warehouse" -> warehouse,
      "leaks" -> QuerySuite.leaks(spark))
  }

  private def listParquet(dir: String): Seq[String] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) return Nil
    val s = Files.list(root)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).toSeq
    finally s.close()
  }
}
