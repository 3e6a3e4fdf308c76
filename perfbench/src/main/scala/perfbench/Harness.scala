package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The benchmark's JVM side: sets up a session, runs one workload against
  * the engine's public entry points, and writes raw measurements as JSON
  * for `run.py`, which checks them and prints the result line.
  *
  * Arguments (all `--key value`):
  *   workload  `bpi_landing` (payloads staged under --bpi), or any other
  *             name for a query suite (query names read from --queries,
  *             one per line, in run order)
  *   data      table directory a query suite reads
  *   work      scratch directory for Spark, checkpoints and the warehouse
  *   trace     1 registers the listeners of [[Tracer]]
  *   out       result JSON path
  */
object Harness {

  val Cpus = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opt("work")

    // Set-up runs from JVM start until the session and its warm-up are
    // ready, so JVM start, class loading and the engine's static
    // initialisation all count.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = newSession(work)
    val sessionMs = System.currentTimeMillis()
    warmUp(spark)
    val readyMs = System.currentTimeMillis()
    val setup = Map("total_s" -> (readyMs - jvmStartMs) / 1e3,
      "session_s" -> (sessionMs - jvmStartMs) / 1e3, "warmup_s" -> (readyMs - sessionMs) / 1e3)

    val tracer = if (opt.getOrElse("trace", "0") == "1") Tracer.on(spark) else Tracer.off(spark)
    val result =
      if (opt("workload") == "bpi_landing") BpiLanding.run(spark, tracer, opt("bpi"), work)
      else {
        val names = Files.readAllLines(Paths.get(opt("queries"))).asScala.toSeq
          .map(_.trim).filter(_.nonEmpty)
        QuerySuite.run(spark, tracer, names, opt("data"))
      }
    tracer.close()
    val out = result ++ Map("setup_s" -> Seq(setup), "heap_mb" -> heapAfterGcMb(),
      "spans" -> tracer.spanRecords)
    val json = JsonMapper.builder().addModule(DefaultScalaModule).build()
    Files.writeString(Paths.get(opt("out")), json.writeValueAsString(out))
    spark.stop()
  }

  def newSession(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One pass of the codegen kernels on a tiny in-memory frame,
    * fingerprinted: the session runs a first job and JIT and codegen warm
    * up without touching any measured input. */
  def warmUp(spark: SparkSession): Unit = {
    import spark.implicits._
    import graft.functions.GraftExpressions._
    val w = (1 to 100).map(i => (s"warm up text number $i with tokens", i.toLong)).toDF("t", "i")
    Fingerprint.of(w.select(
      size(shingleHashes64(col("t"), 3)), size(tokenHashes64(col("t"))),
      size(md5TokenHashes64(col("t"))), size(shingleStrings(col("t"), 2)),
      simhash64Fast(tokenHashes64(col("t")))))
  }

  /** Heap in use after garbage collection. Spark frees broadcast and
    * shuffle blocks from its ContextCleaner thread once a GC has found
    * them unreachable, so collect, let the cleaner run, and collect again. */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def errorRecord(e: Throwable): Map[String, String] =
    Map("class" -> e.getClass.getName, "message" -> String.valueOf(e.getMessage).take(2000))
}

/** A cold and a warm pass over declared queries. The cold pass is the
  * first pass in a fresh session and JVM, so it pays every StateCache
  * build; the warm pass repeats the same order. Each query is timed from
  * the call of its builder to the return of its fingerprint action. */
object QuerySuite {

  def run(spark: SparkSession, tracer: Tracer, names: Seq[String],
      dir: String): Map[String, Any] = {
    val queries = graft.SparkEntry.queries
    val conf0 = spark.conf.getAll
    var confDrift = 0
    val driftedKeys = mutable.SortedSet.empty[String]

    // Every pass starts right after a full collection (this one, or the
    // previous pass's leak probe), so no pass inherits another's garbage.
    System.gc()

    def pass(kind: String): Map[String, Any] = {
      val before = tracer.snapshot()
      val t0 = System.nanoTime()
      val records = tracer.span(kind) {
        names.map { name =>
          tracer.attribute(name)
          val rec = tracer.span(name) {
            val q0 = System.nanoTime()
            var buildNs = 0L
            val outcome =
              try {
                val df = tracer.span("build") { queries(name)(spark, dir) }
                buildNs = System.nanoTime() - q0
                Right(tracer.span("action") { Fingerprint.of(df) })
              } catch { case e: Throwable => Left(e) }
            val ms = (System.nanoTime() - q0) / 1e6
            Map("name" -> name, "ms" -> ms, "build_ms" -> buildNs / 1e6) ++
              (outcome match {
                case Right(fp) => Map("fp" -> fp.toString, "rows" -> fp.rows)
                case Left(e) => Map("error" -> Harness.errorRecord(e))
              })
          }
          val conf = spark.conf.getAll
          if (conf != conf0) {
            confDrift += 1
            driftedKeys ++= (conf.keySet ++ conf0.keySet).filter(k => conf.get(k) != conf0.get(k))
          }
          rec
        }
      }
      val totalS = (System.nanoTime() - t0) / 1e9
      tracer.attribute("")
      val layers = Tracer.diff(tracer.snapshot(), before)
      Map("kind" -> kind, "total_s" -> totalS, "queries" -> records,
        "layers" -> layers, "leaks" -> leaks(spark))
    }

    val passes = Seq(pass("cold"), pass("warm"))
    val oracle = graft.SparkEntry.allSpecs.filter(s => names.contains(s.name))
      .map(s => s.name -> s.oracle.isDefined).toMap
    Map("passes" -> passes, "conf_drift" -> confDrift, "conf_drift_keys" -> driftedKeys,
      "oracle" -> oracle,
      "kernel_queries" -> tracer.kernelQuerySet.toSeq.sorted)
  }

  /** Session state that should not grow across passes, read from outside
    * the engine. */
  def leaks(spark: SparkSession): Map[String, Any] = Map(
    "temp_views" -> spark.catalog.listTables().collect().count(_.isTemporary),
    "persisted_rdds" -> spark.sparkContext.getPersistentRDDs.size,
    "dir_bytes" -> dirBytes(System.getProperty("java.io.tmpdir")),
    "heap_mb" -> Harness.heapAfterGcMb())

  def dirBytes(path: String): Long = {
    val root = Paths.get(path)
    if (!Files.isDirectory(root)) return 0L
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(p =>
      try Files.size(p) catch { case _: java.io.IOException => 0L }).sum
    catch { case _: java.io.UncheckedIOException => 0L }
    finally s.close()
  }
}

/** Prints the declared query names, one per line. */
object ListQueries {
  def main(args: Array[String]): Unit = graft.SparkEntry.allSpecs.foreach(s => println(s.name))
}
