package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** TEMPORARY profiling main (not part of the driver contract): runs one
  * declared query N times and prints per-Spark-job wall times so the cost
  * of multi-job queries (streaming drains, lifecycle builds) can be
  * attributed. Usage: runMain graft.Prof <query> [reps [sfDir]] */
object Prof {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local(defaultCpus = 32)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        starts.put(js.jobId, (System.nanoTime(), desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, d) =>
          rows.add((je.jobId, System.nanoTime() - t0, d))
        }
      }
    })
    // Streaming-progress attribution: per-batch durationMs breakdown
    // (triggerExecution, queryPlanning, walCommit, addBatch, ...) so the
    // micro-batch ENGINE floor can be split into its components.
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit =
          progress.add(f"  stream ${e.id.toString.take(8)} STARTED at ${System.nanoTime() / 1e9}%.3f")
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val p = e.progress
          import scala.jdk.CollectionConverters._
          val dur = p.durationMs.asScala.toSeq.sortBy(-_._2)
            .map { case (k, v) => s"$k=$v" }.mkString(" ")
          progress.add(s"  stream ${p.id.toString.take(8)} batch ${p.batchId} rows=${p.numInputRows} $dur")
          p.stateOperators.foreach { so =>
            progress.add(s"    state ${so.operatorName} rows=${so.numRowsTotal} " +
              s"updated=${so.numRowsUpdated} updateMs=${so.allUpdatesTimeMs} " +
              s"removeMs=${so.allRemovalsTimeMs} commitMs=${so.commitTimeMs}")
          }
        }
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
          progress.add(f"  stream ${e.id.toString.take(8)} TERMINATED at ${System.nanoTime() / 1e9}%.3f")
      })
    (1 to reps).foreach { r =>
      rows.clear()
      progress.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      val total = (System.nanoTime() - t0) / 1e9
      // listener events are async; give the bus a moment to drain
      Thread.sleep(500)
      println(f"== rep $r: $name total $total%.3f s (t0 ${t0 / 1e9}%.3f) ==")
      import scala.jdk.CollectionConverters._
      rows.asScala.toSeq.sortBy(_._1).foreach { case (id, ns, d) =>
        println(f"  job $id%4d ${ns / 1e9}%8.3f s  ${d.take(140)}")
      }
      progress.asScala.foreach(println)
    }
    spark.stop()
  }
}
