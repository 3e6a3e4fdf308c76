package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession the mains (Bench, BenchScale, Verify, Explain,
  * Prof) run on, so a plan printed by Explain is the plan Bench times:
  * `local[cpus]` with `spark.sql.shuffle.partitions` = cpus, AQE on, UTC
  * session time (the NTZ event-time cast is exact only under UTC), no UI,
  * WARN logging. `cpus` is `SPARK_GRAFT_CPUS`, else `defaultCpus`. */
object Sessions {
  def local(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
