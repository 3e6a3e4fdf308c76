package graft

import org.apache.spark.sql.{GraftColumnBridge, SparkSession}

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

  /** Per (caller, overrides): the caller's conf the clone was made from,
    * and the clone. Keyed strongly, as `Tables.resolved` is: Spark's
    * clone keeps its parent reachable, so a weak key would never clear. */
  private val clones = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, Map[String, String]), (Map[String, String], SparkSession)]()

  /** `spark` with `overrides` set, for work that must run under them
    * while the caller's SQLConf stays as it is, whatever else runs on
    * the caller meanwhile. `spark` itself when its conf already holds
    * every override; otherwise Spark's own clone of `spark`, which
    * copies the caller's SQLConf, temp views and functions as they are
    * when the clone is made, and shares its SparkContext, cache manager
    * and catalog. The overrides are set on the clone once, when it is
    * made. A streaming query started on the clone is reported to the
    * caller's `streams` listeners as well as the clone's.
    *
    * Memoized: one clone per (caller, overrides), made again only when
    * the caller's conf has changed since, so a setting the caller makes
    * (a state-store provider, say) still reaches the work. In Spark 4
    * every clone has its own artifact state, hence its own executor
    * class loader, and the codegen cache is keyed by class loader: a
    * clone per call compiled every class of the work again (one clone
    * per stream start cost a full recompile of every drain). */
  def derived(spark: SparkSession, overrides: Map[String, String]): SparkSession = {
    val base = spark.conf.getAll
    if (overrides.forall { case (k, v) => base.get(k).contains(v) }) spark
    else clones.compute((spark, overrides), (_, memo) =>
      if (memo != null && memo._1 == base) memo
      else base -> {
        val clone = GraftColumnBridge.cloneSession(spark)
        overrides.foreach { case (k, v) => clone.conf.set(k, v) }
        GraftColumnBridge.reportStreamsTo(clone, spark)
        clone
      })._2
  }
}
