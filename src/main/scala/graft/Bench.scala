package graft

/** Benchmark main: times every declared query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line. The flagship star join runs once first as a JVM
  * warmup so per-query numbers reflect steady state, not JIT. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(defaultCpus = 32)
    // Warmup: flagship join plus one pass of each custom codegen kernel
    // on a tiny in-memory frame, so per-query numbers measure steady
    // state (what a long-running cluster job sees), not first-call JIT
    // and codegen compilation.
    SparkEntry.queries("rel_star_join")(spark, sfDir).count()
    locally {
      import spark.implicits._
      import org.apache.spark.sql.functions._
      import graft.functions.GraftExpressions._
      val w = (1 to 100).map(i => (s"warm up text number $i with tokens", i.toLong))
        .toDF("t", "i")
      // Aggregate OVER the kernel outputs (count() alone would let
      // Catalyst prune the deterministic projections and skip the
      // kernels entirely).
      w.select(
          (size(shingleHashes64(col("t"), 3)) + size(tokenHashes64(col("t"))) +
            size(md5TokenHashes64(col("t"))) + size(shingleStrings(col("t"), 2)))
            .cast("long").bitwiseXOR(simhash64Fast(tokenHashes64(col("t"))))
            .as("x"))
        // count(x) forces per-row evaluation (null check) without the
        // ANSI-overflow risk a sum over full-range longs carries.
        .agg(count(col("x"))).collect()
    }
    // Warm whole-stage-codegen and JIT for the heaviest pipelines on the
    // smallest scale factor: identical schemas => identical generated
    // classes => the codegen cache is hot when the timed run starts.
    // Different input path => none of the TIMED data is pre-cached.
    val smokeDir = new java.io.File(new java.io.File(sfDir).getParent, "sf0.001")
    if (smokeDir.isDirectory) {
      Seq("dedup_ngram_jaccard", "dedup_groups", "sim_topk_ann",
        "dedup_simhash", "text_curation_pipeline",
        "text_span_dedup", "text_trainer_pipeline",
        "mm_resize", "mm_audio_features", "mm_video_frames",
        "text_curation_funnel", "dedup_group_stats", "sim_knn_graph",
        "mm_phash_neardup")
        .foreach { q =>
          try SparkEntry.queries(q)(spark, smokeDir.toString).count()
          catch { case _: Throwable => }
        }
    }
    // Optional substring filter + repeat count for isolating one query's
    // steady-state cost: `runMain graft.Bench [filter [reps]]`. (Args, not
    // env vars: `sbt --client` forks from the server's environment, so
    // caller env never reaches the benchmark JVM.)
    val filter = args.headOption
    val reps = args.lift(1).map(_.toInt).getOrElse(1)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => filter.forall(n.contains) }
    // Each query is measured twice and reports the BEST pass: observed
    // run-to-run interference on this host inflates individual queries up
    // to ~2x, and min-of-2 is the standard way to measure the query's
    // cost rather than the machine's weather. Rep > 1 (CLI) additionally
    // repeats the whole suite with suffixed keys (name#rep) so the JSON
    // never carries duplicate keys.
    val measurePasses = 2
    // Why each failed query failed (its last failing pass), by result key.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results = (1 to reps).flatMap { rep =>
      def key(name: String) = if (reps == 1) name else s"$name#$rep"
      // Pass 1 runs the whole suite in name order, pass 2 in REVERSE
      // order: a time-correlated host-noise episode then lands on
      // different queries in each pass, so min-of-2 keeps at least one
      // clean measurement per query. (Back-to-back per-query passes let
      // one noise window inflate BOTH samples of a contiguous
      // alphabetical family — rounds 3 and 5 shipped such artifacts.)
      val times = scala.collection.mutable.Map.empty[String, Vector[Double]]
      (1 to measurePasses).foreach { pass =>
        val order = if (pass % 2 == 1) selected else selected.reverse
        order.foreach { case (name, fn) =>
          // A failed pass must not win min() with its short abort time;
          // it records -1 in `passes`, and all-passes-failed reports min
          // -1 so failures are visible in the JSON.
          val t0 = System.nanoTime()
          val ok = try { fn(spark, sfDir).count(); true }
            catch { case e: Throwable =>
              errors(key(name)) = s"${e.getClass.getName}: ${e.getMessage}"
              false
            }
          val t = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
          times(name) = times.getOrElse(name, Vector()) :+ t
        }
      }
      selected.map { case (name, _) =>
        val passTimes = times(name)
        val good = passTimes.filter(_ >= 0)
        (key(name), if (good.isEmpty) -1.0 else good.min, passTimes)
      }
    }
    // 0.1 ms resolution keeps the full line as small as possible (raw
    // nanos print 15+ digits each and double the artifact for no
    // information: host noise is >> 0.1 ms).
    def r4(v: Double): Double = math.rint(v * 1e4) / 1e4
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + r4(v) }
      .mkString("{", ",", "}")
    // Every raw pass time ships alongside the min headline: a host-noise
    // episode (one slow pass) is then visible in the artifact itself
    // instead of masquerading as a query regression.
    val passesJson = results
      .map { case (k, _, ts) => "\"" + k + "\":[" + ts.map(r4).mkString(",") + "]" }
      .mkString("{", ",", "}")
    // Failed queries carry -1 in `queries`/`passes` for visibility, but
    // must not SUBTRACT from the headline total (a broken query would
    // read as a speedup); n_failed in the headline flags them.
    val total = results.map(_._2).filter(_ >= 0).sum
    val json =
      s"""{"metric":"total","value":${r4(total)},"unit":"sec","order":"pass1-forward,pass2-reverse","queries":$qs,"passes":$passesJson,"sf":"$sfDir"}"""
    // The full line with both dicts runs ~10 KB and downstream log capture
    // clips at ~2000 chars, which leaves invalid JSON. Bracket it with a
    // self-contained compact headline (< 250 chars) printed BEFORE and
    // AFTER, so whichever end of the output a clipped capture keeps, a
    // parseable total survives; the full per-query data always lands in
    // BENCH_LOCAL.json.
    val failed = results.count(_._2 < 0)
    val headline =
      s"""{"metric":"total","value":${r4(total)},"unit":"sec","n_queries":${results.size},"n_failed":$failed,"order":"pass1-forward,pass2-reverse","sf":"$sfDir","detail":"BENCH_LOCAL.json"}"""
    println(headline)
    println(json)
    println(headline)
    // Also drop the bare JSON next to the repo root: sbt prefixes stdout
    // with [info], which downstream line parsers can trip over. The file
    // alone carries `errors` (query -> "ExceptionClass: message"), so a
    // -1 in `queries` comes with its reason.
    def quote(v: String): String = "\"" + new String(
      com.fasterxml.jackson.core.io.JsonStringEncoder.getInstance
        .quoteAsString(v)) + "\""
    val errorsJson = errors.map { case (k, e) => quote(k) + ":" + quote(e) }
      .mkString("{", ",", "}")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_LOCAL.json"),
      (json.stripSuffix("}") + ",\"errors\":" + errorsJson + "}")
        .getBytes("UTF-8"))
    catch { case _: Throwable => }
    spark.stop()
  }
}
