package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QuerySpec, Tables}

/** Second relational tier: operators beyond the round-1 surface — temporal
  * joins (as-of), range/band joins, CUBE, INTERSECT/UNION, pivot/unpivot,
  * analytic window frames (lag + running sums + ntile), deterministic hash
  * sampling, exact percentiles, full-outer joins, histograms.
  *
  * Scale rules follow operators/Relational.scala: declarative plans,
  * broadcast for small dims, exact integer cents for money, one shuffle per
  * logical repartitioning. Per-operator scale notes inline.
  */
object RelationalExt {

  private def cents(c: Column): Column = round(c * 100).cast("long")
  private val centsSql = (x: String) => s"CAST(ROUND($x*100) AS BIGINT)"

  // ---------------------------------------------------------------------------
  // Temporal as-of join
  // ---------------------------------------------------------------------------

  /** As-of join: each event picks the latest order of the same key with
    * o_orderdate <= ts. Implemented as the scalable union+window pattern —
    * tag both inputs, union, one shuffle on the key, sort by (time, tag),
    * then `last_value(..., ignoreNulls)` over an unbounded-preceding frame
    * carries the most recent order onto every event row. This is a
    * sort-merge as-of: no point lookups, no N×M expansion, works at any
    * scale where a sort-merge join works. Orders are deduped per
    * (key, date) keeping the max orderkey so ties are deterministic. */
  /** Core as-of machinery over arbitrary frames: `left` rows (key, t,
    * leftId) each pick the right-side row of the same key with the
    * greatest time <= t (ties on (key, time) resolved toward the max
    * rightId — deterministic). Returns (leftId, key, t, rightId, rightVal)
    * with nulls when nothing precedes. */
  def asofJoin(left: DataFrame, lKey: String, lTime: String, lId: String,
      right: DataFrame, rKey: String, rTime: String, rId: String,
      rVal: String): DataFrame = {
    val r = right
      .groupBy(col(rKey), col(rTime))
      .agg(max(struct(col(rId), col(rVal))).as("o"))
      .select(col(rKey).as("k"), col(rTime).cast("timestamp").as("t"),
        lit(1).as("is_right"), col(s"o.$rId").as("r_id"),
        col(s"o.$rVal").as("r_val"), lit(null).cast("long").as("l_id"))
    val l = left
      .select(col(lKey).as("k"), col(lTime).cast("timestamp").as("t"),
        lit(0).as("is_right"), lit(null).cast("long").as("r_id"),
        lit(null).cast("double").as("r_val"), col(lId).as("l_id"))
    val w = Window.partitionBy(col("k"))
      .orderBy(col("t").asc, col("is_right").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r.unionByName(l)
      .withColumn("asof_id", last(col("r_id"), ignoreNulls = true).over(w))
      .withColumn("asof_val", last(col("r_val"), ignoreNulls = true).over(w))
      .filter(col("is_right") === 0)
      .select(col("l_id"), col("k"), col("t"), col("asof_id"), col("asof_val"))
  }

  def joinAsof(s: SparkSession, dir: String): DataFrame =
    asofJoin(
      Tables.events(s, dir), "user_id", "ts", "event_id",
      Tables.orders(s, dir), "o_custkey", "o_orderdate", "o_orderkey",
      "o_totalprice")
      .select(col("l_id").as("event_id"), col("k").as("user_id"),
        date_format(col("t"), "yyyy-MM-dd HH:mm:ss").as("ts_str"),
        col("asof_id").as("asof_orderkey"), col("asof_val").as("asof_totalprice"))
      .orderBy(col("event_id"))

  // ---------------------------------------------------------------------------
  // Range (band) join
  // ---------------------------------------------------------------------------

  private val bands: Seq[(Int, String, Int, Int)] = Seq(
    (1, "low", 0, 9), (2, "mid", 10, 24), (3, "high", 25, 50))

  /** Band join: fact rows against a tiny interval dimension on
    * lo <= qty <= hi. The dim is broadcast, so the physical plan is a
    * BroadcastNestedLoopJoin over 3 rows — O(n·bands) with zero shuffle on
    * the fact side; the group-by on band is the only exchange. At 100 TB
    * the same plan holds as long as the band table stays driver-small. */
  def joinRange(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim = bands.toDF("band_id", "band_name", "lo", "hi")
    Tables.lineitem(s, dir)
      .join(broadcast(dim),
        col("l_quantity") >= col("lo") && col("l_quantity") <= col("hi"))
      .groupBy(col("band_id"), col("band_name"))
      .agg(count(lit(1)).as("n_items"), sum(cents(col("l_quantity"))).as("qty_c"))
      .select(col("band_id"), col("band_name"), col("n_items"),
        (col("qty_c") / 100.0).as("sum_qty"))
      .orderBy(col("band_id"))
  }

  // ---------------------------------------------------------------------------
  // CUBE / pivot / unpivot
  // ---------------------------------------------------------------------------

  /** CUBE over (returnflag, linestatus): all 2^2 grouping sets in one pass
    * (Catalyst plans one Expand + one aggregate — not 4 scans). */
  def aggCube(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(cents(col("l_quantity"))).as("qty_c"), count(lit(1)).as("n_items"))
      .select(col("l_returnflag"), col("l_linestatus"),
        (col("qty_c") / 100.0).as("sum_qty"), col("n_items"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Pivot linestatus (explicit category list => static schema; at scale an
    * implicit pivot would need an extra distinct pass) into per-flag
    * columns. */
  def pivotStatus(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(cents(col("l_quantity"))))
      .select(col("l_returnflag"),
        (coalesce(col("F"), lit(0L)) / 100.0).as("qty_f"),
        (coalesce(col("O"), lit(0L)) / 100.0).as("qty_o"))
      .orderBy(col("l_returnflag"))

  /** Unpivot (wide → long): part metrics to (metric, val) rows — the
    * inverse reshape, one Expand node, no shuffle. */
  def unpivotPart(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(col("p_partkey"), col("p_size").cast("double").as("p_size"),
        col("p_retailprice"))
      .unpivot(Array(col("p_partkey")), "metric", "val")
      .orderBy(col("p_partkey"), col("metric"))

  // ---------------------------------------------------------------------------
  // Set operations (INTERSECT / UNION distinct)
  // ---------------------------------------------------------------------------

  def setOpIntersect(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    ev.filter(col("event_type") === "purchase" && col("value") > 90)
      .select(col("user_id"))
      .intersect(ev.filter(col("event_type") === "error" && col("value") > 90)
        .select(col("user_id")))
      .orderBy(col("user_id"))
  }

  def setOpUnion(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    ev.filter(col("event_type") === "purchase" && col("value") > 95)
      .select(col("user_id"))
      .union(ev.filter(col("event_type") === "signup" && col("value") > 95)
        .select(col("user_id")))
      .distinct()
      .orderBy(col("user_id"))
  }

  // ---------------------------------------------------------------------------
  // Analytic window frames
  // ---------------------------------------------------------------------------

  /** Lag + running sum + ntile in one window pass per customer: one shuffle
    * on o_custkey, one sort, all three functions share the frame. Money in
    * exact cents so running sums are associative and engine-stable. */
  def windowAnalytics(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        cents(col("o_totalprice")).as("price_c"),
        lag(cents(col("o_totalprice")), 1).over(w).as("prev_price_c"),
        sum(cents(col("o_totalprice"))).over(wRun).as("running_c"),
        ntile(4).over(w).cast("long").as("quartile"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** RANGE window frame (value-based, not row-count-based): each order
    * aggregates the same customer's orders within the trailing 90 days —
    * the time-sliding per-entity feature a feature-store pipeline
    * computes. One shuffle on the key; the range frame is evaluated over
    * the sorted run without re-sorting per row. */
  def windowRangeFrame(s: SparkSession, dir: String): DataFrame = {
    val epochS = unix_timestamp(col("o_orderdate"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(epochS)
      .rangeBetween(-90L * 86400, 0)
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), epochS.as("t"),
        count(lit(1)).over(w).as("n_90d"),
        sum(cents(col("o_totalprice"))).over(w).as("spend_90d_c"))
      .select(col("o_custkey"), col("o_orderkey"), col("n_90d"),
        col("spend_90d_c"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Conditional / null-handling scalar surface: CASE, coalesce, nullif,
    * least/greatest — one codegen pass. */
  def conditionalFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(
        col("event_id"),
        when(col("value") >= 50, "high").when(col("value") >= 10, "mid")
          .otherwise("low").as("band"),
        coalesce(nullif(col("event_type"), lit("error")), lit("redacted"))
          .as("type_or_redacted"),
        least(col("value"), col("user_id").cast("double")).as("lo"),
        greatest(col("value"), col("user_id").cast("double")).as("hi"))
      .orderBy(col("event_id"))

  // ---------------------------------------------------------------------------
  // Deterministic hash sampling
  // ---------------------------------------------------------------------------

  /** Hash-threshold sampling: md5(key) first hex digit = '0' keeps an
    * unbiased ~1/16 sample that is reproducible across engines, runs and
    * partitionings — unlike `TABLESAMPLE`/`rand()`, which are seed- and
    * partition-dependent. This is the sampling primitive a 100 TB pipeline
    * uses for eval splits (the filter pushes to the scan and needs no
    * shuffle at all). */
  def sampleHash(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(substring(md5(col("o_orderkey").cast("string")), 1, 1) === "0")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))

  /** Bit-reproducible second-moment statistics — correlation, sample
    * covariance and sample standard deviations between quantity and
    * price per return flag, from EXACT integer moments. The built-in
    * `corr`/`covar_samp` accumulate doubles whose merge order varies
    * with partitioning (different cluster layout → different last-ulp
    * result → a broken differential gate and non-reproducible feature
    * pipelines); here the six moments (n, Σx, Σy, Σxy, Σx², Σy²) are
    * summed as DECIMAL(38,0) over integer units/cents (per-row products
    * stay far under 2^63; DuckDB's BIGINT sums widen to HUGEINT the
    * same way), and the float math is a FIXED final formula over six
    * exact numbers — identical on any partitioning, any engine. The
    * aggregation itself is one map-side-combinable groupBy on a
    * three-value key.
    *
    * Headroom: the final n·Σy² product is the widest value — at
    * trillion-row groups of 1e7-cent prices it approaches DECIMAL(38)'s
    * ceiling. Under ANSI mode Spark fails loudly there, but under the
    * DEFAULT non-ANSI mode an overflowing decimal product silently
    * becomes NULL — a null correlation column that could pass unnoticed
    * — so [[corrFinalize]] carries an explicit `assert_true` guard that
    * turns the overflow into an error on EITHER mode; the remedies are
    * unit rescaling or sharding the moment fold (the
    * [[streamAggCorrQuery]] slice shape) so each product stays small. */
  def aggCorr(s: SparkSession, dir: String): DataFrame =
    aggCorrOf(Tables.lineitem(s, dir))

  /** The moment pipeline over any lineitem-shaped frame — factored so
    * the partitioning-invariance test feeds a reshuffled input through
    * the EXACT production plan. */
  private[graft] def aggCorrOf(lineitem: DataFrame): DataFrame =
    corrFinalize(corrMoments(lineitem))

  /** The six exact moments per return flag — a commutative MONOID
    * (decimal sums), so any partial aggregation (map-side combine, or
    * per-micro-batch slices folded later by [[corrFinalize]]) lands on
    * the identical exact numbers. */
  private[graft] def corrMoments(lineitem: DataFrame): DataFrame = {
    val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val x = round(col("l_quantity")).cast("long")
    val y = cents(col("l_extendedprice"))
    lineitem.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(x.cast(d38)).as("sx"), sum(y.cast(d38)).as("sy"),
        sum((x * y).cast(d38)).as("sxy"),
        sum((x * x).cast(d38)).as("sxx"),
        sum((y * y).cast(d38)).as("syy"))
  }

  /** Fold moment rows (one or many slices per flag) and apply the ONE
    * fixed double formula at the very end. The assert_true filter makes
    * DECIMAL(38) product overflow LOUD under non-ANSI mode too (where it
    * would otherwise null the products silently — see the headroom note
    * on [[aggCorr]]): a non-empty group whose widest products came back
    * null can only be a wrapped moment, and the row must not ship. */
  private[graft] def corrFinalize(moments: DataFrame): DataFrame = {
    val m = foldMoments(moments)
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val varx = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val vary = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    val nn1 = (col("n") * (col("n") - 1)).cast("double")
    m.select(col("l_returnflag"), col("n").cast("long").as("n"),
        (num / (sqrt(varx) * sqrt(vary))).as("corr_qty_price"),
        (num / nn1).as("covar_qty_price"),
        sqrt(varx / nn1).as("std_qty"),
        sqrt(vary / nn1).as("std_price"))
      .orderBy(col("l_returnflag"))
  }

  /** Fold per-flag moment slices into one guarded row per flag — the
    * shared front half of [[corrFinalize]] and [[olsFinalize]], carrying
    * the non-ANSI overflow guard (see [[aggCorr]]'s headroom note). */
  private def foldMoments(moments: DataFrame): DataFrame =
    moments.groupBy(col("l_returnflag"))
      .agg(sum(col("n")).as("n"), sum(col("sx")).as("sx"),
        sum(col("sy")).as("sy"), sum(col("sxy")).as("sxy"),
        sum(col("sxx")).as("sxx"), sum(col("syy")).as("syy"))
      .filter(assert_true(
        col("n") === 0 ||
          ((col("n") * col("sxx")).isNotNull &&
            (col("n") * col("syy")).isNotNull &&
            (col("n") * col("sxy")).isNotNull &&
            (col("sx") * col("sy")).isNotNull),
        lit("foldMoments: DECIMAL(38,0) moment product overflowed — " +
          "rescale units or shard the moment fold")).isNull)

  /** Bit-reproducible ORDINARY LEAST SQUARES — the per-flag linear fit
    * price = slope·quantity + intercept with its R², finalized from the
    * SAME six exact integer moments as [[aggCorr]] (the monoid the
    * streaming fold already ships): slope = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²),
    * intercept = (Σy − slope·Σx)/n, R² = num²/(varx·vary) — each a
    * FIXED double formula over exact decimals, so the fit is identical
    * on any partitioning and any engine, which is what a feature
    * pipeline needs before it ships model coefficients computed on a
    * cluster. Cents→dollars is one final division. */
  def aggOls(s: SparkSession, dir: String): DataFrame =
    olsFinalize(corrMoments(Tables.lineitem(s, dir)))

  private[graft] def olsFinalize(moments: DataFrame): DataFrame = {
    val m = foldMoments(moments)
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val varx = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val vary = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    val slope = num / varx
    val intercept = (col("sy").cast("double") - slope * col("sx").cast("double")) /
      col("n").cast("double")
    m.select(col("l_returnflag"), col("n").cast("long").as("n"),
        (slope / 100.0).as("slope_price_per_qty"),
        (intercept / 100.0).as("intercept_price"),
        ((num * num) / (varx * vary)).as("r2"))
      .orderBy(col("l_returnflag"))
  }

  /** The exact moments accumulated IN-STREAM — the bit-reproducibility
    * story in streaming form: each micro-batch writes its per-flag
    * moment slice (six decimal sums — a monoid), and the final read
    * folds all slices before the single double formula. Because integer
    * addition is associative and commutative, ANY batching of the input
    * produces bit-identical statistics — which is exactly what the
    * float-accumulating built-ins cannot promise — so the twin carries
    * rel_agg_corr's oracle text VERBATIM. */
  def streamAggCorrQuery(spark: SparkSession, dir: String): DataFrame = {
    // Project on the STREAM side (guide §2.3): foreachBatch hands the body
    // a materialized RDD of the source's output, so a select inside the
    // body can never prune the parquet scan — un-projected, every batch
    // decoded all 11 lineitem columns to aggregate 3 (plan-checked:
    // the body sees `Scan ExistingRDD`, full width). The stream-side
    // select puts the projection in the source plan where it reaches the
    // scan's ReadSchema.
    val stream = Tables.stream(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
    corrFinalize(graft.streaming.MicroBatchPipeline
      .drainToSlices(stream, "scorr")(corrMoments))
  }

  // ---------------------------------------------------------------------------
  // Exact percentiles / distinct aggregation / histogram / full outer join
  // ---------------------------------------------------------------------------

  /** MERGE/upsert semantics expressed relationally: a base table merged
    * with a changes table — matched keys take the change's values,
    * unmatched keys pass through, new keys insert. The reference only
    * ever APPENDED (`if_exists="append"`); this is the compaction path a
    * real warehouse needs. One full-outer join on the key = one shuffle
    * each side; at scale both sides are bucketed on the key so the merge
    * is exchange-free. The changes table here is derived (urgent orders
    * get a 10% price bump) so the query is self-contained. */
  def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"),
        col("o_orderstatus"))
    val changes = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("c_key"),
        // integer `div`, not `/`: exact long arithmetic; the cents
        // conversion reuses the shared centsSql fragment (valid Spark SQL
        // too), so the money-rounding rule has one definition.
        expr(s"${centsSql("o_totalprice")} + ${centsSql("o_totalprice")} div 10")
          .as("new_price_c"),
        lit("U").as("new_status"))
    base.join(changes, col("o_orderkey") === col("c_key"), "full_outer")
      .select(
        coalesce(col("o_orderkey"), col("c_key")).as("o_orderkey"),
        coalesce(col("new_price_c"), col("price_c")).as("price_c"),
        coalesce(col("new_status"), col("o_orderstatus")).as("status"))
      .orderBy(col("o_orderkey"))
  }

  /** Latest-row-per-key compaction (the upsert READ path / SCD-1 view):
    * each customer's most recent order wins, ties broken by orderkey.
    * max_by-style struct max => one map-side-combinable aggregation, no
    * window sort. */
  def latestPerKey(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(max(struct(col("o_orderdate"), col("o_orderkey"),
        cents(col("o_totalprice")).as("price_c"))).as("m"))
      .select(col("o_custkey"), col("m.o_orderkey").as("latest_orderkey"),
        date_format(col("m.o_orderdate"), "yyyy-MM-dd").as("latest_date"),
        col("m.price_c").as("latest_price_c"))
      .orderBy(col("o_custkey"))

  /** SCD-2 validity intervals: each order version of a customer carries
    * [valid_from, valid_to) derived with LEAD over the version order —
    * the standard dimension-history reshape, one window pass. */
  def scd2Intervals(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("valid_from"),
        coalesce(
          date_format(lead(col("o_orderdate"), 1).over(w), "yyyy-MM-dd"),
          lit("9999-12-31")).as("valid_to"),
        (lead(col("o_orderdate"), 1).over(w).isNull).cast("long").as("is_current"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Stratified hash sampling: per-class rates (1/16 of common views,
    * 1/4 of rare errors) — the rare-class upweighting a training-data
    * pipeline applies when building eval splits. Same md5-threshold
    * mechanism as sampleHash, so strata are engine- and run-reproducible;
    * the class→rate map is a literal CASE, pushable into one scan pass. */
  def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    val digit = substring(md5(col("event_id").cast("string")), 1, 1)
    val keep = when(col("event_type") === "error", digit.isin("0", "1", "2", "3"))
      .otherwise(digit === "0")
    Tables.events(s, dir)
      .filter(keep)
      .select(col("event_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  /** Exact interpolated percentiles per group. Exact `percentile` sorts
    * per group — fine for low-cardinality groups; a 100 TB run over
    * high-cardinality groups switches to `approx_percentile` (KLL-style
    * mergeable sketch, same call shape). Quantity values are integers so
    * the 0.25-step interpolations are exactly representable doubles. */
  def percentiles(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))").as("p"))
      .select(col("l_returnflag"),
        element_at(col("p"), 1).as("p25"),
        element_at(col("p"), 2).as("p50"),
        element_at(col("p"), 3).as("p75"))
      .orderBy(col("l_returnflag"))

  /** Multi-distinct aggregation (Expand-based plan): exact distinct users
    * and days per event type. At 100 TB the same query downgrades to
    * approx_count_distinct (HLL) with one config change; exact is kept
    * here because the oracle is exact. */
  def aggDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        countDistinct(date_format(col("ts"), "yyyy-MM-dd")).as("n_days"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  /** Fixed-width histogram: integer bucketing + count — the classic
    * map-side-combinable profile query. */
  def histogram(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(floor(col("o_totalprice") / 50000.0).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        min(cents(col("o_totalprice"))).as("min_c"),
        max(cents(col("o_totalprice"))).as("max_c"))
      .orderBy(col("bucket"))

  /** Full outer join: per-user event activity against the customer
    * dimension — keys on either side may be absent; coalesce resolves the
    * output key. Shuffle on the join key both sides (sort-merge). */
  def joinFullOuter(s: SparkSession, dir: String): DataFrame = {
    val act = Tables.events(s, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
      .join(act, col("c_custkey") === col("user_id"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("user_id")).as("uid"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("c_mktsegment"))
      .orderBy(col("uid"))
  }

  /** Array aggregation: per-customer sorted order-key list. collect_list
    * is partition-order dependent, so the engine contract is ALWAYS
    * sort_array(collect_list(...)) — deterministic across retries and
    * layouts; serialized to a string for cross-engine comparison. */
  def arrayAgg(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        array_join(sort_array(collect_list(col("o_orderkey"))), ",")
          .as("orderkeys"))
      .orderBy(col("o_custkey"))

  /** Date/time arithmetic surface: extraction, offsets, differences —
    * the scalar toolkit timestamp-heavy pipelines lean on. All pure
    * per-row expressions inside whole-stage codegen. */
  def dateArith(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_linenumber") === 1)
      .select(
        col("l_orderkey"),
        year(col("l_shipdate")).cast("long").as("ship_year"),
        month(col("l_shipdate")).cast("long").as("ship_month"),
        quarter(col("l_shipdate")).cast("long").as("ship_quarter"),
        dayofweek(col("l_shipdate")).cast("long").as("ship_dow"),
        date_format(date_add(col("l_shipdate"), 30), "yyyy-MM-dd").as("due_date"),
        datediff(col("l_shipdate"), lit("1995-01-01").cast("date"))
          .cast("long").as("days_since_95"))
      .orderBy(col("l_orderkey"))

  /** String-function surface: case mapping, slicing, padding, search,
    * trim/replace — one pass, codegen, oracle-identical semantics. */
  def stringFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        lower(col("p_type")).as("type_l"),
        substring(col("p_name"), 1, 8).as("name_head"),
        lpad(col("p_partkey").cast("string"), 10, "0").as("key_padded"),
        instr(col("p_type"), "BRASS").cast("long").as("brass_pos"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("name_novowel"),
        length(col("p_name")).cast("long").as("name_len"))
      .orderBy(col("p_partkey"))

  /** Top-k per group via the custom bounded TypedImperativeAggregate —
    * the scale path for ranking: only k×groups entries cross the shuffle
    * (map-side bounded buffers), where the window row_number form
    * shuffles and sorts every input row. Output and oracle are identical
    * to rel_window_top_per_group, proving the rewrite. */
  def topKGrouped(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .groupBy(col("c_nationkey"))
      .agg(graft.functions.TopKAggregate.topkByScore(
        col("c_acctbal"), col("c_custkey"), 3).as("top"))
      .select(col("c_nationkey").cast("long").as("c_nationkey"),
        posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("c_nationkey"), col("e.id").as("c_custkey"),
        col("e.score").as("c_acctbal"), (col("pos") + 1).cast("long").as("rn"))
      .orderBy(col("c_nationkey"), col("rn"))

  /** Correlated scalar subqueries through the SQL entry point: customers
    * whose balance beats their nation's average. Catalyst decorrelates
    * both subqueries into aggregate+join plans — this declares the
    * engine's SQL-text surface (`spark.sql`), not just the DataFrame DSL.
    * The comparison is pure integer algebra (cents × count vs sum of
    * cents), so the predicate is partition-order independent — comparing
    * against a floating AVG would be nondeterministic at the boundary. */
  def subqueryScalar(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer_v")
    s.sql("""
      SELECT c_custkey, c_acctbal FROM customer_v c
      WHERE CAST(ROUND(c_acctbal*100) AS BIGINT) *
            (SELECT COUNT(*) FROM customer_v c2
             WHERE c2.c_nationkey = c.c_nationkey)
          > (SELECT SUM(CAST(ROUND(c2.c_acctbal*100) AS BIGINT))
             FROM customer_v c2 WHERE c2.c_nationkey = c.c_nationkey)
      ORDER BY c_custkey""")
  }

  /** Mergeable-sketch surface with an oracle-checkable contract: the
    * sketches themselves (HLL distinct count, KLL-ish quantile) are
    * approximate, so the declared output carries the EXACT values plus
    * within-tolerance flags. Sketches are deterministic for fixed input,
    * so the flags are stable constants the oracle asserts as 1 — if a
    * sketch ever drifts outside its advertised error, the hash compare
    * fails. At 100 TB these sketches replace their exact counterparts
    * (both are one map-side-combinable aggregation; the sketch's state is
    * O(1) per group instead of O(distinct)). */
  def approxSketches(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_exact"),
        // rsd is a STANDARD DEVIATION, not a bound: flag at 4x rsd so
        // normal sketch excursions never trip it (verified at sf0.01 and
        // sf0.1 — the 5%-rsd sketch with a 1x flag failed at sf0.1).
        approx_count_distinct(col("user_id"), 0.01).as("n_approx"),
        expr("percentile(value, 0.5D)").as("p50_exact"),
        expr("approx_percentile(value, 0.5D, 1000)").as("p50_approx"))
      .select(col("event_type"), col("n_exact"), col("p50_exact"),
        (abs(col("n_approx") - col("n_exact")) <=
          col("n_exact") * 0.04).cast("long").as("hll_within_4pct"),
        (abs(col("p50_approx") - col("p50_exact")) <=
          lit(1.0)).cast("long").as("kll_within_1"))
      .orderBy(col("event_type"))

  /** Schema-evolution union: two generations of the events schema (one
    * without `value`, one with a new `channel` column) unioned BY NAME
    * with missing columns null-filled — the append-compatibility
    * operation a long-lived warehouse performs every time a producer
    * adds a field. */
  def unionEvolved(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val gen1 = ev.filter(col("event_id") % 2 === 0)
      .select(col("event_id"), col("event_type"))
    val gen2 = ev.filter(col("event_id") % 2 === 1)
      .select(col("event_id"), col("event_type"), col("value"),
        lit("web").as("channel"))
    gen1.unionByName(gen2, allowMissingColumns = true)
      .orderBy(col("event_id"))
  }

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * match NULL keys — the semantics dimension-conforming joins need
    * when "unknown" is itself a key. Keys are derived (error→NULL) since
    * the base data is null-free. */
  def joinNullSafe(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), nullif(col("event_type"), lit("error")).as("k"))
    val dim = ev.select(col("k")).distinct()
      .withColumn("k_label", coalesce(col("k"), lit("unknown")))
    ev.join(dim, ev("k") <=> dim("k"))
      .select(col("event_id"), col("k_label"))
      .orderBy(col("event_id"))
  }

  /** Regex-group extraction + positional split + character translation —
    * the string-mangling trio ETL normalizers lean on. */
  def regexExtract(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(
        col("p_partkey"),
        regexp_extract(col("p_name"), "^([a-z]+) ([a-z]+)", 2).as("second_word"),
        element_at(split(col("p_type"), " "), 1).as("type_head"),
        translate(col("p_brand"), "#", "-").as("brand_dashed"))
      .orderBy(col("p_partkey"))

  /** Skew-safe two-phase aggregation as a declared query: event_type has
    * only 5 values, so a naive GROUP BY funnels 600k rows into 5 reducers;
    * saltedSum pre-aggregates on (key, salt) across 32 reducers first and
    * then combines 5x32 partials — the oracle proves the rewrite is
    * result-identical to the direct GROUP BY (exact integer cents make
    * the two-phase sum associative). */
  def aggSalted(s: SparkSession, dir: String): DataFrame =
    graft.functions.Scale.saltedSum(
        Tables.events(s, dir), Seq("event_type"),
        round(col("value") * 100).cast("long"), "value_c",
        saltFrom = col("event_id"), buckets = 32)
      .select(col("event_type"), col("sum_value_c"), col("n_rows"))
      .orderBy(col("event_type"))

  // ---------------------------------------------------------------------------

  import graft.QuerySpec.withOracle

  /** Ranking-function surface in one window pass: rank / dense_rank /
    * percent_rank / cume_dist over a deliberately coarse key (price
    * bucket) so ties are real and the four functions genuinely differ.
    * All four are tie-insensitive (peers share values), so the output is
    * deterministic without a unique tiebreak; percent_rank and cume_dist
    * are single IEEE divisions of exact integer counts. */
  def windowRanks(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir).select(
      col("o_orderkey"), col("o_custkey"),
      floor(col("o_totalprice") / 1000).cast("long").as("price_bucket"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("price_bucket"))
    base
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("drnk", dense_rank().over(w).cast("long"))
      .withColumn("prnk", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .orderBy(col("o_orderkey"))
  }

  // ---------------------------------------------------------------------------
  // Event analytics: ordered funnel + cohort retention
  // ---------------------------------------------------------------------------

  /** The ordered funnel's step sequence (part of the declared semantics,
    * replayed by the oracle). */
  val FunnelSteps: Seq[String] = Seq("view", "click", "purchase")

  /** Ordered conversion funnel: a user reaches step i+1 only with an
    * event of that type STRICTLY AFTER their step-i time (first-touch at
    * each step). Emits per-step user counts and conversion vs step 1.
    * Scale shape: one filtered groupBy per step, every shuffle co-keyed
    * on user_id so AQE coalesces the exchanges; the per-step counts are
    * 1-row aggregates crossed with the 1-row base — no events collect.
    * Funnels are inherently sequential in their steps, so three co-keyed
    * passes IS the minimal plan shape (a single-pass per-user sort would
    * need the whole event list per user in memory). */
  def eventFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val s1 = ev.filter(col("event_type") === FunnelSteps(0))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = ev.filter(col("event_type") === FunnelSteps(1))
      .join(s1, "user_id").filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val s3 = ev.filter(col("event_type") === FunnelSteps(2))
      .join(s2, "user_id").filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    def cnt(df: DataFrame, step: Long): DataFrame =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(step).as("step"),
          lit(FunnelSteps((step - 1).toInt)).as("event_type"), col("n_users"))
    val base = s1.agg(count(lit(1)).as("n0"))
    cnt(s1, 1L).unionByName(cnt(s2, 2L)).unionByName(cnt(s3, 3L))
      .crossJoin(base)
      .select(col("step"), col("event_type"), col("n_users"),
        (col("n_users").cast("double") / col("n0")).as("conv_rate"))
      .orderBy(col("step"))
  }

  /** Weekly cohort retention: cohort = ISO week of a user's FIRST event
    * (any type); a cohort member is active at offset k if they have any
    * event in cohort_week + k weeks. Offsets are exact integer day
    * arithmetic (datediff div 7 — both engines truncate Mondays the same
    * way), retention a ratio of longs. Two co-keyed shuffles (first-seen
    * agg, activity join) + one distinct on the already-small (cohort,
    * offset, user) key — the standard scalable cohort plan. */
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"), col("ts"))
    val cohort = ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"))
      .select(col("user_id"), date_trunc("week", col("first_ts")).as("cw"))
    val sizes = cohort.groupBy(col("cw")).agg(count(lit(1)).as("cohort_size"))
    ev.join(cohort, "user_id")
      .select(col("user_id"), col("cw"),
        expr("CAST(datediff(date_trunc('week', ts), cw) div 7 AS BIGINT)")
          .as("week_offset"))
      .distinct()
      .groupBy(col("cw"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, "cw")
      .select(date_format(col("cw"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"), col("n_active"),
        (col("n_active").cast("double") / col("cohort_size")).as("retention"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** OHLC candle bars — the reference domain's headline aggregate (its
    * whole pipeline exists to land BPI price points; candles are what a
    * consumer builds from them): hourly buckets over purchase events with
    * open/close picked by struct-min/max over (ts, event_id, value) —
    * deterministic under ties because event_id is unique — high/low as
    * plain extrema, volume as the exact integer-cents sum. ONE groupBy,
    * every aggregate partial-aggregable map-side (min/max of structs
    * included), so the bar build is a single shuffle on bar_ts at any
    * scale. */
  def ohlcBars(s: SparkSession, dir: String): DataFrame = {
    val trades = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(date_trunc("hour", col("ts")).as("bar_ts"),
        col("ts"), col("event_id"), col("value"))
    trades.groupBy(col("bar_ts"))
      .agg(
        min(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("close"),
        count(lit(1)).as("n_trades"),
        sum(cents(col("value"))).as("volume_c"))
      .select(date_format(col("bar_ts"), "yyyy-MM-dd HH:mm:ss").as("bar_ts"),
        col("open"), col("high"), col("low"), col("close"),
        col("n_trades"), (col("volume_c") / 100.0).as("volume"))
      .orderBy(col("bar_ts"))
  }

  /** TWAP — time-weighted average price per hourly bar: each trade's
    * price is weighted by its holding duration (micros until the next
    * trade in the bar; the last trade carries to the bar end). The whole
    * computation is integer until the final division — price in cents,
    * durations in epoch micros, numerator Σ cents·µs in a long (≲1e17 at
    * a trade-per-second density, far under 2^63) — so partial sums are
    * associative and the result replays bit-exactly: one window pass for
    * the lead, one partial-aggregable groupBy. */
  def twapBars(s: SparkSession, dir: String): DataFrame = {
    val trades = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(date_trunc("hour", col("ts")).as("bar_ts"),
        col("ts"), col("event_id"), cents(col("value")).as("pc"))
    val w = Window.partitionBy(col("bar_ts"))
      .orderBy(col("ts"), col("event_id"))
    trades
      .withColumn("t_us", unix_micros(col("ts")))
      .withColumn("next_us",
        coalesce(lead(col("t_us"), 1).over(w),
          unix_micros(col("bar_ts")) + lit(3600000000L)))
      .withColumn("dur_us", col("next_us") - col("t_us"))
      .groupBy(col("bar_ts"))
      .agg(sum(col("pc") * col("dur_us")).as("num"),
        sum(col("dur_us")).as("den"),
        count(lit(1)).as("n_trades"))
      .select(date_format(col("bar_ts"), "yyyy-MM-dd HH:mm:ss").as("bar_ts"),
        col("n_trades"),
        (col("num").cast("double") / col("den") / 100.0).as("twap"))
      .orderBy(col("bar_ts"))
  }

  /** Gap-filled candle series — the chart-ready form of [[ohlcBars]]:
    * every hour between the first and last trade gets a row, tradeless
    * hours carry the last known close forward (the market convention) and
    * flag `is_gap`. The hour spine is CALENDAR-sized (8760 rows/year —
    * driver-trivial at any data scale), so the one unpartitioned
    * forward-fill window runs over the spine, never the trades; the trade
    * scan itself is the same single groupBy as the bars. */
  def ohlcGapfill(s: SparkSession, dir: String): DataFrame = {
    val trades = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(date_trunc("hour", col("ts")).as("bar_ts"),
        col("ts"), col("event_id"), col("value"))
    val bars = trades.groupBy(col("bar_ts"))
      .agg(max(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("close"),
        count(lit(1)).as("n_trades"))
    val spine = bars.agg(min(col("bar_ts")).as("lo"), max(col("bar_ts")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 hour"))).as("bar_ts"))
    val w = Window.orderBy(col("bar_ts"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(bars, Seq("bar_ts"), "left")
      .withColumn("close_ff", last(col("close"), ignoreNulls = true).over(w))
      .select(date_format(col("bar_ts"), "yyyy-MM-dd HH:mm:ss").as("bar_ts"),
        coalesce(col("n_trades"), lit(0L)).as("n_trades"),
        col("close_ff").as("close"),
        col("close").isNull.as("is_gap"))
      .orderBy(col("bar_ts"))
  }

  /** Per-bar simple returns + running-peak drawdown — the risk readout
    * over the candle closes: ret = close/prev_close − 1 (null on the
    * first bar), peak = running max close, drawdown = (peak−close)/peak.
    * Every value is a ratio or max of already-oracle-pinned doubles —
    * division and max are order-independent, so the replay is bit-exact.
    * Both windows run over the CALENDAR-sized bar series, never the
    * trades (same adjudication as [[ohlcGapfill]]). */
  def barReturns(s: SparkSession, dir: String): DataFrame = {
    val trades = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(date_trunc("hour", col("ts")).as("bar_ts"),
        col("ts"), col("event_id"), col("value"))
    val bars = trades.groupBy(col("bar_ts"))
      .agg(max(struct(col("ts"), col("event_id"), col("value")))
        .getField("value").as("close"))
    val wLag = Window.orderBy(col("bar_ts"))
    val wPeak = Window.orderBy(col("bar_ts"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bars
      .withColumn("prev_close", lag(col("close"), 1).over(wLag))
      .withColumn("peak", max(col("close")).over(wPeak))
      .select(date_format(col("bar_ts"), "yyyy-MM-dd HH:mm:ss").as("bar_ts"),
        col("close"),
        (col("close") / col("prev_close") - 1.0).as("ret"),
        col("peak"),
        ((col("peak") - col("close")) / col("peak")).as("drawdown"))
      .orderBy(col("bar_ts"))
  }

  /** Per-bar price volatility — sample variance computed EXACTLY: the
    * aggregate state is (n, Σcents, Σcents²) in longs (Σc² ≲ 1e11 per
    * thousand-trade bar, n·Σc² ≲ 1e14 — far under 2^63), and the variance
    * (n·Σc² − (Σc)²) / (n·(n−1)) materializes as one division at the end,
    * so partial aggregation is associative across any partitioning and
    * the replay is bit-exact — the integer-cents discipline extended to a
    * second moment. Single-trade bars emit null (sample variance needs
    * n ≥ 2), matching the SQL NULLIF. */
  def priceVolatility(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(date_trunc("hour", col("ts")).as("bar_ts"),
        cents(col("value")).as("pc"))
      .groupBy(col("bar_ts"))
      .agg(count(lit(1)).as("n"),
        sum(col("pc")).as("s1"),
        sum(col("pc") * col("pc")).as("s2"))
      .select(date_format(col("bar_ts"), "yyyy-MM-dd HH:mm:ss").as("bar_ts"),
        col("n").as("n_trades"),
        when(col("n") > 1,
          (col("n") * col("s2") - col("s1") * col("s1")).cast("double") /
            (col("n") * (col("n") - 1)).cast("double") / 10000.0)
          .as("variance"))
      .orderBy(col("bar_ts"))

  /** GROUPING SETS — the explicit-sets sibling of rollup/cube: per-flag
    * totals, per-status totals and the grand total in ONE pass (one
    * Expand + one aggregate, not three scans). */
  def groupingSets(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(sum(cents(col("l_quantity"))).as("qty_c"),
        count(lit(1)).as("n_items"))
      .select(col("l_returnflag"), col("l_linestatus"),
        (col("qty_c") / 100.0).as("sum_qty"), col("n_items"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** The OHLC oracle — ONE SQL text shared by the batch query and its
    * streaming twin (`stream_ohlc_bars`), so the two replays cannot
    * drift: a drained AvailableNow run over the same bounded input must
    * produce exactly these bars. */
  val ohlcOracleSql: String =
      """WITH p AS (
        |  SELECT date_trunc('hour', ts) AS bar_ts, ts, event_id, value
        |  FROM events WHERE event_type = 'purchase'),
        |oc AS (SELECT bar_ts, value,
        |    ROW_NUMBER() OVER (PARTITION BY bar_ts ORDER BY ts, event_id) AS rn_o,
        |    ROW_NUMBER() OVER (PARTITION BY bar_ts ORDER BY ts DESC, event_id DESC) AS rn_c
        |  FROM p),
        |a AS (SELECT bar_ts, MAX(value) AS high, MIN(value) AS low,
        |    CAST(COUNT(*) AS BIGINT) AS n_trades,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS volume
        |  FROM p GROUP BY 1)
        |SELECT strftime(a.bar_ts, '%Y-%m-%d %H:%M:%S') AS bar_ts,
        |  o.value AS open, a.high, a.low, c.value AS close,
        |  a.n_trades, a.volume
        |FROM a
        |JOIN (SELECT bar_ts, value FROM oc WHERE rn_o = 1) o USING (bar_ts)
        |JOIN (SELECT bar_ts, value FROM oc WHERE rn_c = 1) c USING (bar_ts)
        |ORDER BY bar_ts""".stripMargin

  /** Declarative sessionization — the gaps-and-islands window form of
    * the stateful `stream_sessionize` (flatMapGroupsWithState): is_new =
    * gap > 30 min over a (ts, event_id) window, session id = running sum
    * of is_new, then two co-keyed aggregations to the per-user summary.
    * Same semantics, two execution strategies — the shared oracle SQL
    * ([[sessionizeOracleSql]]) and a row-for-row spec pin keep the twins
    * locked together. All micros arithmetic is exact integers. */
  def sessionizeWindow(s: SparkSession, dir: String): DataFrame = {
    val gapUs =
      graft.streaming.MicroBatchPipeline.SessionGapMinutes * 60L * 1000000L
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tu"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tu"), col("event_id"))
    val prev = lag(col("tu"), 1).over(w)
    val sid = ev
      .withColumn("is_new",
        when(prev.isNull || col("tu") - prev > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("is_new"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sid.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("len")).as("n_events"),
        max(col("len")).as("longest_session_events"))
      .orderBy(col("user_id"))
  }

  /** The sessionization oracle — ONE SQL text behind the stateful
    * `stream_sessionize` and the declarative `rel_sessionize`. */
  val sessionizeOracleSql: String =
    """WITH d AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tu,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      |sid AS (
      |  SELECT user_id,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY tu, event_id
      |      ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM d),
      |per_session AS (
      |  SELECT user_id, session_id, COUNT(*) AS len
      |  FROM sid GROUP BY 1, 2)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
      |  CAST(SUM(len) AS BIGINT) AS n_events,
      |  CAST(MAX(len) AS BIGINT) AS longest_session_events
      |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin

  /** The funnel oracle — shared verbatim with `stream_event_funnel`'s
    * drained state machine, the no-drift contract [[ohlcOracleSql]] set. */
  val funnelOracleSql: String =
    s"""WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
       |            WHERE event_type = '${FunnelSteps(0)}' GROUP BY 1),
       |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
       |       JOIN s1 USING (user_id)
       |       WHERE e.event_type = '${FunnelSteps(1)}' AND e.ts > s1.t1
       |       GROUP BY 1),
       |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
       |       JOIN s2 USING (user_id)
       |       WHERE e.event_type = '${FunnelSteps(2)}' AND e.ts > s2.t2
       |       GROUP BY 1),
       |c AS (
       |  SELECT 1 AS step, '${FunnelSteps(0)}' AS event_type,
       |    (SELECT COUNT(*) FROM s1) AS n_users
       |  UNION ALL SELECT 2, '${FunnelSteps(1)}', (SELECT COUNT(*) FROM s2)
       |  UNION ALL SELECT 3, '${FunnelSteps(2)}', (SELECT COUNT(*) FROM s3))
       |SELECT CAST(step AS BIGINT) AS step, event_type,
       |  CAST(n_users AS BIGINT) AS n_users,
       |  CAST(n_users AS DOUBLE) / (SELECT COUNT(*) FROM s1) AS conv_rate
       |FROM c ORDER BY step""".stripMargin

  /** The gap-filled candle oracle — shared VERBATIM with the streaming
    * twin (`stream_ohlc_gapfill`), the ohlcOracleSql convention: one SQL
    * text pinning batch == stream every round. */
  val ohlcGapfillOracleSql: String =
    """WITH p AS (
      |  SELECT date_trunc('hour', ts) AS bar_ts, ts, event_id, value
      |  FROM events WHERE event_type = 'purchase'),
      |oc AS (SELECT bar_ts, value,
      |    ROW_NUMBER() OVER (PARTITION BY bar_ts
      |      ORDER BY ts DESC, event_id DESC) AS rn_c
      |  FROM p),
      |b AS (SELECT bar_ts, CAST(COUNT(*) AS BIGINT) AS n_trades FROM p GROUP BY 1),
      |c AS (SELECT bar_ts, value AS close FROM oc WHERE rn_c = 1),
      |spine AS (SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bar_ts
      |  FROM (SELECT MIN(bar_ts) AS lo, MAX(bar_ts) AS hi FROM b)),
      |f AS (SELECT s.bar_ts, COALESCE(b.n_trades, 0) AS n_trades, c.close,
      |    LAST_VALUE(c.close IGNORE NULLS) OVER (ORDER BY s.bar_ts
      |      ROWS UNBOUNDED PRECEDING) AS close_ff
      |  FROM spine s LEFT JOIN b USING (bar_ts) LEFT JOIN c USING (bar_ts))
      |SELECT strftime(bar_ts, '%Y-%m-%d %H:%M:%S') AS bar_ts,
      |  CAST(n_trades AS BIGINT) AS n_trades,
      |  close_ff AS close, close IS NULL AS is_gap
      |FROM f ORDER BY bar_ts""".stripMargin

  /** The six-moment CTE — ONE text behind the corr and OLS oracles. */
  private val momentCteSql: String =
    s"""WITH m AS (SELECT l_returnflag,
         |    CAST(COUNT(*) AS BIGINT) AS n,
         |    SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS sx,
         |    SUM(${centsSql("l_extendedprice")}) AS sy,
         |    SUM(CAST(ROUND(l_quantity) AS BIGINT)
         |        * ${centsSql("l_extendedprice")}) AS sxy,
         |    SUM(CAST(ROUND(l_quantity) AS BIGINT)
         |        * CAST(ROUND(l_quantity) AS BIGINT)) AS sxx,
         |    SUM(${centsSql("l_extendedprice")}
         |        * ${centsSql("l_extendedprice")}) AS syy
         |  FROM lineitem GROUP BY 1)""".stripMargin

  /** The exact-moment statistics oracle, shared verbatim by the batch
    * query and its streaming moment-fold twin. */
  private val corrOracleSql: String =
    s"""$momentCteSql
         |SELECT l_returnflag, n,
         |  CAST(n*sxy - sx*sy AS DOUBLE)
         |    / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
         |       * sqrt(CAST(n*syy - sy*sy AS DOUBLE))) AS corr_qty_price,
         |  CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*(n-1) AS DOUBLE)
         |    AS covar_qty_price,
         |  sqrt(CAST(n*sxx - sx*sx AS DOUBLE) / CAST(n*(n-1) AS DOUBLE))
         |    AS std_qty,
         |  sqrt(CAST(n*syy - sy*sy AS DOUBLE) / CAST(n*(n-1) AS DOUBLE))
         |    AS std_price
         |FROM m ORDER BY l_returnflag""".stripMargin

  /** The OLS fit over the same moments — operation order mirrors
    * [[olsFinalize]]'s double tree exactly. */
  private val olsOracleSql: String =
    s"""$momentCteSql
         |SELECT l_returnflag, n,
         |  (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))
         |    / 100.0 AS slope_price_per_qty,
         |  ((CAST(sy AS DOUBLE)
         |      - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))
         |        * CAST(sx AS DOUBLE))
         |    / CAST(n AS DOUBLE)) / 100.0 AS intercept_price,
         |  (CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE))
         |    / (CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE))
         |    AS r2
         |FROM m ORDER BY l_returnflag""".stripMargin

  // -------------------------------------------------------------------
  // Z-order data layout audit
  // -------------------------------------------------------------------

  /** Grid bits per dimension for the z-value interleave: each dimension
    * is scaled onto a 2^8-cell grid, giving a 16-bit z space. */
  val ZGridBits = 8

  /** Z-range width per layout bucket: dropping the low [[ZBucketShift]]
    * z bits leaves the interleaved HIGH 4 bits of each dimension — a
    * 16×16 coarse grid of up to 256 buckets ("files"), the same bucket
    * count the linear layout's custkey-major cut produces, so the two
    * rows compare like for like. */
  val ZBucketShift = 8

  /** Bitwise interleave of two [[ZGridBits]]-bit grid coordinates — the
    * Morton/z-value (x bits at even positions, y at odd). Fixed-shift
    * builtins only, so the whole expression stays in codegen and the
    * oracle replays it with `>>`/`&`/`<<`. */
  private[graft] def zInterleave(x: Column, y: Column): Column =
    (0 until ZGridBits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** Z-ORDER LAYOUT AUDIT — the multi-dimensional-pruning readout behind
    * a Delta-style `OPTIMIZE ZORDER BY (o_custkey, o_orderdate)`: rows
    * are assigned to layout buckets ("files") two ways — by z-value
    * (interleaved bits of the two grid coordinates) and by linear
    * concatenation (custkey-major sort, the naive layout) — and the
    * per-layout rollup reports how tightly each bucket bounds EACH
    * dimension (avg/max min-max span). Why it matters at 100 TB: parquet
    * skipping prunes a file iff the predicate column's min-max range
    * excludes it, so a custkey-sorted table answers date-range scans by
    * reading everything — the linear row shows exactly that (day span ≈
    * the full calendar), while the z-order row bounds BOTH columns, the
    * property that lets one layout serve both predicate families. The
    * audit is the measurement a table owner runs before picking a
    * layout; writing the files is then `orderBy(zv)` at insert.
    *
    * Grid rule: each dimension scales onto the 2^[[ZGridBits]]-cell
    * grid as floor((x−min)·2^g / (max−min+1)) — a full min/max range
    * map whose double division is IEEE-identical in both engines (the
    * range-rank a production writer would precompute, collapsed to one
    * scalar agg). Mapping from the OBSERVED minimum rather than an
    * assumed zero matters for correctness, not just coverage: a
    * negative coordinate (an order predating the date epoch) would
    * produce a negative grid cell whose arithmetic right-shift silently
    * corrupts the Morton interleave. One scan, one broadcast of the
    * 1-row bounds, one shuffle on (layout, bucket), two aggregate rows
    * out; the final averages are single divisions of exact longs. */
  def zorderLayout(s: SparkSession, dir: String): DataFrame = {
    val cells = 1 << ZGridBits
    val base = Tables.orders(s, dir).select(
      col("o_custkey").cast("long").as("ck"),
      datediff(col("o_orderdate").cast("date"),
        lit("1995-01-01").cast("date")).cast("long").as("dd"))
    val maxes = base.agg(max(col("ck")).as("mck"), max(col("dd")).as("mdd"),
      min(col("ck")).as("nck"), min(col("dd")).as("ndd"))
    def cell(x: Column, mn: Column, mx: Column): Column =
      floor((x - mn).cast("double") * cells
        / ((mx - mn).cast("double") + 1.0)).cast("long")
    val zx = cell(col("ck"), col("nck"), col("mck"))
    val zy = cell(col("dd"), col("ndd"), col("mdd"))
    val tagged = base.crossJoin(broadcast(maxes))
      .select(col("ck"), col("dd"),
        zInterleave(zx, zy).as("zv"),
        (shiftleft(zx, ZGridBits) + zy).as("lv"))
      .select(col("ck"), col("dd"), explode(array(
        struct(lit("zorder").as("layout"),
          shiftright(col("zv"), ZBucketShift).as("bucket")),
        struct(lit("linear").as("layout"),
          shiftright(col("lv"), ZBucketShift).as("bucket")))).as("lb"))
      .select(col("lb.layout").as("layout"), col("lb.bucket").as("bucket"),
        col("ck"), col("dd"))
    tagged.groupBy(col("layout"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        (max(col("ck")) - min(col("ck"))).as("ck_span"),
        (max(col("dd")) - min(col("dd"))).as("dd_span"))
      .groupBy(col("layout"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("n")).as("n_rows"),
        (sum(col("ck_span")).cast("double") / count(lit(1)))
          .as("avg_custkey_span"),
        max(col("ck_span")).as("max_custkey_span"),
        (sum(col("dd_span")).cast("double") / count(lit(1)))
          .as("avg_day_span"),
        max(col("dd_span")).as("max_day_span"))
      .orderBy(col("layout"))
  }

  private def zorderOracleSql: String = {
    val zSum = (0 until ZGridBits).map(i =>
      s"((((zx >> $i) & 1) << ${2 * i}) + (((zy >> $i) & 1) << ${2 * i + 1}))")
      .mkString(" + ")
    val cells = 1 << ZGridBits
    s"""WITH b AS (SELECT CAST(o_custkey AS BIGINT) AS ck,
       |    CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
       |      AS BIGINT) AS dd
       |  FROM orders),
       |m AS (SELECT MAX(ck) AS mck, MAX(dd) AS mdd,
       |    MIN(ck) AS nck, MIN(dd) AS ndd FROM b),
       |g AS (SELECT ck, dd,
       |    CAST(floor(CAST(ck - nck AS DOUBLE) * $cells
       |      / (CAST(mck - nck AS DOUBLE) + 1.0)) AS BIGINT) AS zx,
       |    CAST(floor(CAST(dd - ndd AS DOUBLE) * $cells
       |      / (CAST(mdd - ndd AS DOUBLE) + 1.0)) AS BIGINT) AS zy
       |  FROM b, m),
       |z AS (SELECT ck, dd, ($zSum) AS zv, ((zx << $ZGridBits) + zy) AS lv
       |  FROM g),
       |e AS (
       |  SELECT 'zorder' AS layout, zv >> $ZBucketShift AS bucket, ck, dd FROM z
       |  UNION ALL
       |  SELECT 'linear', lv >> $ZBucketShift, ck, dd FROM z),
       |p AS (SELECT layout, bucket, COUNT(*) AS n,
       |    MAX(ck) - MIN(ck) AS ck_span, MAX(dd) - MIN(dd) AS dd_span
       |  FROM e GROUP BY 1, 2)
       |SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_buckets,
       |  CAST(SUM(n) AS BIGINT) AS n_rows,
       |  CAST(SUM(ck_span) AS DOUBLE) / COUNT(*) AS avg_custkey_span,
       |  CAST(MAX(ck_span) AS BIGINT) AS max_custkey_span,
       |  CAST(SUM(dd_span) AS DOUBLE) / COUNT(*) AS avg_day_span,
       |  CAST(MAX(dd_span) AS BIGINT) AS max_day_span
       |FROM p GROUP BY layout ORDER BY layout""".stripMargin
  }

  /** Event TRANSITION MATRIX — the product-analytics "what happens
    * next" readout completing the funnel/cohort/session family: for
    * each ordered (event_type → next event_type) adjacency within a
    * user's time-ordered stream, the transition count and its share of
    * all transitions leaving the source type. One window pass per user
    * (lead over (ts, event_id) — a total order, so the adjacency is
    * deterministic), then a groupBy on the tiny k² type-pair key; the
    * share is one double division of exact longs over a k-row window.
    * Scale: the user partition is the natural key (same shuffle the
    * sessionize family already pays), state per user is one row. */
  def eventTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val counts = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n_transitions"))
    counts.withColumn("share_from_source",
        col("n_transitions").cast("double") /
          sum(col("n_transitions"))
            .over(Window.partitionBy(col("event_type"))))
      .orderBy(col("event_type"), col("next_type"))
  }

  private val eventTransitionsOracleSql: String =
    """WITH s AS (SELECT event_type,
      |    LEAD(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |c AS (SELECT event_type, next_type,
      |    CAST(COUNT(*) AS BIGINT) AS n_transitions
      |  FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2)
      |SELECT event_type, next_type, n_transitions,
      |  CAST(n_transitions AS DOUBLE)
      |    / SUM(n_transitions) OVER (PARTITION BY event_type)
      |    AS share_from_source
      |FROM c ORDER BY event_type, next_type""".stripMargin

  /** Bucket count for the co-located join demo — small enough that the
    * bucketed files stay readable at verification scale, large enough
    * to be a real layout. */
  val JoinBuckets = 8

  /** The join body over the two BUCKETED catalog tables — factored so
    * the spec can assert the exchange-free plan on the exact frame the
    * declared query aggregates. */
  private[graft] def bucketedJoinFrame(s: SparkSession, dir: String): DataFrame = {
    val (ot, lt) = bucketedTables(s, dir)
    s.table(ot).join(s.table(lt), col("o_orderkey") === col("l_orderkey"))
  }

  /** Ensure the bucketed layout exists for this corpus — built ONCE per
    * corpus per JVM, which is exactly the economics the Scaladoc below
    * argues: the layout cost is paid at write time, every join after that
    * is exchange-free. Table names carry an md5 corpus suffix (collision-
    * free in any realistic universe — a hashCode suffix could collide and
    * let one corpus DROP another's layout), and the build is gated on the
    * CATALOG (tableExists), not on a side cache: the catalog entry is the
    * artifact actually served, so a recreated catalog rebuilds instead of
    * serving names that no longer resolve. Data lives in a pinned temp
    * dir (one per corpus, bounded) so the eviction backstop can never
    * delete a registered table's files. */
  private def bucketedTables(s: SparkSession, dir: String): (String, String) =
    bucketedTablesLock.synchronized {
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
      val ot = s"graft_bucketed_orders_$sfx"
      val lt = s"graft_bucketed_lineitem_$sfx"
      if (!s.catalog.tableExists(ot) || !s.catalog.tableExists(lt)) {
        // A rebuild for this corpus (e.g. a recreated catalog) abandons
        // the previous pinned dir: DROP TABLE on external tables leaves
        // the files behind, so unpin hands the old dir back to the
        // evictable pool instead of growing pinned disk per rebuild.
        bucketedDirs.remove(sfx).foreach(graft.TempDirs.unpin)
        val d = graft.TempDirs.pinned("graft_bucket")
        bucketedDirs(sfx) = d
        s.sql(s"DROP TABLE IF EXISTS $ot")
        s.sql(s"DROP TABLE IF EXISTS $lt")
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderstatus"))
          .write.format("parquet").option("path", s"$d/orders")
          .bucketBy(JoinBuckets, "o_orderkey").sortBy("o_orderkey")
          .saveAsTable(ot)
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
          .write.format("parquet").option("path", s"$d/lineitem")
          .bucketBy(JoinBuckets, "l_orderkey").sortBy("l_orderkey")
          .saveAsTable(lt)
      }
      (ot, lt)
    }

  private val bucketedTablesLock = new Object

  /** Pinned layout dir per corpus suffix — guarded by
    * [[bucketedTablesLock]]; lets a rebuild unpin its predecessor. */
  private val bucketedDirs =
    scala.collection.mutable.Map.empty[String, String]

  /** BUCKETED CO-LOCATED JOIN — the layout technique the scale audit
    * keeps promising ("bucket lineitem+orders on orderkey to delete
    * the remaining exchange"), demonstrated for real: both sides are
    * written as [[JoinBuckets]]-bucket sorted tables on the join key,
    * and the fact-to-fact join then runs with ZERO shuffle on either
    * side. (At verification scale the optimizer rightly broadcasts the
    * tiny orders side instead; RelationalExtSpec therefore asserts the
    * exchange-free SORT-MERGE join under a forced no-broadcast regime —
    * the 100 TB case where neither fact side fits a broadcast.) At
    * 100 TB this is the difference between re-shuffling two fact
    * tables on every join and paying the layout cost once at write
    * time — the same build-once economics as the persisted indexes,
    * applied to relational layout. Results are layout-independent, so
    * the oracle is the plain join (a wrong bucketing that dropped or
    * duplicated rows would hash-diverge). */
  def joinBucketed(s: SparkSession, dir: String): DataFrame = {
    bucketedJoinFrame(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_items"),
        sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
        (sum(cents(col("l_extendedprice"))) / 100.0).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  private val joinBucketedOracleSql: String =
    s"""SELECT o.o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_items,
       |  CAST(SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
       |  CAST(SUM(${centsSql("l.l_extendedprice")}) AS BIGINT) / 100.0
       |    AS sum_price
       |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Flag hours whose count sits at least this many standard deviations
    * from the type's mean. */
  val AnomalyZ = 2.0

  /** HOURLY ANOMALY READOUT — the ops-monitoring query every event
    * pipeline grows: per (event_type, hour) count, flag the hours at
    * least [[AnomalyZ]] population standard deviations from that type's
    * mean hourly volume. Reproducible the corr-moments way: the moments
    * (n, Σc, Σc²) are exact integers, mean/std/z are FIXED double
    * formulas over them — the same anomaly set on any partitioning and
    * any engine, which is what makes the alert diff-able day over day.
    * Two tiny map-side-combined aggregations, one broadcast join of the
    * 5-row moment table back onto the hourly counts. */
  def hourlyAnomaly(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"))
      .agg(count(lit(1)).as("n_events"))
    val mom = hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("n_events")).as("sx"),
        sum(col("n_events") * col("n_events")).as("sxx"))
    val mean = col("sx").cast("double") / col("n")
    val std = sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
      .cast("double") / (col("n") * col("n")).cast("double"))
    hourly.join(broadcast(mom), "event_type")
      // degenerate-variance guard (the corr family's convention): a type
      // whose hourly counts are all equal has integer variance 0 exactly
      // — dividing would emit NaN/±Inf z-scores whose ordering semantics
      // differ between engines; such a type has no anomalous hours by
      // definition, so it is excluded BEFORE the division on the exact
      // integer moments.
      .filter(col("n") * col("sxx") - col("sx") * col("sx") > 0)
      .select(col("event_type"), col("window_start"), col("n_events"),
        ((col("n_events").cast("double") - mean) / std).as("z_score"))
      .filter(abs(col("z_score")) >= AnomalyZ)
      .orderBy(col("event_type"), col("window_start"))
  }

  private val hourlyAnomalyOracleSql: String =
    s"""WITH h AS (SELECT event_type,
       |    strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
       |      AS window_start,
       |    CAST(COUNT(*) AS BIGINT) AS n_events
       |  FROM events GROUP BY 1, 2),
       |m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(n_events) AS BIGINT) AS sx,
       |    CAST(SUM(n_events * n_events) AS BIGINT) AS sxx
       |  FROM h GROUP BY 1)
       |SELECT h.event_type, h.window_start, h.n_events,
       |  (CAST(h.n_events AS DOUBLE) - CAST(m.sx AS DOUBLE) / m.n)
       |    / sqrt(CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE)
       |           / CAST(m.n * m.n AS DOUBLE)) AS z_score
       |FROM h JOIN m USING (event_type)
       |WHERE m.n * m.sxx - m.sx * m.sx > 0
       |  AND abs((CAST(h.n_events AS DOUBLE) - CAST(m.sx AS DOUBLE) / m.n)
       |    / sqrt(CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE)
       |           / CAST(m.n * m.n AS DOUBLE))) >= $AnomalyZ
       |ORDER BY event_type, window_start""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    withOracle("rel_hourly_anomaly", hourlyAnomaly, hourlyAnomalyOracleSql),
    withOracle("rel_join_bucketed", joinBucketed, joinBucketedOracleSql),
    withOracle("rel_zorder_layout", zorderLayout, zorderOracleSql),
    withOracle("rel_agg_ols", aggOls, olsOracleSql),
    withOracle("rel_event_transitions", eventTransitions,
      eventTransitionsOracleSql),
    withOracle("rel_ohlc_bars", ohlcBars, ohlcOracleSql),
    withOracle("rel_ohlc_gapfill", ohlcGapfill, ohlcGapfillOracleSql),
    withOracle("rel_sessionize", sessionizeWindow, sessionizeOracleSql),
    withOracle("rel_bar_returns", barReturns,
      """WITH p AS (
        |  SELECT date_trunc('hour', ts) AS bar_ts, ts, event_id, value
        |  FROM events WHERE event_type = 'purchase'),
        |oc AS (SELECT bar_ts, value,
        |    ROW_NUMBER() OVER (PARTITION BY bar_ts
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM p),
        |b AS (SELECT bar_ts, value AS close FROM oc WHERE rn = 1)
        |SELECT strftime(bar_ts, '%Y-%m-%d %H:%M:%S') AS bar_ts, close,
        |  close / LAG(close) OVER (ORDER BY bar_ts) - 1.0 AS ret,
        |  MAX(close) OVER (ORDER BY bar_ts ROWS UNBOUNDED PRECEDING) AS peak,
        |  (MAX(close) OVER (ORDER BY bar_ts ROWS UNBOUNDED PRECEDING) - close)
        |    / MAX(close) OVER (ORDER BY bar_ts ROWS UNBOUNDED PRECEDING) AS drawdown
        |FROM b ORDER BY bar_ts""".stripMargin),
    withOracle("rel_price_volatility", priceVolatility,
      """WITH p AS (
        |  SELECT date_trunc('hour', ts) AS bar_ts,
        |    CAST(ROUND(value * 100) AS BIGINT) AS pc
        |  FROM events WHERE event_type = 'purchase'),
        |a AS (SELECT bar_ts, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(pc) AS s1, SUM(pc * pc) AS s2
        |  FROM p GROUP BY 1)
        |SELECT strftime(bar_ts, '%Y-%m-%d %H:%M:%S') AS bar_ts,
        |  n AS n_trades,
        |  CASE WHEN n > 1 THEN
        |    CAST(n * s2 - s1 * s1 AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)
        |      / 10000.0
        |  END AS variance
        |FROM a ORDER BY bar_ts""".stripMargin),
    withOracle("rel_twap", twapBars,
      """WITH p AS (
        |  SELECT date_trunc('hour', ts) AS bar_ts, ts, event_id,
        |    CAST(ROUND(value * 100) AS BIGINT) AS pc,
        |    epoch_us(ts) AS t_us
        |  FROM events WHERE event_type = 'purchase'),
        |d AS (SELECT bar_ts, pc,
        |    COALESCE(
        |      LEAD(t_us) OVER (PARTITION BY bar_ts ORDER BY ts, event_id),
        |      epoch_us(bar_ts) + 3600000000) - t_us AS dur_us
        |  FROM p)
        |SELECT strftime(bar_ts, '%Y-%m-%d %H:%M:%S') AS bar_ts,
        |  CAST(COUNT(*) AS BIGINT) AS n_trades,
        |  CAST(SUM(pc * dur_us) AS DOUBLE) / SUM(dur_us) / 100.0 AS twap
        |FROM d GROUP BY bar_ts ORDER BY bar_ts""".stripMargin),
    withOracle("rel_grouping_sets", groupingSets,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_qty,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),
    withOracle("rel_event_funnel", eventFunnel, funnelOracleSql),
    withOracle("rel_cohort_retention", cohortRetention,
      """WITH c AS (
        |  SELECT user_id, date_trunc('week', MIN(ts)) AS cw
        |  FROM events GROUP BY 1),
        |sz AS (SELECT cw, COUNT(*) AS n FROM c GROUP BY 1),
        |act AS (SELECT DISTINCT e.user_id, c.cw,
        |    date_diff('day', CAST(c.cw AS DATE),
        |              CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS week_offset
        |  FROM events e JOIN c USING (user_id)),
        |g AS (SELECT cw, week_offset, COUNT(*) AS n_active
        |      FROM act GROUP BY 1, 2)
        |SELECT strftime(g.cw, '%Y-%m-%d') AS cohort_week,
        |  CAST(g.week_offset AS BIGINT) AS week_offset,
        |  CAST(n_active AS BIGINT) AS n_active,
        |  CAST(n_active AS DOUBLE) / sz.n AS retention
        |FROM g JOIN sz USING (cw)
        |ORDER BY cohort_week, week_offset""".stripMargin),
    withOracle("rel_window_ranks", windowRanks,
      """SELECT o_orderkey, o_custkey, price_bucket,
        |  CAST(RANK() OVER w AS BIGINT) AS rnk,
        |  CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
        |  PERCENT_RANK() OVER w AS prnk,
        |  CUME_DIST() OVER w AS cume
        |FROM (SELECT o_orderkey, o_custkey,
        |    CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS price_bucket
        |  FROM orders)
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY price_bucket)
        |ORDER BY o_orderkey""".stripMargin),
    withOracle("rel_join_asof", joinAsof,
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey,
        |    arg_max(o_totalprice, o_orderkey) AS o_totalprice
        |  FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id,
        |  strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
        |  o.o_orderkey AS asof_orderkey, o.o_totalprice AS asof_totalprice
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin),
    withOracle("rel_join_range", joinRange,
      s"""WITH bands(band_id, band_name, lo, hi) AS (
         |  VALUES (1, 'low', 0, 9), (2, 'mid', 10, 24), (3, 'high', 25, 50))
         |SELECT band_id, band_name, CAST(COUNT(*) AS BIGINT) AS n_items,
         |  CAST(SUM(${centsSql("l_quantity")}) AS BIGINT) / 100.0 AS sum_qty
         |FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity <= hi
         |GROUP BY band_id, band_name ORDER BY band_id""".stripMargin),
    withOracle("rel_agg_cube", aggCube,
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(${centsSql("l_quantity")}) AS BIGINT) / 100.0 AS sum_qty,
         |  CAST(COUNT(*) AS BIGINT) AS n_items
         |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),
    withOracle("rel_pivot", pivotStatus,
      s"""SELECT l_returnflag,
         |  COALESCE(SUM(${centsSql("l_quantity")}) FILTER (WHERE l_linestatus = 'F'), 0) / 100.0 AS qty_f,
         |  COALESCE(SUM(${centsSql("l_quantity")}) FILTER (WHERE l_linestatus = 'O'), 0) / 100.0 AS qty_o
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    withOracle("rel_unpivot", unpivotPart,
      """SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
        |UNION ALL
        |SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val FROM part
        |ORDER BY p_partkey, metric""".stripMargin),
    withOracle("rel_setop_intersect", setOpIntersect,
      """SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 90
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'error' AND value > 90
        |ORDER BY user_id""".stripMargin),
    withOracle("rel_setop_union", setOpUnion,
      """SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 95
        |UNION
        |SELECT user_id FROM events WHERE event_type = 'signup' AND value > 95
        |ORDER BY user_id""".stripMargin),
    // running_c MUST be cast: DuckDB's windowed SUM(BIGINT) is HUGEINT, which
    // pandas widens to float64 — the driver then hashes 123.0 vs Spark's 123
    // (the round-2 red row). Windows are spelled out per clause (no named-window
    // frame extension) so older DuckDB binders resolve identically.
    withOracle("rel_window_analytics", windowAnalytics,
      s"""SELECT o_custkey, o_orderkey, ${centsSql("o_totalprice")} AS price_c,
         |  LAG(${centsSql("o_totalprice")}, 1) OVER
         |    (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
         |    AS prev_price_c,
         |  CAST(SUM(${centsSql("o_totalprice")}) OVER
         |    (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS running_c,
         |  CAST(NTILE(4) OVER
         |    (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
         |    AS BIGINT) AS quartile
         |FROM orders
         |ORDER BY o_custkey, o_orderkey""".stripMargin),
    withOracle("rel_window_range_frame", windowRangeFrame,
      s"""SELECT o_custkey, o_orderkey,
         |  CAST(COUNT(*) OVER w AS BIGINT) AS n_90d,
         |  CAST(SUM(${centsSql("o_totalprice")}) OVER w AS BIGINT) AS spend_90d_c
         |FROM orders
         |WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
         |  RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW)
         |ORDER BY o_custkey, o_orderkey""".stripMargin),
    withOracle("rel_conditional_funcs", conditionalFuncs,
      """SELECT event_id,
        |  CASE WHEN value >= 50 THEN 'high' WHEN value >= 10 THEN 'mid'
        |       ELSE 'low' END AS band,
        |  COALESCE(NULLIF(event_type, 'error'), 'redacted') AS type_or_redacted,
        |  LEAST(value, CAST(user_id AS DOUBLE)) AS lo,
        |  GREATEST(value, CAST(user_id AS DOUBLE)) AS hi
        |FROM events ORDER BY event_id""".stripMargin),
    withOracle("rel_merge_upsert", mergeUpsert,
      s"""WITH base AS (
         |  SELECT o_orderkey, ${centsSql("o_totalprice")} AS price_c, o_orderstatus
         |  FROM orders),
         |changes AS (
         |  SELECT o_orderkey AS c_key,
         |    ${centsSql("o_totalprice")} + ${centsSql("o_totalprice")} // 10 AS new_price_c,
         |    'U' AS new_status
         |  FROM orders WHERE o_orderpriority = '1-URGENT')
         |SELECT COALESCE(base.o_orderkey, c_key) AS o_orderkey,
         |  COALESCE(new_price_c, price_c) AS price_c,
         |  COALESCE(new_status, o_orderstatus) AS status
         |FROM base FULL OUTER JOIN changes ON base.o_orderkey = c_key
         |ORDER BY o_orderkey""".stripMargin),
    withOracle("rel_latest_per_key", latestPerKey,
      s"""SELECT o_custkey, o_orderkey AS latest_orderkey,
         |  strftime(o_orderdate, '%Y-%m-%d') AS latest_date,
         |  ${centsSql("o_totalprice")} AS latest_price_c
         |FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
         |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
         |  FROM orders) t
         |WHERE rn = 1 ORDER BY o_custkey""".stripMargin),
    withOracle("rel_scd2_intervals", scd2Intervals,
      """SELECT o_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
        |  COALESCE(strftime(LEAD(o_orderdate, 1) OVER w, '%Y-%m-%d'),
        |           '9999-12-31') AS valid_to,
        |  CAST(LEAD(o_orderdate, 1) OVER w IS NULL AS BIGINT) AS is_current
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),
    withOracle("rel_sample_stratified", sampleStratified,
      """SELECT event_id, event_type, value FROM events
        |WHERE CASE WHEN event_type = 'error'
        |  THEN substring(md5(CAST(event_id AS VARCHAR)), 1, 1) IN ('0','1','2','3')
        |  ELSE substring(md5(CAST(event_id AS VARCHAR)), 1, 1) = '0' END
        |ORDER BY event_id""".stripMargin),
    withOracle("rel_sample_hash", sampleHash,
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
        |ORDER BY o_orderkey""".stripMargin),
    // Exact-moment statistics: BIGINT sums widen to HUGEINT in DuckDB,
    // DECIMAL(38,0) in Spark — both exact, both cast to double once,
    // then the identical fixed formula.
    withOracle("rel_agg_corr", aggCorr, corrOracleSql),
    // The streaming twin folds per-batch moment slices — integer sums
    // are a monoid, so any batching reproduces the exact statistics and
    // the one oracle text covers both.
    graft.QuerySpec("stream_agg_corr", streamAggCorrQuery,
      Some(() => corrOracleSql)),
    withOracle("rel_percentile", percentiles,
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    withOracle("rel_agg_distinct", aggDistinct,
      """SELECT event_type,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(COUNT(DISTINCT strftime(ts, '%Y-%m-%d')) AS BIGINT) AS n_days,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    withOracle("rel_histogram", histogram,
      s"""SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_orders,
         |  MIN(${centsSql("o_totalprice")}) AS min_c,
         |  MAX(${centsSql("o_totalprice")}) AS max_c
         |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin),
    withOracle("rel_array_agg", arrayAgg,
      """SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  array_to_string(list_sort(list(o_orderkey)), ',') AS orderkeys
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),
    withOracle("rel_date_arith", dateArith,
      """SELECT l_orderkey,
        |  CAST(year(l_shipdate) AS BIGINT) AS ship_year,
        |  CAST(month(l_shipdate) AS BIGINT) AS ship_month,
        |  CAST(quarter(l_shipdate) AS BIGINT) AS ship_quarter,
        |  CAST(dayofweek(l_shipdate) + 1 AS BIGINT) AS ship_dow,
        |  strftime(l_shipdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
        |  CAST(datediff('day', DATE '1995-01-01', l_shipdate) AS BIGINT) AS days_since_95
        |FROM lineitem WHERE l_linenumber = 1 ORDER BY l_orderkey""".stripMargin),
    withOracle("rel_string_funcs", stringFuncs,
      """SELECT p_partkey,
        |  upper(p_brand) AS brand_u,
        |  lower(p_type) AS type_l,
        |  substring(p_name, 1, 8) AS name_head,
        |  lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS key_padded,
        |  CAST(strpos(p_type, 'BRASS') AS BIGINT) AS brass_pos,
        |  regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowel,
        |  CAST(length(p_name) AS BIGINT) AS name_len
        |FROM part ORDER BY p_partkey""".stripMargin),
    withOracle("rel_topk_grouped", topKGrouped,
      """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, c_custkey, c_acctbal, rn
        |FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal DESC, c_custkey ASC) AS BIGINT) AS rn
        |  FROM customer) t
        |WHERE rn <= 3 ORDER BY c_nationkey, rn""".stripMargin),
    withOracle("rel_subquery_scalar", subqueryScalar,
      """SELECT c_custkey, c_acctbal FROM customer c
        |WHERE CAST(ROUND(c_acctbal*100) AS BIGINT) *
        |      (SELECT COUNT(*) FROM customer c2
        |       WHERE c2.c_nationkey = c.c_nationkey)
        |    > (SELECT SUM(CAST(ROUND(c2.c_acctbal*100) AS BIGINT))
        |       FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin),
    withOracle("rel_approx_sketches", approxSketches,
      """SELECT event_type,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
        |  quantile_cont(value, 0.5) AS p50_exact,
        |  CAST(1 AS BIGINT) AS hll_within_4pct,
        |  CAST(1 AS BIGINT) AS kll_within_1
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    withOracle("rel_union_evolved", unionEvolved,
      """SELECT event_id, event_type, NULL::DOUBLE AS value, NULL::VARCHAR AS channel
        |FROM events WHERE event_id % 2 = 0
        |UNION ALL
        |SELECT event_id, event_type, value, 'web' AS channel
        |FROM events WHERE event_id % 2 = 1
        |ORDER BY event_id""".stripMargin),
    withOracle("rel_join_null_safe", joinNullSafe,
      """WITH ev AS (SELECT event_id, NULLIF(event_type, 'error') AS k FROM events),
        |dim AS (SELECT k, COALESCE(k, 'unknown') AS k_label
        |        FROM (SELECT DISTINCT k FROM ev))
        |SELECT ev.event_id, dim.k_label
        |FROM ev JOIN dim ON ev.k IS NOT DISTINCT FROM dim.k
        |ORDER BY ev.event_id""".stripMargin),
    withOracle("rel_regex_extract", regexExtract,
      """SELECT p_partkey,
        |  regexp_extract(p_name, '^([a-z]+) ([a-z]+)', 2) AS second_word,
        |  split_part(p_type, ' ', 1) AS type_head,
        |  translate(p_brand, '#', '-') AS brand_dashed
        |FROM part ORDER BY p_partkey""".stripMargin),
    withOracle("rel_agg_salted", aggSalted,
      """SELECT event_type,
        |  CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS sum_value_c,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    withOracle("rel_join_full_outer", joinFullOuter,
      """WITH act AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY user_id)
        |SELECT COALESCE(c.c_custkey, a.user_id) AS uid,
        |  COALESCE(a.n_events, 0) AS n_events, c.c_mktsegment
        |FROM customer c FULL OUTER JOIN act a ON c.c_custkey = a.user_id
        |ORDER BY uid""".stripMargin)
  )
}
