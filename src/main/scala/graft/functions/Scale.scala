package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale utilities: skew mitigation.
  *
  * AQE's skew-join handling covers sort-merge joins, but a single hot
  * GROUP BY key still funnels into one reducer. `saltedSum` is the classic
  * two-phase fix: pre-aggregate on (key, salt) so the hot key's rows fan
  * out over `buckets` reducers, then combine the partials. Works for any
  * commutative-associative aggregate; sums/counts provided here.
  */
object Scale {

  /** Deterministic salt in [0, buckets): derived from a row-identity
    * column rather than rand() so retried tasks salt identically. */
  def salt(idCol: Column, buckets: Int): Column =
    pmod(xxhash64(idCol), lit(buckets.toLong))

  /** Two-phase skew-safe sum + count over possibly-hot group keys. Output
    * schema: keys ++ (sum_<valueAlias>, n_rows). */
  def saltedSum(df: DataFrame, keys: Seq[String], value: Column,
      valueAlias: String, saltFrom: Column, buckets: Int = 32): DataFrame = {
    val keyCols = keys.map(col)
    df.withColumn("__salt", salt(saltFrom, buckets))
      .groupBy((keyCols :+ col("__salt")): _*)
      .agg(sum(value).as("__psum"), count(lit(1)).as("__pcnt"))
      .groupBy(keyCols: _*)
      .agg(sum(col("__psum")).as(s"sum_$valueAlias"),
        sum(col("__pcnt")).as("n_rows"))
  }
}
