package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The timed action of every benchmarked query: an order-insensitive
  * fingerprint of the WHOLE result.
  *
  * `count()` lets Catalyst prune every projected column, so a query whose
  * cost sits in a projected kernel would be timed without running it. The
  * fingerprint hashes every column of every row, so nothing can be pruned,
  * and the same value is the correctness check: row count plus two sums
  * over the 32-bit halves of a per-row xxhash64 (sums commute, so the
  * value is independent of row order and partitioning; 32-bit halves keep
  * the sums far from overflow under ANSI arithmetic).
  *
  * Floats are hashed exactly, which is the tolerance of the repository's
  * DuckDB oracle check (`tools/local_check.py` compares float64 values
  * with `==`); only -0.0 is folded onto 0.0, since `==` treats them as
  * equal but their bit patterns hash apart.
  */
object Fingerprint {

  final case class Value(rows: Long, lo: Long, hi: Long) {
    override def toString: String = s"$rows:${java.lang.Long.toHexString(lo)}:${java.lang.Long.toHexString(hi)}"
  }

  /** A column rewritten so that values `==` considers equal hash equal.
    * Maps have no defined entry order, so they hash as their sorted entry
    * arrays. */
  private def normalize(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => when(c === 0.0, lit(0.0).cast(dt)).otherwise(c)
    case ArrayType(et @ (DoubleType | FloatType), _) =>
      transform(c, x => normalize(x, et))
    case MapType(_, _, _) => array_sort(map_entries(c))
    case _ => c
  }

  def of(df: DataFrame): Value = {
    // positional names: results may repeat a column name or contain dots
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => normalize(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val row = named.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)),
        sum(shiftrightunsigned(col("h"), 32)))
      .collect()(0)
    def long(i: Int): Long = if (row.isNullAt(i)) 0L else row.getLong(i)
    Value(long(0), long(1), long(2))
  }
}
