package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Data-quality gate: the reference's great_expectations Validation task
  * (`dags/bpi_crawler/bpi_crawler.py:127-159`) re-expressed as `Column`
  * predicates the engine evaluates in ONE distributed pass.
  *
  * Scale design: each expectation is a codegen'd predicate counted by an
  * observed metric (`Dataset.observe`) over a `noop` write of the batch —
  * no per-expectation scans, no driver-side row loops, and no exchange:
  * each task folds its rows into the counters and the driver merges the
  * per-task partials, so the gate is one single-stage job whether the
  * batch is 1 row or 10^9. Schema (dtype) expectations are checked
  * against `df.schema` on the driver for free.
  */
object Expectations {

  /** One row-level expectation: `ok` must hold for every row. */
  final case class Expectation(name: String, ok: Column)

  /** Result of evaluating a suite: per-expectation violation counts. */
  final case class Violation(name: String, violations: Long)

  final class ValidationFailedException(val violations: Seq[Violation])
    extends RuntimeException(
      "validation failed: " + violations.map(v => s"${v.name}=${v.violations}").mkString(", "))

  /** great_expectations' expect_column_values_to_match_strftime_format
    * ("%Y-%m-%d %H:%M:%S", bpi_crawler.py:140-142) as a regex predicate. */
  val timestampStringFormat = "^\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}$"

  def expectMatches(column: String, regex: String): Expectation =
    Expectation(s"$column matches $regex", col(column).isNotNull && col(column).rlike(regex))

  def expectTimestampString(column: String): Expectation =
    expectMatches(column, timestampStringFormat)

  def expectNotNull(column: String): Expectation =
    Expectation(s"$column not null", col(column).isNotNull)

  /** Schema-level dtype assertion (the reference's is_float_dtype /
    * is_string_dtype, bpi_crawler.py:147-159) — free driver-side check. */
  def expectType(df: DataFrame, column: String, dt: DataType): Option[Violation] = {
    val actual = df.schema.find(_.name == column).map(_.dataType)
    if (actual.contains(dt)) None
    else Some(Violation(s"$column is ${dt.simpleString} (got ${actual.fold("missing")(_.simpleString)})", 1L))
  }

  /** Evaluate all expectations in one pass over the data: one job of one
    * stage. The counters ride on a `noop` write as observed metrics; an
    * empty frame observes null sums, which count as 0. */
  def summarize(df: DataFrame, expectations: Seq[Expectation]): Seq[Violation] = {
    if (expectations.isEmpty) return Nil
    val counters = expectations.zipWithIndex.map { case (e, i) =>
      sum(when(!coalesce(e.ok, lit(false)), 1L).otherwise(0L)).as(s"e$i")
    }
    val observation = new Observation()
    df.observe(observation, counters.head, counters.tail: _*)
      .write.format("noop").mode("overwrite").save()
    val row = observation.get
    expectations.zipWithIndex.map { case (e, i) =>
      Violation(e.name, row.get(s"e$i").collect { case n: Long => n }.getOrElse(0L))
    }
  }

  /** The gate: pass the batch through unchanged or abort the pipeline —
    * the reference's `assert result.success` (bpi_crawler.py:144-159).
    * Type expectations are checked first (no job); row expectations cost
    * one single-stage job. */
  def gate(df: DataFrame, rowExpectations: Seq[Expectation],
      typeExpectations: Seq[(String, DataType)] = Nil): DataFrame = {
    val schemaViolations = typeExpectations.flatMap { case (c, dt) => expectType(df, c, dt) }
    if (schemaViolations.nonEmpty) throw new ValidationFailedException(schemaViolations)
    val rowViolations = summarize(df, rowExpectations).filter(_.violations > 0)
    if (rowViolations.nonEmpty) throw new ValidationFailedException(rowViolations)
    df
  }
}
