package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns as pure Column
  * expressions (`zip_with` + `aggregate` — codegen-friendly, no UDFs).
  *
  * Precision contract: every element is cast float→double (exact) BEFORE
  * multiplication, and sums are a sequential left fold in double. This is
  * bit-identical to DuckDB's `list_sum(list_transform(list_zip(...)))` in
  * double, so cosine scores hash-match the oracle with no rounding fudge —
  * and, because the fold order is fixed per row (not partition-dependent),
  * results are reproducible across cluster layouts.
  */
object VectorFunctions {

  /** Dot product in double precision, sequential fold. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, grouped exactly as dot / (norm(a) * norm(b)) —
    * keep this grouping when precomputing norms, or bits drift. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Sign-bit signature against a fixed set of hyperplanes (random-
    * hyperplane LSH): bit i set iff dot(v, plane_i) >= 0. */
  def hyperplaneSignature(v: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val planeCol = array(p.map(lit): _*)
      when(dot(v, planeCol) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))
}
