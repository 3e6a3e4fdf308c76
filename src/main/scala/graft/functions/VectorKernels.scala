package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** The loops of the vector kernels in [[GraftExpressions]], shared by the
  * interpreted `eval` and the generated code (top-level object => static
  * forwarders, so generated Java calls `VectorKernels.cellAssign(...)`
  * directly, as it calls [[ShingleUtil]]). One body per kernel, so the two
  * paths cannot drift apart.
  *
  * Arithmetic contract, which the DuckDB oracle's list folds replay
  * bit-for-bit: every float is widened to double before it is multiplied,
  * sums are a sequential left fold in dimension order, and a cosine is
  * grouped `d / (sqrt(na) * sqrt(nb))` with no zero-norm guard (0/0 is
  * NaN). Each kernel copies its float vector out of the row once
  * (`toFloatArray`), so the folds read a primitive array.
  */
object VectorKernels {

  /** Mersenne prime 2^31-1 for Carter-Wegman universal hashing: products
    * a*h stay under 2^62, so no Long overflow, and the modulus keeps the
    * family min-wise independent enough for LSH. A literal constant, so
    * `% MinhashPrime` compiles to a division by a constant. */
  final val MinhashPrime = 2147483647L

  private def cosine(x: Array[Float], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = x(i).toDouble
      val yi = y(i).toDouble
      d += xi * yi; na += xi * xi; nb += yi * yi; i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Cosine of two float vectors over their common prefix. */
  def cosineSimilarity(a: ArrayData, b: ArrayData): Double =
    cosine(a.toFloatArray(), b.toFloatArray())

  /** Cosine against every centroid; position = cell id. */
  def centroidScores(v: ArrayData, cents: Array[Array[Float]]): ArrayData = {
    val x = v.toFloatArray()
    val out = new Array[Double](cents.length)
    var c = 0
    while (c < cents.length) { out(c) = cosine(x, cents(c)); c += 1 }
    new GenericArrayData(out)
  }

  /** The best-scoring cell, in the ranked window's order: score DESC with
    * NaN greatest (`Double.compare`), ties to the lower cell (strict
    * `> 0`). 0 when there are no cells. */
  private def argmaxCell(x: Array[Float], cents: Array[Array[Float]]): Int = {
    var best = 0
    var bestScore = Double.NaN
    var c = 0
    while (c < cents.length) {
      val sc = cosine(x, cents(c))
      if (c == 0 || java.lang.Double.compare(sc, bestScore) > 0) {
        best = c; bestScore = sc
      }
      c += 1
    }
    best
  }

  def cellAssign(v: ArrayData, cents: Array[Array[Float]]): Int =
    argmaxCell(v.toFloatArray(), cents)

  /** The global leaf id `bases(cell) + argmax` within coarse cell `cell`'s
    * leaf group. An empty group would return the NEXT group's first leaf
    * id, a silent cross-group mislabel, so it throws instead. */
  def groupCellAssign(v: ArrayData, cell: Int,
      groups: Array[Array[Array[Float]]], bases: Array[Int]): Int = {
    val cents = groups(cell)
    if (cents.isEmpty) throw new IllegalStateException(
      s"group_cell_assign: empty leaf group for coarse cell $cell")
    bases(cell) + argmaxCell(v.toFloatArray(), cents)
  }

  /** Bucket t has bit b set iff dot(v, planes(t*bits+b)) >= 0. */
  def hyperplaneBuckets(v: ArrayData, planes: Array[Array[Double]],
      tables: Int, bits: Int): ArrayData = {
    val x = v.toFloatArray()
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var b = 0
      while (b < bits) {
        val p = planes(t * bits + b)
        var d = 0.0
        var i = 0
        while (i < x.length && i < p.length) { d += x(i).toDouble * p(i); i += 1 }
        if (d >= 0) bucket |= (1L << b)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Reduce each base hash into [0, p), keep the minimum of every affine
    * permutation (a*h + b) mod p, then fold each band of `as.length/bands`
    * minima (plus the band index) into one bucket hash. */
  def minhashBands(hashes: ArrayData, as: Array[Long], bs: Array[Long],
      bands: Int): ArrayData = {
    val numPerm = as.length
    val rowsPerBand = numPerm / bands
    val mins = Array.fill(numPerm)(Long.MaxValue)
    var j = 0
    while (j < hashes.numElements()) {
      val hm = java.lang.Math.floorMod(hashes.getLong(j), MinhashPrime)
      var i = 0
      while (i < numPerm) {
        val v = (as(i) * hm + bs(i)) % MinhashPrime
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      j += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 1125899906842597L
      var r = 0
      while (r < rowsPerBand) { h = h * 31 + mins(b * rowsPerBand + r); r += 1 }
      out(b) = h * 31 + b
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Charikar SimHash: per bit, +1 for every hash with the bit set and -1
    * for every hash without it; bit b of the result is set iff its count
    * is positive. */
  def simhash64(hashes: ArrayData): Long = {
    val cnt = new Array[Int](64)
    var j = 0
    while (j < hashes.numElements()) {
      val h = hashes.getLong(j)
      var b = 0
      while (b < 64) {
        cnt(b) += (((h >>> b) & 1L).toInt * 2) - 1
        b += 1
      }
      j += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (cnt(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** The first `m*(dim/m)` elements of `v` divided by its L2 norm (1 for a
    * zero vector): the part of the vector that PQ's `m` subspaces cover. */
  private def pqNormalized(v: ArrayData, m: Int): Array[Double] = {
    val x = v.toFloatArray()
    var nrm = 0.0
    var i = 0
    while (i < x.length) { val xi = x(i).toDouble; nrm += xi * xi; i += 1 }
    nrm = math.sqrt(nrm)
    if (nrm == 0.0) nrm = 1.0
    val r = new Array[Double](if (m == 0) 0 else x.length / m * m)
    i = 0
    while (i < r.length) { r(i) = x(i).toDouble / nrm; i += 1 }
    r
  }

  /** Per subspace s, the index of the codebook centroid nearest (L2) to
    * `r`'s s-th slice; ties to the lower index. `codebooks` is the
    * flattened [m*ks][subDim] table, subspace-major. */
  private def pqCodes(r: Array[Double], codebooks: Array[Array[Double]],
      m: Int, ks: Int): ArrayData = {
    val subDim = if (m == 0) 0 else r.length / m
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestD = Double.MaxValue
      var j = 0
      while (j < ks) {
        val cb = codebooks(s * ks + j)
        var d = 0.0
        var k = 0
        while (k < subDim && k < cb.length) {
          val diff = r(s * subDim + k) - cb(k)
          d += diff * diff
          k += 1
        }
        if (d < bestD) { bestD = d; best = j }
        j += 1
      }
      out(s) = best
      s += 1
    }
    new GenericArrayData(out)
  }

  def pqEncode(v: ArrayData, codebooks: Array[Array[Double]],
      m: Int, ks: Int): ArrayData =
    pqCodes(pqNormalized(v, m), codebooks, m, ks)

  /** PQ codes of the normalized vector's residual against `centroids(cell)`
    * (already L2-normalized). */
  def pqEncodeResidual(v: ArrayData, cell: Int, centroids: Array[Array[Double]],
      codebooks: Array[Array[Double]], m: Int, ks: Int): ArrayData = {
    val r = pqNormalized(v, m)
    val cent = centroids(cell)
    var i = 0
    while (i < r.length) { r(i) -= cent(i); i += 1 }
    pqCodes(r, codebooks, m, ks)
  }

  /** out(c) = sum_i (x_i - mean_i) * basis(c)(i), sequential fold. */
  def pcaProject(v: ArrayData, mean: Array[Double],
      basis: Array[Array[Double]]): ArrayData = {
    val x = v.toFloatArray()
    val dim = math.min(x.length, mean.length)
    val out = new Array[Double](basis.length)
    var c = 0
    while (c < basis.length) {
      val b = basis(c)
      var acc = 0.0
      var i = 0
      while (i < dim && i < b.length) {
        acc += (x(i).toDouble - mean(i)) * b(i)
        i += 1
      }
      out(c) = acc
      c += 1
    }
    new GenericArrayData(out)
  }

  /** sum_i (x_i - mean_i)^2, sequential fold. */
  def centeredNormSq(v: ArrayData, mean: Array[Double]): Double = {
    val x = v.toFloatArray()
    val dim = math.min(x.length, mean.length)
    var acc = 0.0
    var i = 0
    while (i < dim) {
      val d = x(i).toDouble - mean(i)
      acc += d * d
      i += 1
    }
    acc
  }
}
