package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for the operators whose inner loops Spark's
  * built-ins can't run fast: higher-order functions (`transform`,
  * `aggregate`, `zip_with`) are evaluated interpretively per element, which
  * turns the 128-permutation MinHash reduction and the N² cosine kernel
  * into expression-tree walks. Each kernel's loop is one function in
  * [[VectorKernels]] or [[ShingleUtil]]: interpreted `eval` calls it, and
  * `doGenCode` emits one static call to it (its arrays passed as reference
  * objects), so the hot paths stay inside whole-stage codegen and both
  * paths give bit-identical results, which the DuckDB oracle relies on.
  */
object GraftExpressions {

  /** Cosine similarity over two float-array columns, double accumulation,
    * sequential fold, dot/(sqrt(na)*sqrt(nb)) grouping — bit-identical to
    * VectorFunctions.cosine and the oracle's list-fold SQL. */
  case class CosineSimilarity(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "cosine_similarity"

    override def nullSafeEval(a: Any, b: Any): Any =
      VectorKernels.cosineSimilarity(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VectorKernels.cosineSimilarity($a, $b);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** LSH band-bucket hashes from an array of base shingle hashes: reduce
    * each base hash into [0,p), apply `as.length` affine permutations
    * keeping per-permutation minima, then fold each band of mins (+ band
    * index) into one bucket hash. p is [[VectorKernels.MinhashPrime]]. */
  case class MinhashBands(child: Expression, as: Array[Long], bs: Array[Long],
      bands: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash_bands"

    override def nullSafeEval(input: Any): Any =
      VectorKernels.minhashBands(input.asInstanceOf[ArrayData], as, bs, bands)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val asRef = ctx.addReferenceObj("minhashAs", as, "long[]")
        val bsRef = ctx.addReferenceObj("minhashBs", bs, "long[]")
        s"${ev.value} = graft.functions.VectorKernels.minhashBands($c, $asRef, $bsRef, $bands);"
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Charikar SimHash over an array of 64-bit token hashes: per bit, sum
    * +/-1 across tokens; emit the sign vector as one long. */
  case class SimHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash64"

    override def nullSafeEval(input: Any): Any =
      VectorKernels.simhash64(input.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.VectorKernels.simhash64($c);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** xxhash64 per whitespace token (multiset) — fused replacement for the
    * interpreted `transform(split(text, " "), t => xxhash64(t))`. The loop
    * lives in [[ShingleUtil]]; codegen emits one static call per row, so
    * the expression stays inside whole-stage codegen. */
  case class TokenHashes64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "token_hashes64"

    override def nullSafeEval(input: Any): Any =
      ShingleUtil.tokenHashes(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.ShingleUtil.tokenHashes($c);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** md5-derived token hashes (first 8 digest bytes, big-endian) — the
    * engine-portable hash identity used by SimHash so a SQL oracle can
    * reproduce it bit-for-bit (`('0x' || substr(md5(t),1,16))::UBIGINT`). */
  case class Md5TokenHashes64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "md5_token_hashes64"

    override def nullSafeEval(input: Any): Any =
      ShingleUtil.md5TokenHashes(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.ShingleUtil.md5TokenHashes($c);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Distinct 64-bit word-n-gram shingle hashes of a text column — the
    * fused tokenize→shingle→hash→distinct kernel replacing four
    * interpreted higher-order functions (split, sequence+transform+
    * concat_ws+slice, array_distinct, transform+xxhash64). Hash identity
    * differs from xxhash64-of-joined-string; downstream set algebra
    * (intersections, minhash, LSH banding) only needs determinism and
    * 64-bit spread. */
  case class ShingleHashes64(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "shingle_hashes64"

    override def nullSafeEval(input: Any): Any =
      ShingleUtil.shingleHashes(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.ShingleUtil.shingleHashes($c, $n);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Word-n-gram shingle STRINGS (multiset, for frequency counting) —
    * fused replacement for the interpreted sequence+transform+concat_ws+
    * slice chain. Each shingle is one byte-range copy of the source. */
  case class ShingleStrings(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "shingle_strings"

    override def nullSafeEval(input: Any): Any =
      ShingleUtil.shingleStrings(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.ShingleUtil.shingleStrings($c, $n);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Token-occurrence counts against k marker lexicons in one tokenize
    * pass — the language-ID kernel. `sets` is a Seq (structural equality),
    * so identical copies produced by projection collapse stay `equals` and
    * whole-stage codegen's subexpression elimination evaluates the kernel
    * once per row however many score columns reference it. */
  case class MarkerSetCounts(child: Expression, sets: Seq[Seq[String]])
      extends UnaryExpression {
    @transient private lazy val utf8Sets: Array[Array[org.apache.spark.unsafe.types.UTF8String]] =
      sets.map(_.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray).toArray
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "marker_set_counts"

    override def nullSafeEval(input: Any): Any =
      ShingleUtil.markerCounts(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], utf8Sets)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val ref = ctx.addReferenceObj("markerSets", utf8Sets,
          "org.apache.spark.unsafe.types.UTF8String[][]")
        s"${ev.value} = graft.functions.ShingleUtil.markerCounts($c, $ref);"
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Learned-vocabulary tokenization counts: WordPiece-style greedy
    * longest-match over each whitespace word against a trained vocab,
    * returning [n_units, n_unk] per document. The vocab ships with the
    * expression (like [[PqEncode]]'s codebooks) and becomes a codegen
    * reference object, so the segmentation loop runs inside whole-stage
    * codegen — one corpus pass computes learned-token budgets at 100 TB. */
  case class WordpieceCounts(child: Expression, vocab: Seq[String])
      extends UnaryExpression {
    @transient private lazy val vocabSet: java.util.HashSet[String] = {
      val s = new java.util.HashSet[String](vocab.size * 2)
      vocab.foreach(s.add)
      s
    }
    @transient private lazy val maxLen: Int =
      if (vocab.isEmpty) 1 else vocab.map(_.length).max
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "wordpiece_counts"

    override def nullSafeEval(input: Any): Any =
      ShingleUtil.wordpieceCounts(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        vocabSet, maxLen)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val ref = ctx.addReferenceObj("wordpieceVocab", vocabSet,
          "java.util.HashSet<String>")
        s"${ev.value} = graft.functions.ShingleUtil.wordpieceCounts($c, $ref, $maxLen);"
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** All L random-hyperplane LSH bucket signatures in one pass: bucket t
    * has bit b set iff dot(v, plane[t*bits+b]) >= 0 (the table index
    * rides along as the posexplode position downstream). Replaces
    * tables x bits interpreted `aggregate` folds per row. */
  case class HyperplaneBuckets(child: Expression, planes: Array[Array[Double]],
      tables: Int, bits: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "hyperplane_buckets"

    override def nullSafeEval(input: Any): Any =
      VectorKernels.hyperplaneBuckets(input.asInstanceOf[ArrayData], planes, tables, bits)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val pRef = ctx.addReferenceObj("hyperplanes", planes, "double[][]")
        s"${ev.value} = graft.functions.VectorKernels.hyperplaneBuckets($c, $pRef, $tables, $bits);"
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Per-row cosine against EVERY row of a frozen centroid matrix —
    * array<double> of K scores, position = cell id. Replaces K
    * per-centroid literal-array cosine columns: the matrix ships as ONE
    * reference object, so analyzed-plan size and generated-code size
    * stay O(1) in K where the literal form grew O(K·dim) — the blowup
    * the scale rig measured (9.5 s at 10× for a 1.3M-cosine job) once
    * the adaptive cell ladders let K grow past the 16-cell anchor.
    * Each score is [[CosineSimilarity]]'s fold against an array<float>
    * centroid literal. */
  case class CentroidScores(child: Expression, cents: Array[Array[Float]])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def prettyName: String = "centroid_scores"

    override def nullSafeEval(input: Any): Any =
      VectorKernels.centroidScores(input.asInstanceOf[ArrayData], cents)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val ct = ctx.addReferenceObj("centroids", cents, "float[][]")
        s"${ev.value} = graft.functions.VectorKernels.centroidScores($a, $ct);"
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Argmax cell over the frozen centroid matrix — the corpus-side
    * assignment as ONE int per row. The ranked-window formulation
    * ([[graft.operators.Similarity.rankedCells]] filtered to pr = 1)
    * explodes N·K scored rows through a shuffle just to keep the top
    * one; with the adaptive cell ladders (dedup K ∝ N) that is N² rows
    * — the scale rig measured it. Ordering semantics are the window's
    * exactly (score DESC with NaN greatest, ties to the lower cell) —
    * pinned against the window form in KernelSpec, zero-norm rows
    * included. */
  case class CellAssign(child: Expression, cents: Array[Array[Float]])
      extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "cell_assign"

    override def nullSafeEval(input: Any): Any =
      VectorKernels.cellAssign(input.asInstanceOf[ArrayData], cents)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val ct = ctx.addReferenceObj("centroids", cents, "float[][]")
        s"${ev.value} = graft.functions.VectorKernels.cellAssign($a, $ct);"
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Argmax leaf cell WITHIN a coarse group — the fine level of the
    * hierarchical (two-level) k-means assignment: `right` is the row's
    * coarse cell (the [[CellAssign]] output over the coarse codebook),
    * `groups(ccell)` its leaf centroids, and the result is the GLOBAL
    * leaf id `bases(ccell) + argmax` — so per-row cost is O(K₂·dim)
    * regardless of the total leaf count K = K₁·K₂ (the flat kernel's
    * O(K·dim) is exactly what the dedup tier's K ∝ N law cannot afford).
    * The argmax is [[CellAssign]]'s; global ids are (coarse, sub)-ordered,
    * so the within-group lowest-sub tie winner is also the lowest global
    * leaf id — the SQL replay's ROW_NUMBER (cs DESC, leaf ASC) picks the
    * identical row. A coarse cell that receives an assignment had >=1
    * corpus row at train time, hence >=1 trained leaf; an empty group
    * throws rather than mislabel (r15 ADVICE #3). */
  case class GroupCellAssign(left: Expression, right: Expression,
      groups: Array[Array[Array[Float]]], bases: Array[Int])
      extends BinaryExpression {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "group_cell_assign"

    override def nullSafeEval(input: Any, cellIn: Any): Any =
      VectorKernels.groupCellAssign(
        input.asInstanceOf[ArrayData], cellIn.asInstanceOf[Int], groups, bases)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, cellV) => {
        val gr = ctx.addReferenceObj("leafGroups", groups, "float[][][]")
        val bs = ctx.addReferenceObj("leafBases", bases, "int[]")
        s"${ev.value} = graft.functions.VectorKernels.groupCellAssign($a, $cellV, $gr, $bs);"
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Product-quantization encoder: L2-normalize the input vector, split it
    * into `m` contiguous subvectors, and emit for each the index of the
    * nearest (L2) codebook centroid — the array<int> of PQ codes that
    * compresses a d-dim float vector to m small ints. `codebooks` is the
    * flattened [m*ks][subDim] table (subspace-major). Ties break to the
    * lowest centroid index, so codes are engine-reproducible for a fixed
    * codebook. This is the corpus-side hot path of
    * [[graft.operators.Similarity]]'s ADC scan: one codegen'd pass over
    * 100 TB of vectors, after which queries only touch the 16-byte codes. */
  case class PqEncode(child: Expression, codebooks: Array[Array[Double]],
      m: Int, ks: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "pq_encode"

    override def nullSafeEval(input: Any): Any =
      VectorKernels.pqEncode(input.asInstanceOf[ArrayData], codebooks, m, ks)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val cbRef = ctx.addReferenceObj("pqCodebooks", codebooks, "double[][]")
        s"${ev.value} = graft.functions.VectorKernels.pqEncode($c, $cbRef, $m, $ks);"
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Residual product-quantization encoder (the FAISS `by_residual` form):
    * L2-normalize the input vector, subtract its cell's (pre-normalized)
    * centroid, and PQ-encode the RESIDUAL against residual-trained
    * codebooks. Residuals are much smaller in magnitude than the vectors
    * themselves, so the same code budget spends its resolution on the
    * within-cell differences that actually order an IVF cell's candidates —
    * the standard composition fix when IVF+PQ recall trails IVF alone.
    * The ADC side then scores dot(q̂, v̂) ≈ dot(q̂, ĉ_cell) + LUT(codes),
    * with the per-(query, cell) offset carried by the probe join.
    * `centroids` must already be L2-normalized; `cell` indexes into it. */
  case class PqEncodeResidual(left: Expression, right: Expression,
      centroids: Array[Array[Double]], codebooks: Array[Array[Double]],
      m: Int, ks: Int) extends BinaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "pq_encode_residual"

    override def nullSafeEval(input: Any, cellIn: Any): Any =
      VectorKernels.pqEncodeResidual(input.asInstanceOf[ArrayData],
        cellIn.asInstanceOf[Int], centroids, codebooks, m, ks)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (c, cellV) => {
        val cbRef = ctx.addReferenceObj("pqResCodebooks", codebooks, "double[][]")
        val ctRef = ctx.addReferenceObj("pqResCentroids", centroids, "double[][]")
        s"${ev.value} = graft.functions.VectorKernels.pqEncodeResidual(" +
          s"$c, $cellV, $ctRef, $cbRef, $m, $ks);"
      })

    override protected def withNewChildrenInternal(newLeft: Expression,
        newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  // Column wrappers — Spark 4 bridges Column <-> catalyst Expression via
  // the (private[sql]) classic ExpressionUtils, reached through
  // GraftColumnBridge.
  import org.apache.spark.sql.GraftColumnBridge.{column, expression}

  /** The shingle width argument must be a literal the planner can read:
    * reject non-foldable expressions and non-integral types with a clear
    * analysis-time error (a BIGINT literal widens; `eval().asInstanceOf`
    * would otherwise surface as an opaque ClassCastException, and a
    * non-foldable argument would eval against no row). */
  private def foldableIntArg(fn: String, e: Expression): Int = {
    // Two distinct failure modes, two distinct errors: a non-foldable
    // argument gets NON_FOLDABLE_ARGUMENT; a foldable-but-mistyped one
    // (string literal '3', a decimal, an int-overflowing long) gets the
    // data-type-mismatch class — "must be foldable" would mislead there.
    if (!e.foldable) throw new org.apache.spark.sql.AnalysisException(
      errorClass = "NON_FOLDABLE_ARGUMENT",
      messageParameters = Map(
        "funcName" -> s"`$fn`", "paramName" -> "`n`", "paramType" -> "\"INT\""))
    e.eval() match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      // CAST(NULL AS INT) is foldable AND int-typed: the type-mismatch
      // message would read "requires INT, got INT" — null needs its own
      // error before the type dispatch.
      case null => throw new org.apache.spark.sql.AnalysisException(
        errorClass = "DATATYPE_MISMATCH.UNEXPECTED_NULL",
        messageParameters = Map("sqlExpr" -> s"\"$fn\"", "exprName" -> "`n`"))
      case _ => throw new org.apache.spark.sql.AnalysisException(
        errorClass = "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
        messageParameters = Map(
          "sqlExpr" -> s"\"$fn\"", "paramIndex" -> "`n`",
          "requiredType" -> "\"INT\"",
          "inputSql" -> s"\"${e.sql}\"", "inputType" -> s"\"${e.dataType.sql}\""))
    }
  }

  /** Register the scalar expressions in a session's function registry so
    * they are callable from SQL text (`SELECT cosine_similarity(a, b)`),
    * not just the Scala DSL. Idempotent. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.createOrReplaceTempFunction("cosine_similarity",
      exprs => CosineSimilarity(exprs.head, exprs(1)), "scala_udf")
    registry.createOrReplaceTempFunction("simhash64",
      exprs => SimHash64(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction("token_hashes64",
      exprs => TokenHashes64(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction("md5_token_hashes64",
      exprs => Md5TokenHashes64(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction("shingle_hashes64",
      exprs => ShingleHashes64(exprs.head,
        foldableIntArg("shingle_hashes64", exprs(1))), "scala_udf")
    registry.createOrReplaceTempFunction("shingle_strings",
      exprs => ShingleStrings(exprs.head,
        foldableIntArg("shingle_strings", exprs(1))), "scala_udf")
  }

  /** Centered projection of a float-array vector onto a fixed double
    * basis: out[c] = Σ_i (x_i − mean_i) · basis_c_i, sequential fold in
    * dimension order — the codegen replacement for the interpreted
    * `transform`/`zip_with`/`aggregate` HOF chain the PCA tier started
    * with (~basis·dim interpreted ops per row; the chain was the one
    * non-codegen hot path left in the serving tiers). The fold order and
    * grouping match the HOF formulation AND the DuckDB list-fold SQL, so
    * projections are bit-identical across all three (property-tested in
    * KernelSpec). */
  case class PcaProject(child: Expression, mean: Array[Double],
      basis: Array[Array[Double]]) extends UnaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def prettyName: String = "pca_project"

    override def nullSafeEval(input: Any): Any =
      VectorKernels.pcaProject(input.asInstanceOf[ArrayData], mean, basis)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, v => {
        val mRef = ctx.addReferenceObj("pcaMean", mean, "double[]")
        val bRef = ctx.addReferenceObj("pcaBasis", basis, "double[][]")
        s"${ev.value} = graft.functions.VectorKernels.pcaProject($v, $mRef, $bRef);"
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Squared norm of the mean-centered vector: Σ_i (x_i − mean_i)² —
    * the reconstruction-error companion of [[PcaProject]], same
    * sequential fold discipline. */
  case class CenteredNormSq(child: Expression, mean: Array[Double])
      extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "centered_norm_sq"

    override def nullSafeEval(input: Any): Any =
      VectorKernels.centeredNormSq(input.asInstanceOf[ArrayData], mean)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, v => {
        val mRef = ctx.addReferenceObj("pcaMean", mean, "double[]")
        s"${ev.value} = graft.functions.VectorKernels.centeredNormSq($v, $mRef);"
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def cosineFast(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))

  def pcaProject(v: Column, mean: Array[Double],
      basis: Array[Array[Double]]): Column =
    column(PcaProject(expression(v), mean, basis))

  def centeredNormSq(v: Column, mean: Array[Double]): Column =
    column(CenteredNormSq(expression(v), mean))

  def minhashBands(baseHashes: Column, as: Array[Long], bs: Array[Long],
      bands: Int): Column =
    column(MinhashBands(expression(baseHashes), as, bs, bands))

  def simhash64Fast(baseHashes: Column): Column =
    column(SimHash64(expression(baseHashes)))

  def tokenHashes64(text: Column): Column =
    column(TokenHashes64(expression(text)))

  def md5TokenHashes64(text: Column): Column =
    column(Md5TokenHashes64(expression(text)))

  def shingleHashes64(text: Column, n: Int): Column =
    column(ShingleHashes64(expression(text), n))

  def shingleStrings(text: Column, n: Int): Column =
    column(ShingleStrings(expression(text), n))

  def markerSetCounts(text: Column, sets: Seq[Seq[String]]): Column =
    column(MarkerSetCounts(expression(text), sets))

  def hyperplaneBuckets(v: Column, planes: Array[Array[Double]],
      tables: Int, bits: Int): Column =
    column(HyperplaneBuckets(expression(v), planes, tables, bits))

  def centroidScores(v: Column, cents: Array[Array[Float]]): Column =
    column(CentroidScores(expression(v), cents))

  def cellAssign(v: Column, cents: Array[Array[Float]]): Column =
    column(CellAssign(expression(v), cents))

  def groupCellAssign(v: Column, cell: Column,
      groups: Array[Array[Array[Float]]], bases: Array[Int]): Column =
    column(GroupCellAssign(expression(v), expression(cell), groups, bases))

  def pqEncode(v: Column, codebooks: Array[Array[Double]],
      m: Int, ks: Int): Column =
    column(PqEncode(expression(v), codebooks, m, ks))

  def pqEncodeResidual(v: Column, cell: Column,
      centroids: Array[Array[Double]], codebooks: Array[Array[Double]],
      m: Int, ks: Int): Column =
    column(PqEncodeResidual(expression(v), expression(cell),
      centroids, codebooks, m, ks))

  def wordpieceCounts(text: Column, vocab: Seq[String]): Column =
    column(WordpieceCounts(expression(text), vocab))
}
