package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.{GraftExpressions, TextFunctions}

/** Equivalence tests for the fused codegen kernels against the reference
  * formulations they replaced (interpreted higher-order-function chains
  * and per-plane folds). Each property runs through a DataFrame so the
  * generated code path — not just the interpreted `eval` — is what's
  * exercised.
  */
class KernelSpec extends SparkSpec {
  import spark.implicits._

  private val N = 150

  private def texts: List[String] = {
    val word = Gen.oneOf("the", "cat", "sat", "on", "a", "mat", "x9", "Ü")
    val gen = for {
      n <- Gen.chooseNum(0, 12)
      ws <- Gen.listOfN(n, word)
    } yield ws.mkString(" ")
    Gen.listOfN(N, gen).apply(Gen.Parameters.default, Seed(7L)).get ++
      List("", " ", "a", "a b", "a  b", "a b c d", "tok tok tok")
  }

  test("TokenHashes64 equals transform(split, xxhash64)") {
    val df = texts.toDF("text")
    val bad = df.select(
        GraftExpressions.tokenHashes64(col("text")).as("fast"),
        transform(split(col("text"), " "), t => xxhash64(t)).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(bad == 0)
  }

  test("ShingleHashes64 is set-equivalent to the HOF shingle pipeline") {
    // Hash identities differ by design; set SIZES and pairwise Jaccard
    // (the only things downstream consumes) must agree exactly.
    val df = texts.toDF("text")
    val bad = df.select(
        size(GraftExpressions.shingleHashes64(col("text"), 3)).as("fast_n"),
        size(TextFunctions.shingles(col("text"), 3)).as("ref_n"))
      .filter(col("fast_n") =!= col("ref_n")).count()
    assert(bad == 0)
    // Jaccard parity over all text pairs: hashed-set intersections must
    // match string-set intersections (collision-free at these sizes).
    val sets = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .select(col("id"),
        GraftExpressions.shingleHashes64(col("text"), 3).as("hv"),
        TextFunctions.shingles(col("text"), 3).as("sv"))
    val badPairs = sets.as("a").join(sets.as("b"), col("a.id") < col("b.id"))
      .select(
        size(array_intersect(col("a.hv"), col("b.hv"))).as("hi"),
        size(array_intersect(col("a.sv"), col("b.sv"))).as("si"))
      .filter(col("hi") =!= col("si")).count()
    assert(badPairs == 0)
  }

  test("ShingleStrings equals the sequence+slice+concat_ws chain") {
    val df = texts.toDF("text")
    val t = TextFunctions.tokens(col("text"))
    val ref = when(size(t) >= 2,
      transform(sequence(lit(1), size(t) - 1),
        i => concat_ws(" ", slice(t, i, lit(2)))))
      .otherwise(array().cast("array<string>"))
    val bad = df.select(
        GraftExpressions.shingleStrings(col("text"), 2).as("fast"),
        ref.as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(bad == 0)
  }

  test("MarkerSetCounts equals size(filter(split, isin)) per set") {
    val sets = Seq(Seq("the", "a", "cat"), Seq("mat", "x9", "Ü"), Seq("zz"))
    val df = texts.toDF("text")
    // Reference side goes through TextFunctions.tokens (not a hardcoded
    // split) so this test pins kernel-vs-TOKENIZER equivalence: if
    // tokens() ever changes, the kernel must change with it or fail here.
    val ref = array(sets.map(ws =>
      size(filter(graft.functions.TextFunctions.tokens(col("text")),
        t => t.isin(ws.map(w => w: Any): _*))).cast("long")): _*)
    val bad = df.select(
        GraftExpressions.markerSetCounts(col("text"), sets).as("fast"),
        ref.as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(bad == 0)
  }

  test("Md5TokenHashes64 equals md5-hex-prefix parsing per token") {
    // Reference: first 16 hex chars of md5(token) parsed as two unsigned
    // 32-bit halves — the same identity the DuckDB oracle uses.
    val df = texts.toDF("text")
    val ref = transform(split(col("text"), " "), t =>
      shiftleft(conv(substring(md5(t), 1, 8), 16, 10).cast("long"), 32)
        .bitwiseOR(conv(substring(md5(t), 9, 8), 16, 10).cast("long")))
    val bad = df.select(
        GraftExpressions.md5TokenHashes64(col("text")).as("fast"), ref.as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(bad == 0)
  }

  test("HyperplaneBuckets equals per-plane hyperplaneSignature folds") {
    val dim = 16
    val vecGen = Gen.listOfN(dim, Gen.chooseNum(-1000, 1000).map(_ / 250.0f))
    val vecs = Gen.listOfN(60, vecGen).apply(Gen.Parameters.default, Seed(11L)).get
    val rnd = new scala.util.Random(3)
    val tables = 4
    val bits = 3
    val planes = Array.fill(tables * bits)(Array.fill(dim)(rnd.nextDouble() * 2 - 1))
    val df = vecs.map(v => Tuple1(v)).toDF("v")
      .select(col("v").cast("array<float>").as("v"))
    val refSig = (0 until tables).map { t =>
      graft.functions.VectorFunctions.hyperplaneSignature(
        col("v"), (0 until bits).map(b => planes(t * bits + b)))
    }
    val bad = df.select(
        GraftExpressions.hyperplaneBuckets(col("v"), planes, tables, bits).as("fast"),
        array(refSig: _*).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(bad == 0)
  }

  test("CentroidScores equals per-centroid literal-array cosine columns") {
    val dim = 16
    val rnd = new scala.util.Random(5)
    val k = 13 // deliberately not a power of two
    val cents = Array.fill(k)(Array.fill(dim)((rnd.nextFloat() - 0.5f) * 3f))
    val vecs = (0 until 70).map(_ =>
      Array.fill(dim)((rnd.nextFloat() - 0.5f) * 3f)) :+
      Array.fill(dim)(0.0f) // zero vector: NaN division must match too
    val df = vecs.map(v => Tuple1(v.toSeq)).toDF("v")
      .select(col("v").cast("array<float>").as("v"))
    // the formulation the kernel replaced: one cosine column per
    // centroid shipped as an array<float> literal
    val ref = array(cents.map(c =>
      GraftExpressions.cosineFast(col("v"),
        array(c.map(lit).toIndexedSeq: _*))): _*)
    val bad = df.select(
        GraftExpressions.centroidScores(col("v"), cents).as("fast"),
        ref.as("ref"))
      // NaN-safe elementwise compare: <=> treats NaN = NaN as true
      .filter(not(expr("fast <=> ref"))).count()
    assert(bad == 0)
  }

  test("CellAssign equals the ranked-window pr=1 assignment, NaN rows included") {
    val dim = 16
    val rnd = new scala.util.Random(17)
    val k = 11
    val cents = (Array.fill(k - 1)(
        Array.fill(dim)((rnd.nextFloat() - 0.5f) * 3f)) :+
      Array.fill(dim)(0.0f)).reverse // cell 0 zero-norm: NaN for every row
    val vecs = (0 until 90).map(i =>
      (i.toLong, Array.fill(dim)((rnd.nextFloat() - 0.5f) * 3f))) :+
      ((90L, Array.fill(dim)(0.0f))) // zero row: NaN against every cell
    val df = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val windowed = graft.operators.Similarity.rankedCells(df, cents.toSeq)
      .filter(col("pr") === 1)
      .select(col("vec_id"), col("cell").as("ref_cell"))
    val bad = graft.operators.Similarity.assignedCells(df, cents.toSeq)
      .select(col("vec_id"), col("cell"))
      .join(windowed, "vec_id")
      .filter(col("cell") =!= col("ref_cell")).count()
    assert(bad == 0)
  }

  test("GroupCellAssign equals the two-level ranked-window assignment") {
    val dim = 16
    val rnd = new scala.util.Random(23)
    val k1 = 4
    // ragged groups (3/1/4/2 leaves) so bases are non-trivial; one
    // zero-norm leaf (NaN score) and one zero row (NaN everywhere)
    val sizes = Array(3, 1, 4, 2)
    val coarse = Array.fill(k1)(Array.fill(dim)((rnd.nextFloat() - 0.5f) * 3f))
    val groups = sizes.map(sz =>
      Array.fill(sz)(Array.fill(dim)((rnd.nextFloat() - 0.5f) * 3f)))
    groups(2)(1) = Array.fill(dim)(0.0f) // zero-norm leaf in group 2
    val bases = groups.scanLeft(0)(_ + _.length).init
    val cb = graft.operators.Similarity.HierCodebook(coarse, groups, bases)
    val vecs = (0 until 90).map(i =>
      (i.toLong, Array.fill(dim)((rnd.nextFloat() - 0.5f) * 3f))) :+
      ((90L, Array.fill(dim)(0.0f)))
    val df = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    // reference: coarse pr=1 via the ranked window, then the leaf argmax
    // as an explicit join + ROW_NUMBER (score DESC, leaf ASC) — the SQL
    // replay's formulation (hierAssignCtesFor)
    val leaves = groups.zipWithIndex.flatMap { case (g, c) =>
      g.zipWithIndex.map { case (lv, s) => (bases(c) + s, c, lv.toSeq) }
    }.toSeq.toDF("leaf", "lcell", "lv")
      .select(col("leaf"), col("lcell"), col("lv").cast("array<float>").as("lv"))
    val coarseRef = graft.operators.Similarity.rankedCells(df, coarse.toSeq)
      .filter(col("pr") === 1)
      .select(col("vec_id"), col("embedding"), col("cell").as("ccell"))
    val wLeaf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("cs").desc, col("leaf").asc)
    val ref = coarseRef.join(leaves, col("lcell") === col("ccell"))
      .select(col("vec_id"), col("leaf"),
        GraftExpressions.cosineFast(col("embedding"), col("lv")).as("cs"))
      .withColumn("pr", row_number().over(wLeaf))
      .filter(col("pr") === 1)
      .select(col("vec_id"), col("leaf").as("ref_cell"))
    val bad = graft.operators.Similarity.hierAssignedCells(df, cb)
      .select(col("vec_id"), col("cell"))
      .join(ref, "vec_id")
      .filter(col("cell") =!= col("ref_cell")).count()
    assert(bad == 0)
  }

  test("GroupCellAssign fails loudly on an empty leaf group") {
    // An empty group would otherwise emit bases(ccell)+0 — the NEXT
    // group's first GLOBAL leaf id, a silent cross-group mislabel. The
    // invariant (an assigned coarse cell has >=1 trained leaf) holds
    // structurally today; this pins that a future refactor breaking it
    // throws instead of mislabeling (r15 ADVICE #3). Exercise BOTH the
    // codegen path (the DataFrame projection) and interpreted eval.
    val groups: Array[Array[Array[Float]]] =
      Array(Array(Array(1f, 0f)), Array.empty)
    val bases = Array(0, 1)
    val df = Seq((1L, Seq(0.5f, 0.5f), 1)).toDF("vec_id", "embedding", "ccell")
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"), col("ccell"))
    val codegenErr = intercept[Exception] {
      df.select(GraftExpressions.groupCellAssign(
        col("embedding"), col("ccell"), groups, bases).as("cell")).collect()
    }
    def rootMessage(t: Throwable): String = {
      var cur = t
      while (cur.getCause != null) cur = cur.getCause
      Option(cur.getMessage).getOrElse("")
    }
    assert(rootMessage(codegenErr).contains("empty leaf group"))
    val interpErr = intercept[IllegalStateException] {
      GraftExpressions.GroupCellAssign(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          Array(0.5f, 0.5f),
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType, containsNull = false)),
        org.apache.spark.sql.catalyst.expressions.Literal(1),
        groups, bases).eval(null)
    }
    assert(interpErr.getMessage.contains("empty leaf group"))
  }

  test("PcaProject/CenteredNormSq equal the HOF projection chain") {
    val rnd = new scala.util.Random(11)
    val dim = 16
    val vecs = (0 until 80).map(i =>
      (i.toLong, Array.fill(dim)((rnd.nextFloat() - 0.5f) * 3f)))
    val mean = Array.fill(dim)(rnd.nextDouble() - 0.5)
    val basis = Array.fill(5)(Array.fill(dim)(rnd.nextDouble() * 2 - 1))
    val df = vecs.toDF("vec_id", "embedding")
    val centered = transform(col("embedding"), (x, i) =>
      x.cast("double") - element_at(lit(mean), i + 1))
    val hofProj = array(basis.map { comp =>
      aggregate(zip_with(centered, lit(comp), (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x)
    }: _*)
    val hofCns = aggregate(transform(centered, x => x * x),
      lit(0.0), (a, b) => a + b)
    val bad = df.select(
        GraftExpressions.pcaProject(col("embedding"), mean, basis).as("fp"),
        hofProj.as("rp"),
        GraftExpressions.centeredNormSq(col("embedding"), mean).as("fc"),
        hofCns.as("rc"))
      .filter(col("fp") =!= col("rp") || col("fc") =!= col("rc"))
      .count()
    assert(bad == 0)
  }

  /** Rows read through an RDD scan: the optimizer folds a projection over
    * local rows (`Seq.toDF`) into a LocalRelation with interpreted eval, so
    * only a frame like this one runs a kernel's generated code. */
  private def scanned[T <: Product : scala.reflect.ClassTag :
      scala.reflect.runtime.universe.TypeTag](
      rows: Seq[T], names: String*): org.apache.spark.sql.DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2)).toDF(names: _*)

  private def literal(v: Any, t: org.apache.spark.sql.types.DataType) =
    org.apache.spark.sql.catalyst.expressions.Literal.create(v, t)

  private val hashRows: Seq[Seq[Long]] = {
    val rnd = new scala.util.Random(29)
    Seq.fill(40)(Seq.fill(rnd.nextInt(30) + 1)(rnd.nextLong())) ++
      Seq(Seq.empty[Long], Seq.fill(5)(0L), Seq(Long.MinValue, -1L, Long.MaxValue))
  }

  test("MinhashBands equals the affine-permutation minima and band fold") {
    import graft.operators.Dedup
    import graft.functions.VectorKernels.MinhashPrime
    def reference(hs: Seq[Long]): Seq[Long] = {
      val mins = Dedup.permAs.indices.map { i =>
        (Long.MaxValue +: hs.map(h => (Dedup.permAs(i) *
          java.lang.Math.floorMod(h, MinhashPrime) + Dedup.permBs(i)) % MinhashPrime)).min
      }
      val r = mins.length / Dedup.Bands
      (0 until Dedup.Bands).map(b =>
        mins.slice(b * r, b * r + r).foldLeft(1125899906842597L)(_ * 31 + _) * 31 + b)
    }
    val df = scanned(hashRows.zipWithIndex.map { case (h, i) => (i, h) }, "id", "h")
      .select(col("id"), Dedup.bandBuckets(col("h")).as("bands"))
    val got = df.collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    hashRows.zipWithIndex.foreach { case (hs, i) =>
      val want = reference(hs)
      assert(got(i) == want, s"codegen, row $i")
      val ev = GraftExpressions.MinhashBands(
        literal(hs.toArray, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = false)),
        Dedup.permAs, Dedup.permBs, Dedup.Bands).eval(null)
      assert(ev.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toLongArray().toSeq == want, s"eval, row $i")
    }
    // the kernel projection runs inside whole-stage codegen
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    assert(flattenPlan(df.queryExecution.executedPlan).exists {
      case w: WholeStageCodegenExec =>
        w.child.exists(_.expressions.exists(
          _.exists(_.isInstanceOf[GraftExpressions.MinhashBands])))
      case _ => false
    }, df.queryExecution.executedPlan.treeString)
  }

  test("SimHash64 equals the per-bit sign count") {
    def reference(hs: Seq[Long]): Long = (0 until 64).foldLeft(0L) { (out, b) =>
      val ones = hs.count(h => ((h >>> b) & 1L) == 1L)
      if (ones > hs.size - ones) out | (1L << b) else out
    }
    val got = scanned(hashRows.zipWithIndex.map { case (h, i) => (i, h) }, "id", "h")
      .select(col("id"), GraftExpressions.simhash64Fast(col("h")))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    hashRows.zipWithIndex.foreach { case (hs, i) =>
      val want = reference(hs)
      assert(got(i) == want, s"codegen, row $i")
      val ev = GraftExpressions.SimHash64(literal(hs.toArray,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = false))).eval(null)
      assert(ev == want, s"eval, row $i")
    }
  }

  test("PqEncodeResidual: codes match a Scala re-implementation") {
    val rnd = new scala.util.Random(31)
    val dim = 16
    val (m, ks, k) = (4, 5, 3)
    val subDim = dim / m
    val cents = graft.operators.Similarity.l2NormalizedCentroids(
      Seq.fill(k)(Array.fill(dim)(rnd.nextFloat() - 0.5f)))
    val cbs = Array.fill(m * ks)(Array.fill(subDim)((rnd.nextDouble() - 0.5) / 4))
    val vecs = (0 until 60).map(_ => Array.fill(dim)((rnd.nextFloat() - 0.5f) * 3f)) ++
      Seq(Array.fill(dim)(0.0f), Array.empty[Float]) // zero-norm, empty
    def reference(v: Array[Float], cell: Int): Seq[Int] = {
      val x = v.map(_.toDouble)
      val n0 = math.sqrt(x.map(a => a * a).sum)
      val nrm = if (n0 == 0) 1.0 else n0
      val sd = x.length / m
      (0 until m).map { s =>
        (0 until ks).minBy { j =>
          (0 until sd).map { q =>
            val p = s * sd + q
            val d = x(p) / nrm - cents(cell)(p) - cbs(s * ks + j)(q); d * d
          }.sum
        }
      }
    }
    val rows = vecs.zipWithIndex.map { case (v, i) => (i, v.toSeq, i % k) }
    val got = scanned(rows, "id", "v", "cell")
      .select(col("id"), GraftExpressions.pqEncodeResidual(
        col("v").cast("array<float>"), col("cell"), cents, cbs, m, ks))
      .collect().map(r => r.getInt(0) -> r.getSeq[Int](1)).toMap
    rows.foreach { case (i, v, cell) =>
      val want = reference(v.toArray, cell)
      assert(got(i) == want, s"codegen, row $i")
      val ev = GraftExpressions.PqEncodeResidual(
        literal(v.toArray, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = false)),
        literal(cell, org.apache.spark.sql.types.IntegerType),
        cents, cbs, m, ks).eval(null)
      assert(ev.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toIntArray().toSeq == want, s"eval, row $i")
    }
  }

  test("all custom expressions are callable from SQL text") {
    GraftExpressions.register(spark)
    Seq("a b c", "").toDF("t").createOrReplaceTempView("kernel_sql_v")
    val r = spark.sql("""
      SELECT size(token_hashes64(t)) AS n1,
             size(md5_token_hashes64(t)) AS n2,
             size(shingle_hashes64(t, 2)) AS n3,
             size(shingle_strings(t, 2)) AS n4,
             simhash64(token_hashes64(t)) AS sh
      FROM kernel_sql_v ORDER BY n1 DESC""").collect()
    assert(r(0).getInt(0) == 3 && r(0).getInt(1) == 3 &&
      r(0).getInt(2) == 2 && r(0).getInt(3) == 2)
    assert(r(1).getInt(0) == 1) // empty text = one empty token
  }

  test("shingle width validation: distinct errors for non-foldable vs mistyped") {
    import org.apache.spark.sql.AnalysisException
    GraftExpressions.register(spark)
    Seq(("a b c", 2)).toDF("t", "n").createOrReplaceTempView("kernel_arg_v")
    val nonFoldable = intercept[AnalysisException] {
      spark.sql("SELECT shingle_hashes64(t, n) FROM kernel_arg_v").collect()
    }
    assert(nonFoldable.getCondition == "NON_FOLDABLE_ARGUMENT", nonFoldable.getMessage)
    val mistyped = intercept[AnalysisException] {
      spark.sql("SELECT shingle_hashes64(t, '3') FROM kernel_arg_v").collect()
    }
    assert(mistyped.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
      mistyped.getMessage)
    assert(mistyped.getMessage.contains("INT"), mistyped.getMessage)
    val nullArg = intercept[AnalysisException] {
      spark.sql("SELECT shingle_hashes64(t, CAST(NULL AS INT)) FROM kernel_arg_v")
        .collect()
    }
    assert(nullArg.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_NULL",
      nullArg.getMessage)
  }

  test("TopKByScore bounded aggregate equals the window row_number form") {
    // Force many partitions so partial buffers must merge, and include
    // ties (same score, different ids) to pin the deterministic order.
    val rows = (1L to 500L).map(i => (i % 13, (i % 7).toDouble, i))
    val df = rows.toDF("g", "score", "id").repartition(11)
    val got = df.groupBy(col("g"))
      .agg(graft.functions.TopKAggregate.topkByScore(col("score"), col("id"), 4)
        .as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("g"), col("e.score").as("score"), col("e.id").as("id"),
        (col("pos") + 1).cast("long").as("rn"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
      .orderBy(col("score").desc, col("id").asc)
    val ref = df.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 4)
      .select(col("g"), col("score"), col("id"), col("rn"))
    assert(got.except(ref).count() == 0 && ref.except(got).count() == 0)
    assert(got.count() == ref.count())
  }

  test("dedupGroups labels match a local union-find over the pair set") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf)
    val pairs = Dedup.ngramJaccardPairs(docs)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val got = Dedup.dedupGroupsOf(docs)
      .as[(Long, Long)].collect().toMap
    val docIds = docs.select(col("doc_id")).as[Long].collect()
    docIds.foreach { d =>
      assert(got(d) == find(d), s"doc $d")
    }
  }

  test("large/small-star components equal union-find on random graphs") {
    import graft.operators.Dedup
    def unionFind(edges: Seq[(Long, Long)]): Long => Long = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      find
    }
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 2) {
      val n = 200
      val edges = Seq.fill(250)(
          (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val got = Dedup.largeSmallStarComponents(edges.toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect().toMap
      val expect = unionFind(edges)
      val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
      verts.foreach(v => assert(got(v) == expect(v), s"trial $trial vertex $v"))
      assert(got.size == verts.size)
    }
  }

  test("large/small-star converges in O(log n) rounds on a 10k-vertex path") {
    import graft.operators.Dedup
    // A path graph is the worst case for min-label propagation (diameter
    // = n, so 10k rounds); large/small-star must finish inside the
    // logarithmic budget or throw.
    val n = 10000
    val path = (0L until (n - 1).toLong).map(i => (i, i + 1))
      .toDF("doc_a", "doc_b")
    val labels = Dedup.largeSmallStarComponents(path, maxIters = 20)
      .as[(Long, Long)].collect()
    assert(labels.length == n)
    assert(labels.forall(_._2 == 0L)) // one component, min-labeled
  }

  test("WordpieceCounts equals an independent greedy reimplementation") {
    // independent greedy longest-match, written against the CONTRACT
    // (not the kernel's code): per word consume the longest vocab prefix,
    // unmatched positions take one char as an UNK unit
    def reference(text: String, vocab: Set[String]): (Long, Long) = {
      val maxLen = if (vocab.isEmpty) 1 else vocab.map(_.length).max
      var units = 0L; var unk = 0L
      text.split(" ", -1).foreach { word =>
        var i = 0
        while (i < word.length) {
          val j = (math.min(word.length, i + maxLen) to (i + 1) by -1)
            .find(e => vocab.contains(word.substring(i, e)))
          j match {
            case Some(e) => units += 1; i = e
            case None => units += 1; unk += 1; i += 1
          }
        }
      }
      (units, unk)
    }
    val vocab = Seq("the", "cat", "at", "a", "b", "c", "m", "s", "t", "x", "Ü")
    val df = texts.toDF("text")
    val got = df.select(col("text"),
        GraftExpressions.wordpieceCounts(col("text"), vocab).as("wc"))
      .collect().map(r => r.getString(0) -> (r.getSeq[Long](1)(0), r.getSeq[Long](1)(1)))
    got.foreach { case (t, counts) =>
      assert(counts == reference(t, vocab.toSet), s"text '$t'")
    }
    // hand-pinned greedy semantics: "ab" has no "ab" entry -> "a"+"b";
    // "mat" -> "m"+"at" (longest prefix wins over char-by-char);
    // "z" is not in vocab -> one UNK unit
    val pinned = Seq("ab mat z").toDF("text")
      .select(GraftExpressions.wordpieceCounts(col("text"),
        vocab).as("wc")).collect().head.getSeq[Long](0)
    assert(pinned == Seq(5L, 1L), s"got $pinned") // a,b | m,at | z(unk)
  }

  test("wordpieceTokens query: deterministic, ws-token lower bound holds") {
    import graft.operators.TextAnalysis
    val a = TextAnalysis.wordpieceTokens(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val b = TextAnalysis.wordpieceTokens(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(a == b) // vocab training + segmentation fully deterministic
    assert(a.nonEmpty)
    // every whitespace word yields >= 1 unit, so n_units >= n_ws_tokens;
    // corpus words are in-vocab chars, so no UNKs on this testdata
    TextAnalysis.wordpieceTokens(spark, sf).collect().foreach { r =>
      assert(r.getLong(1) >= r.getLong(3), s"doc ${r.getLong(0)}")
      assert(r.getLong(2) == 0L, s"unexpected UNK in doc ${r.getLong(0)}")
    }
  }

  test("wordpiece char cap is not reached at verification scale") {
    import graft.operators.TextAnalysis
    // The WordpieceMaxChars back-off cap changes tokenizer output (UNK
    // segmentation) once a corpus holds more distinct codepoints than the
    // cap, and text_wordpiece_tokens has no oracle to catch that drift.
    // Pin the headroom: if a corpus change pushes the alphabet toward the
    // cap, this fails loudly instead of silently altering outputs.
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val distinctChars = Tables.documents(spark, dir)
        .select(explode(split(col("text"), "")).as("ch"))
        .filter(col("ch") =!= " " && length(col("ch")) > 0)
        .select(col("ch")).distinct().count()
      assert(distinctChars < TextAnalysis.WordpieceMaxChars,
        s"$dir: $distinctChars distinct chars >= cap " +
          s"${TextAnalysis.WordpieceMaxChars} — vocab back-off now truncates " +
          "and wordpiece outputs silently change")
    }
  }
}
