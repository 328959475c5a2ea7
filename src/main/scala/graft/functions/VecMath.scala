package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Fused float/double vector cosine. The declarative formulation
  * (the specs' parity twin) composes `zip_with` +
  * `aggregate` — higher-order functions are CodegenFallback in Spark:
  * every row pays interpreted lambda dispatch and per-element boxing
  * over every dimension, THREE times (dot, both self-norms). This
  * expression accumulates all three sums in one generated-code call
  * per row — the [[Int8CosineExpr]] treatment applied to the plain
  * float cosine, which is the verify arithmetic on EVERY pairwise
  * path in the similarity stack (knnJoin ground truth, semdedup cell
  * verify, LSH candidate scoring, hard negatives, recall curves).
  *
  * Arithmetic is bit-identical to the declarative twin: the dot and
  * both norms accumulate left-to-right in double from the same
  * element casts, the denominator is the same `sqrt(naa) * sqrt(nbb)`
  * product, and the `when(den === 0.0, 0.0)` zero-vector rule and
  * null semantics are replicated exactly (either side null → null;
  * a null ELEMENT nulls that side's norm and therefore the result;
  * unequal lengths null the zip_with dot, so the result is null
  * unless the denominator is zero first — the declarative order of
  * evaluation). Equivalence is spec'd (PipelineSpec), and every
  * cosine-bearing DuckDB oracle holds for either form.
  */
case class VecCosineExpr(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_cosine needs array<float|double> inputs, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecMath.cosineOrNull(a.asInstanceOf[ArrayData], elemIsFloat(left),
      b.asInstanceOf[ArrayData], elemIsFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("cos")
      s"""
         |java.lang.Double $tmp = graft.functions.VecMath.cosineOrNull(
         |  $a, ${elemIsFloat(left)}, $b, ${elemIsFloat(right)});
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecCosineExpr =
    copy(left = newLeft, right = newRight)
}

/** Self-norm √Σxᵢ² of one vector — the PER-ROW half of the cosine,
  * split out so pairwise scans (probe×corpus cross joins, LSH-cell
  * self-joins) stop recomputing each side's norm once per PAIR:
  * [[VecCosineExpr]] runs three loops over the elements per pair
  * (dot + both self-norms), while norm(a)·norm(b) depends only on the
  * row. Precomputing the norms per side and scoring pairs with
  * [[VecDotOverDenExpr]] does one loop per pair — a 3× flop cut on
  * every |A|×|B| candidate path — with BIT-IDENTICAL arithmetic (same
  * left-to-right double accumulation from the same element casts,
  * same `sqrt`; the `sqrt(naa) * sqrt(nbb)` product becomes a plain
  * double multiply of the two precomputed norms, the identical IEEE
  * op). Null semantics follow the fused form's selfDot: null array or
  * null element → null.
  */
case class VecNormExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vec_norm needs array<float|double>, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    VecMath.normOrNull(input.asInstanceOf[ArrayData], elemIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("nrm")
      s"""
         |java.lang.Double $tmp = graft.functions.VecMath.normOrNull(
         |  $c, $elemIsFloat);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): VecNormExpr = copy(child = newChild)
}

/** dot(a, b) / den with [[VecCosineExpr]]'s exact result semantics
  * when `den` is the product of the two sides' precomputed
  * [[VecNormExpr]] norms (see there for the equivalence argument,
  * spec'd in PipelineSpec): den = 0 → 0.0 (checked BEFORE the length
  * test, the declarative `when(den === 0.0, ...)` order), length
  * mismatch → null, any input null → null (a null element nulls that
  * side's norm and therefore den, so the dot loop below never sees
  * one). One loop over the elements per pair.
  */
case class VecDotOverDenExpr(a: Expression, b: Expression, den: Expression)
  extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def first: Expression = a
  override def second: Expression = b
  override def third: Expression = den

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(a) && ok(b) && den.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot_over_den needs (array<float|double>, array<float|double>, " +
        s"double), got ${a.dataType.catalogString}, " +
        s"${b.dataType.catalogString}, ${den.dataType.catalogString}")
  }

  override protected def nullSafeEval(av: Any, bv: Any, dv: Any): Any =
    VecMath.dotOverDen(av.asInstanceOf[ArrayData], elemIsFloat(a),
      bv.asInstanceOf[ArrayData], elemIsFloat(b),
      dv.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (av, bv, dv) => {
      val tmp = ctx.freshName("dod")
      s"""
         |java.lang.Double $tmp = graft.functions.VecMath.dotOverDen(
         |  $av, ${elemIsFloat(a)}, $bv, ${elemIsFloat(b)}, $dv);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): VecDotOverDenExpr =
    copy(a = newFirst, b = newSecond, den = newThird)
}

/** Fused portable-LSH bucketing: all `numPlanes` hyperplane
  * projections of one vector in a single pass over the elements,
  * replacing numPlanes separate zip_with/aggregate interpreted folds
  * per row (the [[VecCosineExpr]] rationale applied to the bucketing
  * scan — the expression every corpus row pays in knnGraph, semdedup
  * cells, and the recall curves). Weights ride as one reference-object
  * field of the generated class. Arithmetic is bit-identical per plane
  * (same element casts, same left-to-right double accumulation, same
  * `>= 0` sign rule). Null semantics: the declarative form's
  * `when(proj >= 0, bit).otherwise(0)` sends a null projection (null
  * array, null element, or length ≠ dim under zip_with padding) to
  * bit 0 for EVERY plane — i.e. bucket 0 — so this expression returns
  * null for those inputs and the Column factory coalesces to 0.
  */
case class LshBucketPortableExpr(child: Expression,
    weights: Array[Array[Double]]) extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullable: Boolean = true

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lsh_bucket needs array<float|double>, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    VecMath.lshBucketOrNull(input.asInstanceOf[ArrayData], elemIsFloat, weights)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val wRef = ctx.addReferenceObj("planes", weights, "double[][]")
      val tmp = ctx.freshName("bkt")
      s"""
         |java.lang.Long $tmp = graft.functions.VecMath.lshBucketOrNull(
         |  $c, $elemIsFloat, $wRef);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.longValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): LshBucketPortableExpr = copy(child = newChild)
}

/** Fused minhash signature agreement: |{i : a(i) = b(i)}| / numHashes
  * over two array<string> signatures in one generated-code call —
  * the verify arithmetic of every incremental near-dup probe join
  * ([[graft.dedup.IncrementalDedup.sigAgreement]]'s declarative form
  * pays interpreted zip_with/when/aggregate per candidate pair).
  * Matching the declarative semantics: positions where either side is
  * null (including zip_with padding beyond the shorter array) count 0;
  * a null ARRAY on either side yields null.
  */
case class SigAgreementExpr(left: Expression, right: Expression,
    numHashes: Int) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression): Boolean = e.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sig_agreement needs array<string> inputs, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecMath.sigAgreement(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VecMath.sigAgreement($a, $b, $numHashes)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigAgreementExpr =
    copy(left = newLeft, right = newRight)
}

/** Fused scan-local kNN majority vote against a LITERAL seed set —
  * the whole [[graft.similarity.LabelPropagate]] per-row computation
  * (|seed| cosines → top-k selection → label vote) in one generated
  * call, zero shuffle, O(k) state beyond the row. The seed rides as
  * reference objects of the generated class (the literal-centroids /
  * probe-codes pattern), pre-sorted by id so ties resolve by strict
  * comparison in iteration order.
  *
  * Why not the bounded top-k AGGREGATE: per-ROW top-k means one group
  * per corpus row, and `ObjectHashAggregateExec` falls back to
  * SORT-based aggregation past
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
  * (default 128) distinct groups per task — at 8.2M rows the fallback
  * sorted the 3.3B-row score stream (measured: 77× wall at 64× growth,
  * 205 GB spill, ScaleSmoke label-propagate leg). Scan-local
  * evaluation removes the aggregate, the exchange, and the spill.
  *
  * Arithmetic: per-seed cosine is [[VecMath.cosineOrNull]]'s exact
  * sequence (seed vectors stored as double — the float→double cast is
  * exact); neighbor ties (cosine DESC, seed id ASC) and vote ties
  * (count DESC, label bytes ASC — unsigned UTF-8 order, Spark's own
  * string order) replicate the declarative rules. Null embedding or
  * null element → null result (caller filters).
  */
case class KnnVoteExpr(child: Expression, seedIds: Array[Long],
    seedEmbs: Array[Array[Double]], seedLabels: Array[Array[Byte]], k: Int)
  extends UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("label",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_votes",
        org.apache.spark.sql.types.LongType)))

  override def nullable: Boolean = true

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"knn_vote needs array<float|double>, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    VecMath.knnVote(input.asInstanceOf[ArrayData], elemIsFloat,
      seedIds, seedEmbs, seedLabels, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val idsRef = ctx.addReferenceObj("seedIds", seedIds, "long[]")
      val embsRef = ctx.addReferenceObj("seedEmbs", seedEmbs, "double[][]")
      val labsRef = ctx.addReferenceObj("seedLabels", seedLabels, "byte[][]")
      val tmp = ctx.freshName("vote")
      s"""
         |InternalRow $tmp = graft.functions.VecMath.knnVote(
         |  $c, $elemIsFloat, $idsRef, $embsRef, $labsRef, $k);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp; }
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): KnnVoteExpr = copy(child = newChild)
}

object VecMath {

  /** Column factory for [[VecCosineExpr]]. */
  def cosine(a: Column, b: Column): Column =
    GraftBridge.column(VecCosineExpr(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Column factory for [[LshBucketPortableExpr]] — the coalesce
    * restores the declarative bucket-0 fall-through for null/degenerate
    * inputs (see the expression scaladoc).
    */
  def lshBucketPortable(emb: Column, weights: Array[Array[Double]]): Column =
    org.apache.spark.sql.functions.coalesce(
      GraftBridge.column(LshBucketPortableExpr(
        GraftBridge.expression(emb), weights)),
      org.apache.spark.sql.functions.lit(0L))

  /** Column factory for [[VecNormExpr]]. */
  def norm(a: Column): Column =
    GraftBridge.column(VecNormExpr(GraftBridge.expression(a)))

  /** Column factory for [[VecDotOverDenExpr]]: cosine with both norms
    * precomputed per row — `cosinePre(a, b, norm(a) * norm(b))` is
    * bit-identical to `cosine(a, b)` (spec'd).
    */
  def cosinePre(a: Column, b: Column, den: Column): Column =
    GraftBridge.column(VecDotOverDenExpr(GraftBridge.expression(a),
      GraftBridge.expression(b), GraftBridge.expression(den)))

  /** Column factory for [[SigAgreementExpr]]. */
  def sigAgreement(a: Column, b: Column, numHashes: Int): Column =
    GraftBridge.column(SigAgreementExpr(
      GraftBridge.expression(a), GraftBridge.expression(b), numHashes))

  /** Self-dot Σ xᵢ², left to right in double; null when any element is
    * null (the zip_with(x, x) product-null propagation).
    */
  private def selfDot(x: ArrayData, isFloat: Boolean): java.lang.Double = {
    var acc = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      if (x.isNullAt(i)) return null
      val v = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
      acc += v * v
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** √(selfDot) — per-row norm for the precomputed-denominator cosine
    * (see [[VecNormExpr]]); called from generated code.
    */
  def normOrNull(a: ArrayData, isFloat: Boolean): java.lang.Double = {
    val s = selfDot(a, isFloat)
    if (s == null) null
    else java.lang.Double.valueOf(math.sqrt(s.doubleValue()))
  }

  /** dot(a, b) / den with [[cosineOrNull]]'s exact check order (den = 0
    * short-circuits to 0.0 BEFORE the length test); called from
    * generated code. The element loop skips null checks — a non-null
    * den proves both precomputed norms were non-null, i.e. neither
    * array holds a null element (same invariant the fused form relies
    * on after its selfDot passes).
    */
  def dotOverDen(a: ArrayData, aFloat: Boolean,
      b: ArrayData, bFloat: Boolean, den: Double): java.lang.Double = {
    if (den == 0.0) return java.lang.Double.valueOf(0.0)
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    java.lang.Double.valueOf(acc / den)
  }

  /** Cosine with the exact declarative-twin semantics (see
    * [[VecCosineExpr]]); called from generated code. Boxed return is
    * one allocation per ROW vs the interpreted fold's per-ELEMENT
    * lambda boxing.
    */
  def cosineOrNull(a: ArrayData, aFloat: Boolean,
      b: ArrayData, bFloat: Boolean): java.lang.Double = {
    val naa = selfDot(a, aFloat)
    val nbb = selfDot(b, bFloat)
    val den: java.lang.Double =
      if (naa == null || nbb == null) null
      else java.lang.Double.valueOf(
        math.sqrt(naa.doubleValue()) * math.sqrt(nbb.doubleValue()))
    // when(den === 0.0, 0.0): a null denominator falls through to the
    // otherwise branch (three-valued compare), so the order matters
    if (den != null && den.doubleValue() == 0.0)
      return java.lang.Double.valueOf(0.0)
    if (den == null) return null
    val n = a.numElements()
    if (n != b.numElements()) return null // zip_with pad → null product
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    java.lang.Double.valueOf(acc / den.doubleValue())
  }

  /** All-plane LSH bucket, or null when the declarative form's
    * projections would all be null (null/length-mismatched/null-element
    * input — the caller coalesces to bucket 0). Per plane: Σ xᵢ·wᵢ left
    * to right in double, bit set iff the sum is `>= 0` (NaN sums set
    * no bit, matching the three-valued compare).
    */
  def lshBucketOrNull(emb: ArrayData, isFloat: Boolean,
      weights: Array[Array[Double]]): java.lang.Long = {
    val dim = weights(0).length
    val n = emb.numElements()
    if (n != dim) return null
    var i = 0
    while (i < n) {
      if (emb.isNullAt(i)) return null
      i += 1
    }
    var bucket = 0L
    var p = 0
    while (p < weights.length) {
      val wp = weights(p)
      var acc = 0.0
      var j = 0
      while (j < dim) {
        val x = if (isFloat) emb.getFloat(j).toDouble else emb.getDouble(j)
        acc += x * wp(j)
        j += 1
      }
      if (acc >= 0.0) bucket |= (1L << p)
      p += 1
    }
    java.lang.Long.valueOf(bucket)
  }

  /** Column factory for [[KnnVoteExpr]]. `seeds` must be pre-sorted by
    * id (the tie-break contract); [[graft.similarity.LabelPropagate]]
    * sorts before calling.
    */
  def knnVoteColumn(emb: Column, seedIds: Array[Long],
      seedEmbs: Array[Array[Double]], seedLabels: Array[Array[Byte]],
      k: Int): Column =
    GraftBridge.column(KnnVoteExpr(GraftBridge.expression(emb),
      seedIds, seedEmbs, seedLabels, k))

  private def unsignedBytesLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    a.length < b.length
  }

  /** Per-row kNN vote (see [[KnnVoteExpr]]); called from generated
    * code. Returns null for a null-element embedding; seeds with a
    * mismatched dimension are skipped (documented contract — a seed
    * set is schema-uniform in practice).
    */
  def knnVote(emb: ArrayData, isFloat: Boolean, ids: Array[Long],
      seeds: Array[Array[Double]], labels: Array[Array[Byte]],
      k: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val d = emb.numElements()
    var naa = 0.0
    var i = 0
    while (i < d) {
      if (emb.isNullAt(i)) return null
      val v = if (isFloat) emb.getFloat(i).toDouble else emb.getDouble(i)
      naa += v * v
      i += 1
    }
    val sqa = math.sqrt(naa)
    val n = seeds.length
    val cos = new Array[Double](n)
    val ok = new Array[Boolean](n)
    var j = 0
    while (j < n) {
      val s = seeds(j)
      if (s.length == d) {
        var nbb = 0.0
        var dot = 0.0
        var t = 0
        while (t < d) {
          val x = if (isFloat) emb.getFloat(t).toDouble else emb.getDouble(t)
          dot += x * s(t)
          nbb += s(t) * s(t)
          t += 1
        }
        val den = sqa * math.sqrt(nbb)
        cos(j) = if (den == 0.0) 0.0 else dot / den
        ok(j) = true
      }
      j += 1
    }
    // O(n·k) selection — seeds arrive id-ascending, so strict > keeps
    // the smaller id on cosine ties
    val kk = math.min(k, n)
    val used = new Array[Boolean](n)
    val chosen = new Array[Int](kk)
    var picked = 0
    var r = 0
    while (r < kk && picked == r) {
      var best = -1
      var jj = 0
      while (jj < n) {
        if (ok(jj) && !used(jj) && (best < 0 || cos(jj) > cos(best))) best = jj
        jj += 1
      }
      if (best >= 0) {
        used(best) = true
        chosen(r) = best
        picked += 1
      }
      r += 1
    }
    if (picked == 0) return null // empty/degenerate seed set
    // majority vote over the picked neighbors: count per distinct
    // label, winner by (count desc, label bytes asc)
    var winner: Array[Byte] = null
    var winnerVotes = 0L
    var a = 0
    while (a < picked) {
      val lab = labels(chosen(a))
      // count lab among picked (recount is O(k²), k is small)
      var votes = 0L
      var b = 0
      while (b < picked) {
        if (java.util.Arrays.equals(labels(chosen(b)), lab)) votes += 1
        b += 1
      }
      if (winner == null || votes > winnerVotes ||
          (votes == winnerVotes && unsignedBytesLess(lab, winner))) {
        winner = lab
        winnerVotes = votes
      }
      a += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](org.apache.spark.unsafe.types.UTF8String.fromBytes(winner),
        winnerVotes))
  }

  /** Signature agreement fraction; positions where either side is null
    * — including the zip_with pad beyond the shorter array — count 0.
    * Called from generated code.
    */
  def sigAgreement(a: ArrayData, b: ArrayData, numHashes: Int): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var cnt = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) &&
          a.getUTF8String(i) == b.getUTF8String(i)) cnt += 1
      i += 1
    }
    cnt.toDouble / numHashes
  }
}
