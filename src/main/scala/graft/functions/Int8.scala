package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Fused int8-quantized cosine scoring. The declarative formulation
  * ([[graft.similarity.Ann.int8Codes]] + an integer-dot cosine; the
  * specs keep it as `ReferenceTwins.int8TopKDeclarative`) composes
  * `transform`/`aggregate`/`zip_with` — higher-order functions are
  * CodegenFallback in Spark: every row pays lambda interpretation over
  * every dimension, three times (codes, self-dot, probe-dot). This
  * expression quantizes the vector and accumulates both integer dots in
  * ONE generated-code call per row. Arithmetic is bit-identical to the
  * declarative twin (max over doubles is order-independent; the
  * explicit floor-half-up, the integer dots, and the final
  * division/sqrt are the same IEEE ops) — equivalence is spec'd, and
  * q70's DuckDB oracle holds for either form.
  */
object Int8 {

  /** Quantized cosine of `emb` (array<float>) against pre-quantized
    * probe codes with known self-dot `probeNorm2`. Returns 0.0 for the
    * zero vector (either side).
    */
  def int8CosineAgainst(emb: ArrayData, probeCodes: Array[Int],
      probeNorm2: Long): Double = {
    if (emb == null) return 0.0
    val n = emb.numElements()
    var mx = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(emb.getFloat(i).toDouble)
      if (a > mx) mx = a
      i += 1
    }
    if (mx == 0.0 || probeNorm2 == 0L) return 0.0
    var dot = 0L
    var na = 0L
    val m = math.min(n, probeCodes.length)
    i = 0
    while (i < m) {
      val c = math.floor(emb.getFloat(i).toDouble * 127.0 / mx + 0.5).toLong
      dot += c * probeCodes(i)
      na += c * c
      i += 1
    }
    // dims beyond the probe still contribute to the vector's own norm
    while (i < n) {
      val c = math.floor(emb.getFloat(i).toDouble * 127.0 / mx + 0.5).toLong
      na += c * c
      i += 1
    }
    if (na == 0L) 0.0
    else dot.toDouble / math.sqrt((na * probeNorm2).toDouble)
  }
}

/** Double quantized-cosine of an array<float> column vs literal probe
  * codes.
  */
case class Int8CosineExpr(child: Expression, probeCodes: Array[Int])
  extends UnaryExpression {

  override def dataType: DataType = DoubleType

  private lazy val probeNorm2: Long =
    probeCodes.map(c => c.toLong * c).sum

  // the codes array is embedded once as a generated-class field, not
  // re-materialized per row
  override protected def nullSafeEval(input: Any): Any =
    Int8.int8CosineAgainst(input.asInstanceOf[ArrayData], probeCodes, probeNorm2)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val codesRef = ctx.addReferenceObj("probeCodes", probeCodes, "int[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Int8.int8CosineAgainst($c, $codesRef, ${probeNorm2}L)")
  }

  override protected def withNewChildInternal(newChild: Expression): Int8CosineExpr =
    copy(child = newChild)
}

object Int8Cosine {
  def apply(emb: Column, probeCodes: Array[Int]): Column =
    GraftBridge.column(Int8CosineExpr(GraftBridge.expression(emb), probeCodes))
}
