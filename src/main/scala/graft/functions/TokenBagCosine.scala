package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd Catalyst expression for the token-bag cosine (reference
  * `cs`, local_explain.py:221-234) — the upgrade path SURVEY.md §2.9
  * names for the candidate-scoring hot path: unlike a Scala UDF there is
  * no catalyst↔Scala row conversion and no closure dispatch; whole-stage
  * generated code calls the static [[TokenBagCosine.compute]] directly.
  *
  * Semantics identical to [[TextSim.cosineBags]]: `\w+` tokens (ASCII
  * word chars, Java's default regex class), integer term frequencies,
  * double cosine.
  */
case class TokenBagCosineExpr(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    TokenBagCosine.compute(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.TokenBagCosine.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TokenBagCosineExpr =
    copy(left = newLeft, right = newRight)
}

object TokenBagCosine {

  /** Column factory. */
  def apply(a: Column, b: Column): Column =
    GraftBridge.column(TokenBagCosineExpr(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  private def isWord(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_'

  /** Term-frequency bag via a single char scan (no regex). */
  private def bag(s: String): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && !isWord(s.charAt(i))) i += 1
      val start = i
      while (i < n && isWord(s.charAt(i))) i += 1
      if (i > start) m.merge(s.substring(start, i), 1, (x, y) => x + y)
    }
    m
  }

  private def sumOfSquares(m: java.util.HashMap[String, Integer]): Double = {
    var sum = 0.0
    val it = m.values().iterator()
    while (it.hasNext) { val f = it.next().doubleValue; sum += f * f }
    sum
  }

  /** Cosine of the `\w+` term bags. Called from generated code (via the
    * object's static forwarder) — allocation-lean single-pass math. The
    * dot product walks the smaller bag and skips its misses in the
    * larger; every term is an integer-valued double, so the sums are
    * exact in any order.
    */
  def compute(a: UTF8String, b: UTF8String): Double = {
    if (a == null || b == null) return 0.0
    val va = bag(a.toString)
    val vb = bag(b.toString)
    if (va.isEmpty || vb.isEmpty) return 0.0
    val (small, large) = if (va.size <= vb.size) (va, vb) else (vb, va)
    var num = 0.0
    val it = small.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val g = large.get(e.getKey)
      if (g != null) num += e.getValue.doubleValue * g.doubleValue
    }
    val den = math.sqrt(sumOfSquares(va)) * math.sqrt(sumOfSquares(vb))
    if (den == 0.0) 0.0 else num / den
  }
}
