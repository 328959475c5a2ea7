package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass hash-sketch expressions for the dedup operators.
  *
  * The declarative formulation (one `aggregate`/`transform` fold per
  * hash function / per bit) evaluates one md5 or xxhash64 expression
  * call per shingle per function — ~10 µs each through the expression
  * interpreter, which at 4 hashes × hundreds of shingles × millions of
  * documents dominates the pipeline. These expressions compute the whole
  * sketch in one generated-code call: one tokenizer pass, one reused
  * digest, all mins/counters updated together. Semantics are unchanged
  * (verified against the declarative twin in DedupSpec).
  */
object HashSketches {

  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val hexDigits = "0123456789abcdef".toCharArray

  private def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      out(2 * i) = hexDigits(b >>> 4)
      out(2 * i + 1) = hexDigits(b & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Walk the word k-shingles of `text` (k consecutive tokens joined
    * by one space; texts shorter than k tokens yield the whole text) —
    * the single shared shingle convention of every sketch below.
    * split(-1) keeps trailing empty segments, matching Spark's split().
    */
  private def foreachShingle(text: String, k: Int)(f: String => Unit): Unit = {
    val toks = text.split(" ", -1)
    if (toks.length < k) { f(text); return }
    val nShingles = toks.length - k + 1
    var s = 0
    while (s < nShingles) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(s + j))
        j += 1
      }
      f(sb.toString)
      s += 1
    }
  }

  /** MinHash signature: for i in 0 until numHashes, min over word
    * k-shingles of hex(md5(s"$i|$shingle")) — exactly the per-column
    * formulation in graft.dedup.Dedup, one pass.
    */
  def minhashSignature(text: String, numHashes: Int, k: Int): Array[String] = {
    val mins = new Array[String](numHashes)
    val md = mdLocal.get()
    foreachShingle(text, k) { shingle =>
      var i = 0
      while (i < numHashes) {
        md.reset()
        val h = hex(md.digest((i + "|" + shingle)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        if (mins(i) == null || h.compareTo(mins(i)) < 0) mins(i) = h
        i += 1
      }
    }
    mins
  }

  def minhashArray(text: UTF8String, numHashes: Int, k: Int): ArrayData = {
    if (text == null) return new GenericArrayData(Array.empty[Any])
    new GenericArrayData(minhashSignature(text.toString, numHashes, k)
      .map(s => UTF8String.fromString(s): Any))
  }

  /** Winnowing fingerprints (sorted distinct window-mins of 60-bit
    * md5-derived k-gram hashes) in one pass: one tokenizer walk, one
    * reused digest per gram, window mins over a ring walk. The gram
    * hash equals `conv(substring(md5(gram), 1, 15), 16, 10)` — the top
    * 60 bits of the digest — so the specs' declarative twin and any
    * SQL oracle reproduce it bit-for-bit.
    */
  def winnowFingerprints(text: String, k: Int, w: Int): Array[Long] = {
    val md = mdLocal.get()
    val hashBuf = scala.collection.mutable.ArrayBuffer.empty[Long]
    foreachShingle(text, k) { gram =>
      md.reset()
      val d = md.digest(gram.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 15 hex chars = bytes 0..6 plus the high nibble of byte 7
      var v = 0L
      var i = 0
      while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
      hashBuf += ((v << 4) | ((d(7) & 0xf0L) >>> 4))
    }
    val hashes = hashBuf.toArray
    val nShingles = hashes.length
    val kept = new java.util.TreeSet[java.lang.Long]()
    if (nShingles < w) {
      var m = hashes(0)
      var i = 1
      while (i < nShingles) { if (hashes(i) < m) m = hashes(i); i += 1 }
      kept.add(m)
    } else {
      var start = 0
      while (start + w <= nShingles) {
        var m = hashes(start)
        var i = start + 1
        while (i < start + w) { if (hashes(i) < m) m = hashes(i); i += 1 }
        kept.add(m)
        start += 1
      }
    }
    val out = new Array[Long](kept.size)
    val it = kept.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  def winnowArray(text: UTF8String, k: Int, w: Int): ArrayData = {
    if (text == null) return new GenericArrayData(Array.empty[Any])
    new GenericArrayData(winnowFingerprints(text.toString, k, w))
  }

  /** Portable 60-bit SimHash (md5-derived token hashes, per-bit
    * majority vote — the oracle-reproducible formulation of the
    * specs' declarative vote fold) in one pass: one
    * md5 per token, 60 counters updated together.
    */
  def simhashPortable60(text: String): Long = {
    val md = mdLocal.get()
    val votes = new Array[Int](60)
    val toks = text.split(" ", -1)
    var t = 0
    while (t < toks.length) {
      md.reset()
      val d = md.digest(toks(t).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 15 hex chars = bytes 0..6 plus the high nibble of byte 7
      var v = 0L
      var i = 0
      while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
      val h = (v << 4) | ((d(7) & 0xf0L) >>> 4)
      var b = 0
      while (b < 60) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      t += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** 64-bit SimHash over whitespace tokens with xxhash64 token hashes —
    * one hash per token, 64 counters updated per token (vs 64 separate
    * folds re-hashing every token).
    */
  def simhash64(text: UTF8String): Long = {
    if (text == null) return 0L
    val votes = new Array[Int](64)
    val s = text.toString
    var start = 0
    val n = s.length
    // every split segment, empties included — split() semantics
    while (start <= n) {
      var end = s.indexOf(' ', start)
      if (end < 0) end = n
      val tok = UTF8String.fromString(s.substring(start, end))
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(tok.getBaseObject, tok.getBaseOffset, tok.numBytes(), 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      start = end + 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

/** array<string> minhash signature of a text column. */
case class MinHashSignatureExpr(child: Expression, numHashes: Int, k: Int)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    HashSketches.minhashArray(input.asInstanceOf[UTF8String], numHashes, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashSketches.minhashArray($c, $numHashes, $k)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSignatureExpr =
    copy(child = newChild)
}

/** Portable 60-bit simhash of a text column. */
case class SimHashPortable60Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    HashSketches.simhashPortable60(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashSketches.simhashPortable60($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): SimHashPortable60Expr =
    copy(child = newChild)
}

/** 64-bit simhash of a text column. */
case class SimHash64Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    HashSketches.simhash64(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashSketches.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

/** array<long> winnowing fingerprint sketch of a text column. */
case class WinnowSketchExpr(child: Expression, k: Int, w: Int)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    HashSketches.winnowArray(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashSketches.winnowArray($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowSketchExpr =
    copy(child = newChild)
}

object MinHashSignature {
  def apply(text: Column, numHashes: Int = 4, k: Int = 3): Column =
    GraftBridge.column(MinHashSignatureExpr(GraftBridge.expression(text), numHashes, k))
}

object WinnowSketch {
  def apply(text: Column, k: Int = 3, w: Int = 4): Column =
    GraftBridge.column(WinnowSketchExpr(GraftBridge.expression(text), k, w))
}

object SimHash64 {
  def apply(text: Column): Column =
    GraftBridge.column(SimHash64Expr(GraftBridge.expression(text)))
}

object SimHashPortable60 {
  def apply(text: Column): Column =
    GraftBridge.column(SimHashPortable60Expr(GraftBridge.expression(text)))
}
