package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType,
  StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass hash-sketch and shingle-set kernels for the dedup
  * operators.
  *
  * The declarative formulation (one `aggregate`/`transform` fold per
  * hash function / per bit) evaluates one md5 or xxhash64 expression
  * call per shingle per function — ~10 µs each through the expression
  * interpreter, which at 4 hashes × hundreds of shingles × millions of
  * documents dominates the pipeline. These expressions compute the whole
  * sketch in one generated-code call: the text encoded once, its
  * shingles walked as byte ranges of that encoding ([[Shingles]]), one
  * reused digest reset once per document, all mins/counters updated
  * together. The minhash loop digests each `i|` + shingle in one update
  * into a reused 16-byte buffer and keeps its mins as bytes, so a
  * shingle costs no string, hex or array allocation.
  *
  * The near-dup verify scores pairs on the same shingles: [[shingleSet]]
  * is a document's sorted distinct shingle array and [[jaccardSorted]]
  * counts the intersection of two such arrays in one merge walk — no
  * per-pair hash set. Semantics are unchanged: every kernel equals its
  * declarative twin bit for bit (SketchEquivalenceSpec).
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

  private val utf8 = java.nio.charset.StandardCharsets.UTF_8

  /** The word k-shingles of a text as byte ranges — the single shared
    * shingle convention of every kernel below: k consecutive
    * `split(" ", -1)` tokens joined by one space (split(-1) keeps
    * trailing empty segments, matching Spark's split()), and a text
    * shorter than k tokens (`whole`) is one shingle, itself. UTF-8
    * encodes only the space as 0x20 and is concatenative, so tokens
    * split at each 0x20 byte of the text's UTF-8 and shingle s is the
    * byte range `line[from(s), from(s) + len(s))`. `line` holds the text
    * behind `pad` free bytes, room for a digest prefix in front of the
    * first shingle.
    */
  private final class Shingles(text: String, k: Int, pad: Int) {
    val line: Array[Byte] = {
      val b = text.getBytes(utf8)
      val l = if (pad == 0) b else new Array[Byte](pad + b.length)
      if (pad > 0) System.arraycopy(b, 0, l, pad, b.length)
      l
    }
    // token t starts at starts(t); starts(nTokens) is one past the end
    private val starts: Array[Int] = {
      var n = 1
      var p = pad
      while (p < line.length) { if (line(p) == ' ') n += 1; p += 1 }
      val st = new Array[Int](n + 1)
      st(0) = pad
      var t = 1
      p = pad
      while (p < line.length) { if (line(p) == ' ') { st(t) = p + 1; t += 1 }; p += 1 }
      st(n) = line.length + 1
      st
    }
    private val nTokens = starts.length - 1
    val whole: Boolean = nTokens < k
    private val width = if (whole) nTokens else k
    val count: Int = nTokens - width + 1
    def from(s: Int): Int = starts(s)
    def len(s: Int): Int = starts(s + width) - 1 - starts(s)
  }

  /** MinHash signature: for i in 0 until numHashes, min over word
    * k-shingles of hex(md5(s"$i|$shingle")) — exactly the per-column
    * formulation in graft.dedup.Dedup, one pass. Each digest is one
    * update over `i|` written in place just in front of the shingle's
    * bytes (the bytes before a shingle are never read again: shingles
    * start in increasing order) into one reused 16-byte buffer; each
    * running min stays a digest, compared unsigned — the order of its
    * lowercase hex — and only the final mins are hex-encoded.
    */
  def minhashSignature(text: String, numHashes: Int, k: Int): Array[String] = {
    val md = mdLocal.get()
    md.reset()
    val prefixes = Array.tabulate(numHashes)(i => s"$i|".getBytes(utf8))
    val sh = new Shingles(text, k, if (numHashes == 0) 0 else prefixes.last.length)
    val line = sh.line
    val buf = new Array[Byte](16)
    val mins = new Array[Array[Byte]](numHashes)
    var s = 0
    while (s < sh.count) {
      val from = sh.from(s)
      val len = sh.len(s)
      var i = 0
      while (i < numHashes) {
        val p = prefixes(i)
        System.arraycopy(p, 0, line, from - p.length, p.length)
        md.update(line, from - p.length, len + p.length)
        md.digest(buf, 0, 16) // also resets the digest
        if (mins(i) == null) mins(i) = buf.clone()
        else if (java.util.Arrays.compareUnsigned(buf, mins(i)) < 0)
          System.arraycopy(buf, 0, mins(i), 0, 16)
        i += 1
      }
      s += 1
    }
    mins.map(hex)
  }

  def minhashArray(text: UTF8String, numHashes: Int, k: Int): ArrayData = {
    if (text == null) return new GenericArrayData(Array.empty[Any])
    new GenericArrayData(minhashSignature(text.toString, numHashes, k)
      .map(s => UTF8String.fromString(s): Any))
  }

  /** The set a near-dup pair is scored on: the distinct word
    * k-shingles of `text` (see [[Shingles]]), sorted by their UTF-8
    * bytes. A text shorter than k tokens is its own one shingle, kept
    * with the bytes it came in; a null text yields `[null]`.
    */
  def shingleSet(text: UTF8String, k: Int): ArrayData = {
    if (text == null) return new GenericArrayData(Array[Any](null))
    val sh = new Shingles(text.toString, k, 0)
    if (sh.whole) return new GenericArrayData(Array[Any](text))
    val sorted = Array.tabulate(sh.count)(s =>
      UTF8String.fromBytes(sh.line, sh.from(s), sh.len(s)))
    java.util.Arrays.sort(sorted.asInstanceOf[Array[AnyRef]])
    var n = 0
    var i = 0
    while (i < sorted.length) {
      if (n == 0 || sorted(i) != sorted(n - 1)) { sorted(n) = sorted(i); n += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(sorted, n).asInstanceOf[Array[Any]])
  }

  /** Jaccard of two [[shingleSet]] arrays: the intersection counted in
    * one merge walk (nulls first, then byte order), over
    * |A|+|B|−|A∩B|. Two empty sets score NaN.
    */
  def jaccardSorted(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val c =
        if (a.isNullAt(i) || b.isNullAt(j))
          java.lang.Boolean.compare(!a.isNullAt(i), !b.isNullAt(j))
        else a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter).toDouble
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
    md.reset() // digest() leaves it reset for the next gram
    val sh = new Shingles(text, k, 0)
    val hashes = Array.tabulate(sh.count) { s =>
      md.update(sh.line, sh.from(s), sh.len(s))
      val d = md.digest()
      // first 15 hex chars = bytes 0..6 plus the high nibble of byte 7
      var v = 0L
      var i = 0
      while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
      (v << 4) | ((d(7) & 0xf0L) >>> 4)
    }
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
    md.reset() // digest() leaves it reset for the next token
    val toks = text.split(" ", -1)
    var t = 0
    while (t < toks.length) {
      val d = md.digest(toks(t).getBytes(utf8))
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

/** array<string> sorted distinct k-shingles of a text column; `[null]`
  * for a null text, so the expression is never null itself.
  */
case class ShingleSetExpr(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  override def nullable: Boolean = false

  override def prettyName: String = "shingle_set"

  override def eval(input: InternalRow): Any =
    HashSketches.shingleSet(child.eval(input).asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code + code"""
      final ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.functions.HashSketches.shingleSet(${c.isNull} ? null : ${c.value}, $k);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleSetExpr =
    copy(child = newChild)
}

/** Jaccard (double) of two [[ShingleSetExpr]] arrays; null when either
  * is null.
  */
case class ShingleJaccardExpr(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def prettyName: String = "shingle_jaccard"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashSketches.jaccardSorted(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.HashSketches.jaccardSorted($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ShingleJaccardExpr =
    copy(left = newLeft, right = newRight)
}

object ShingleSet {
  def apply(text: Column, k: Int = 3): Column = {
    require(k >= 1, s"k must be >= 1, got $k")
    GraftBridge.column(ShingleSetExpr(GraftBridge.expression(text), k))
  }
}

object ShingleJaccard {
  def apply(a: Column, b: Column): Column =
    GraftBridge.column(ShingleJaccardExpr(
      GraftBridge.expression(a), GraftBridge.expression(b)))
}

object MinHashSignature {
  def apply(text: Column, numHashes: Int = 4, k: Int = 3): Column = {
    require(k >= 1, s"k must be >= 1, got $k")
    GraftBridge.column(MinHashSignatureExpr(GraftBridge.expression(text), numHashes, k))
  }
}

object WinnowSketch {
  def apply(text: Column, k: Int = 3, w: Int = 4): Column = {
    require(k >= 1, s"k must be >= 1, got $k")
    GraftBridge.column(WinnowSketchExpr(GraftBridge.expression(text), k, w))
  }
}

object SimHash64 {
  def apply(text: Column): Column =
    GraftBridge.column(SimHash64Expr(GraftBridge.expression(text)))
}

object SimHashPortable60 {
  def apply(text: Column): Column =
    GraftBridge.column(SimHashPortable60Expr(GraftBridge.expression(text)))
}
