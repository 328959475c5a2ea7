package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-similarity scalar functions (reference local_explain.py:218-234
  * `cs`, utils.py:75-81 `diff`).
  *
  * The token-bag cosine is a codegen'd Catalyst expression
  * ([[TokenBagCosine]]) whose semantics match the reference's
  * Counter-based cosine exactly (regex `\w+` tokens, integer term
  * frequencies, double math); [[cosineBags]] is its plain-Scala twin.
  */
object TextSim {

  private val Word = "\\w+".r

  /** Term-frequency bag of `\w+` tokens. */
  def termBag(text: String): Map[String, Int] =
    if (text == null) Map.empty
    else Word.findAllIn(text).foldLeft(Map.empty[String, Int]) { (m, w) =>
      m.updated(w, m.getOrElse(w, 0) + 1)
    }

  /** A7: cosine similarity of the term-frequency bags of two strings
    * (reference `cs`, local_explain.py:221-234).
    */
  def cosineBags(a: String, b: String): Double = {
    val va = termBag(a)
    val vb = termBag(b)
    val num = va.keysIterator.map(k => va(k).toDouble * vb.getOrElse(k, 0)).sum
    val den = math.sqrt(va.valuesIterator.map(v => v.toDouble * v).sum) *
      math.sqrt(vb.valuesIterator.map(v => v.toDouble * v).sum)
    if (den == 0.0) 0.0 else num / den
  }

  /** Column form of A7 — backed by the codegen'd Catalyst expression
    * ([[TokenBagCosine]]); [[cosineBags]] is the reference twin the
    * equivalence specs compare it with.
    */
  def tokenCosine(a: Column, b: Column): Column = TokenBagCosine(a, b)

  /** Whitespace-joined record text for similarity scoring (reference
    * record_to_text, local_explain.py:140-141), excluding bookkeeping
    * columns. Null attribute values render as empty (reference
    * fillna(""), dm.py:103).
    *
    * Note: the reference's ignored-columns check is inert (it compares
    * against a nested list) so ids leak into its text; we exclude them
    * properly, which is the documented intent.
    */
  def recordText(cols: Seq[Column]): Column =
    concat_ws(" ", cols.map(c => coalesce(c.cast("string"), lit(""))): _*)
}
