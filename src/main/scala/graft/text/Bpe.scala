package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Pinned

/** Byte-pair-encoding vocabulary training — the tokenizer-learning
  * stage of a training-data pipeline (Sennrich et al. 2016), distributed
  * the way the counts actually scale: each merge round is ONE map-side-
  * combined pair-count aggregation over the corpus (shuffle carries at
  * most |symbol-vocab|² rows, not corpus rows), the argmax collects a
  * single row to the driver, and the chosen merge is applied corpus-wide
  * as a scan-local array fold. Train on the big corpus, then
  * [[applyMerges]] applies the frozen merge table to any stream of text —
  * the learn-small/apply-wide split of production tokenizers.
  *
  * State between rounds is a [[graft.operators.Pinned]] lineage cut:
  * k rounds would otherwise nest k aggregate() lambdas into one
  * projection and the plan grows without bound (the Components
  * lesson).
  */
object Bpe {

  /** One learned merge: rank order, the symbol pair, the fused symbol,
    * and the weighted pair count that won the round.
    */
  final case class Merge(rank: Int, left: String, right: String,
      merged: String, cnt: Long)

  /** Greedy left-to-right, non-overlapping application of one merge to
    * a symbol array: ..a,b.. becomes ..ab.. — the fold keeps the last
    * accumulated symbol and fuses when (last, current) match the pair.
    * Non-overlap falls out of the fold: a fused symbol is strictly
    * longer than `a`, so it can never left-match the next `b`.
    */
  def mergeSyms(sym: Column, a: String, b: String): Column =
    aggregate(sym, array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(x))))

  /** Learn up to `numMerges` merges from a word-frequency frame
    * `(sym: array<string>, freq: long)` — symbols start as characters,
    * freq is the corpus count of the word. Ties break on count desc,
    * then (left, right) lexicographically: fully deterministic, so the
    * result is golden-freezable. Stops early when no adjacent pair
    * remains.
    */
  def learnMerges(words0: DataFrame, numMerges: Int): Seq[Merge] = {
    require(numMerges >= 0, "numMerges must be non-negative")
    val out = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var words = words0.select(col("sym"), col("freq"))
    // Round state, newest first. A round's argmax job fills the newest
    // pin and is the last reader of the one before it, which is closed
    // right after: the loop holds at most two rounds of state however
    // many merges are learned, and none on return (the merge table is
    // the only output).
    var pins = List.empty[Pinned]
    try {
      var r = 0
      var exhausted = false
      while (r < numMerges && !exhausted) {
        val top = words
          .filter(size(col("sym")) >= 2)
          .select(col("freq"), explode(expr(
            "transform(sequence(0, size(sym) - 2), " +
              "i -> struct(sym[i] AS a, sym[i + 1] AS b))")).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("a"), col("b"))
          .limit(1).collect()
        pins.drop(1).foreach(_.close())
        pins = pins.take(1)
        if (top.isEmpty) exhausted = true
        else {
          val (a, b, cnt) =
            (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
          out += Merge(r, a, b, a + b, cnt)
          pins = Pinned(words.withColumn("sym", mergeSyms(col("sym"), a, b))) :: pins
          words = pins.head.df
          r += 1
        }
      }
    } finally pins.foreach(_.close())
    out.toSeq
  }

  /** Apply a frozen merge table (in rank order) to a symbol-array
    * column — the inference side. Scan-local: no shuffle, whatever the
    * corpus size.
    */
  def applyMerges(sym: Column, merges: Seq[Merge]): Column =
    merges.sortBy(_.rank).foldLeft(sym)((c, m) => mergeSyms(c, m.left, m.right))

  /** Character-split a word column into the initial symbol array. */
  def charSyms(word: Column): Column =
    filter(split(word, ""), x => x =!= lit(""))
}
