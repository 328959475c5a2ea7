package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-trained bigram language-model surprisal — the
  * perplexity-style quality/novelty filter of LLM data pipelines
  * (CCNet / KenLM-gated corpora score each document under a reference
  * LM and gate on perplexity), re-expressed with the integer-log2
  * per-bigram cost that makes raw scores hash-comparable across
  * engines (the q111 idf trick: `floor(log2(a/b)) =
  * length(bin(a div b)) - 1` for positive integers, exact in both
  * Spark and DuckDB with no libm involvement).
  *
  * Model: for bigram (w1, w2), conditional cost
  * `cost = floor(log2(c1(w1) / c2(w1, w2)))` where `c1` is the
  * corpus-wide occurrence count of `w1` and `c2` the corpus-wide count
  * of the bigram. `c2 <= c1` always (every bigram occurrence is a `w1`
  * occurrence), so the ratio is >= 1 and the cost a non-negative
  * integer — a stupid-backoff-flavoured surrogate for
  * `-log2 P(w2 | w1)`. A document's surprisal is the sum of its bigram
  * costs; its mean cost (integer floor division) is the
  * perplexity-proxy a gate thresholds on: common word-pairs cost ~0,
  * rare continuations cost log2(corpus frequency ratio).
  *
  * Scale shape (100 TB): training is two map-side-combined censuses —
  * one shuffle on the bigram key, one on the token key; the model
  * table assembles on the DISTINCT-bigram table (a join keyed on w1,
  * orders of magnitude smaller than the token stream); scoring joins
  * the exploded bigram stream to the model on the bigram key (the same
  * hash partitioning as the census exchange) and the per-document
  * roll-up map-side combines on the document key. No all-pairs join,
  * no driver-side state, nothing quadratic anywhere. On a cluster the
  * model table would be persisted bucketed by (w1, w2)
  * ([[graft.sources.Bucketing]]) so scoring fresh shards reuses it
  * without retraining.
  */
object LangModel {

  /** Per-document bigram structs `(w1, w2)`; empty array when the
    * document has fewer than two tokens (such documents carry zero
    * surprisal rather than dropping out of the census).
    */
  def bigrams(text: Column): Column =
    TextAnalysis.bindOnce(TextAnalysis.tokens(text)) { tk =>
      when(size(tk) >= 2,
        transform(sequence(lit(1), size(tk) - 1),
          i => struct(element_at(tk, i).as("w1"), element_at(tk, i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    }

  /** The trained model: one row per distinct corpus bigram with its
    * integer-log2 conditional cost — `(w1, w2, c2, c1, cost)`.
    */
  def bigramModel(df: DataFrame, textCol: String): DataFrame = {
    val docs = df.filter(col(textCol).isNotNull)
    val stream = docs.select(explode(bigrams(col(textCol))).as("__b"))
      .select(col("__b.w1").as("w1"), col("__b.w2").as("w2"))
    val c2 = stream.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    c2.join(c1, Seq("w1"))
      .withColumn("cost", (length(bin(expr("c1 div c2"))) - 1).cast("long"))
  }

  /** Scores every document under the corpus-trained bigram model:
    * returns `(idCol, carryCols..., n_bigrams, surprisal, mean_cost)`
    * with `mean_cost = surprisal div n_bigrams` (0 for documents with
    * no bigrams). Self-scoring (train and score on the same corpus) is
    * the standard novelty/garbage signal; to score against a reference
    * corpus, pass its [[bigramModel]] explicitly.
    */
  def withBigramSurprisal(df: DataFrame, textCol: String, idCol: String,
      carryCols: Seq[String] = Nil,
      model: Option[DataFrame] = None): DataFrame = {
    val m = model.getOrElse(bigramModel(df, textCol))
      .select(col("w1"), col("w2"), col("cost"))
    val keep = col(idCol) +: carryCols.map(col)
    val docs = df.filter(col(textCol).isNotNull)
    val stream = docs
      .select(keep :+ explode_outer(bigrams(col(textCol))).as("__b"): _*)
      .select(keep :+ col("__b.w1").as("w1") :+ col("__b.w2").as("w2"): _*)
    // left join keeps zero-bigram documents (null w1) and any bigram
    // absent from an externally supplied model (scored at cost 0 —
    // the conservative choice for an unseen event under integer costs)
    stream.join(m, Seq("w1", "w2"), "left")
      .groupBy(keep: _*)
      .agg(
        sum(when(col("w1").isNotNull, 1L).otherwise(0L)).as("n_bigrams"),
        coalesce(sum(col("cost")), lit(0L)).as("surprisal"))
      .withColumn("mean_cost",
        when(col("n_bigrams") > 0, expr("surprisal div n_bigrams"))
          .otherwise(lit(0L)))
  }
}
