package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Frequent-itemset mining, Apriori level 2: token pairs co-occurring
  * in at least `minSup` documents — the market-basket primitive
  * (association rules, related-query suggestions, template/boilerplate
  * phrase discovery). The Apriori pruning step is what makes it
  * tractable: a pair can only be frequent if BOTH tokens are frequent
  * (anti-monotonicity), so each document first intersects its distinct
  * tokens with the broadcast frequent-unigram set, and pair generation
  * — quadratic per document — runs only over that pruned, bounded set.
  *
  * Scale shape: one unigram-df census (map-side combined) bounds the
  * frequent set at |corpus| / minSup items (broadcastable by
  * construction for any real support threshold); pair generation is a
  * scan-local nested-transform explode; the pair census is one shuffle
  * on the pair key. Nothing quadratic escapes a single document's
  * pruned token set.
  */
object Itemsets {

  /** All `a|b` pairs (a < b lexicographically) of a sorted array. */
  private def pairArray(fts: Column): Column =
    flatten(transform(fts, (x, i) =>
      transform(slice(fts, i + 2, size(fts)),
        y => concat(x, lit("|"), y))))

  /** Frequent pairs with document-count support: `(pair, n)` for every
    * token pair with support >= `minSup`, top `k` by (support desc,
    * pair asc). `minSupFrac` expresses support as a document fraction
    * so the threshold is SF-stable: `minSup = ceil(frac * nDocs)`.
    *
    * The Apriori pruning is a broadcast SEMI-JOIN of the exploded
    * token stream against the frequent-unigram table — a real hash
    * probe per token. (A literal-array `array_intersect` was measured
    * quadratic: Spark rebuilds the |F|-element set PER ROW, and |F|
    * itself grows with the corpus at fixed support fraction — 51.8x
    * cost at 16x growth, measured, SURVEY.md round 6 ScaleSmoke; the
    * semi-join form is
    * the 100 TB shape and keeps the frequent set distributed, no
    * driver collect anywhere.)
    */
  def frequentPairs(df: DataFrame, textCol: String, idCol: String,
      minSupFrac: Double, k: Int): DataFrame = {
    val d = df.filter(col(textCol).isNotNull)
      .select(col(idCol),
        array_distinct(TextAnalysis.tokens(col(textCol))).as("__tk"))
    val nDocs = d.count()
    val minSup = math.ceil(minSupFrac * nDocs).toLong
    val toks = d.select(col(idCol), explode(col("__tk")).as("tok"))
    val frequent = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minSup).select(col("tok"))
    val pruned = toks.join(broadcast(frequent), Seq("tok"), "left_semi")
      .groupBy(col(idCol)).agg(sort_array(collect_set(col("tok"))).as("__ft"))
    pruned.select(explode(pairArray(col("__ft"))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minSup)
      .orderBy(col("n").desc, col("pair").asc)
      .limit(k)
  }
}
