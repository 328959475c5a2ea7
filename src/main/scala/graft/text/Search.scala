package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Keyword retrieval over the document corpus: inverted-index
  * construction and conjunctive term queries ranked by total query-term
  * frequency — integer-exact relevance (the tf component of BM25; the
  * idf/length factors are floats and deliberately left out of the
  * oracle-checked surface).
  *
  * Scale shape: [[invertedIndex]] is one explode + one map-side-combined
  * count on the (term, doc) key — the build you'd persist bucketed by
  * `term` (see [[graft.sources.Bucketing]]) so a serving query reads
  * only its terms' buckets. [[conjunctiveTopK]] answers a query without
  * a prebuilt index in ONE shuffle: the term filter is a literal IN
  * that pipelines inside the scan, the per-doc aggregation map-side
  * combines, and the top-k is a TakeOrdered (no global sort).
  */
object Search {

  /** Postings: (term, idCol, tf), one row per distinct term per doc. */
  def invertedIndex(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col("term"), col(idCol))
      .agg(count(lit(1)).as("tf"))

  /** Positional postings: (term, idCol, positions) with 1-based token
    * positions sorted ascending — the index shape phrase and proximity
    * queries consult. Same build cost as [[invertedIndex]] (the
    * positions ride the same one shuffle as a collect_list), and the
    * same bucketed-persist serving story.
    */
  def positionalIndex(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol),
        posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("__p0", "term")))
      .groupBy(col("term"), col(idCol))
      .agg(sort_array(collect_list(col("__p0") + 1L)).as("positions"))

  /** Documents containing the exact `phrase` (consecutive tokens),
    * with per-doc occurrence counts, ranked descending (doc id breaks
    * ties), top `k`.
    *
    * Index-free one-shuffle shape: a phrase of m tokens occurs at
    * position p iff the positioned m-gram starting at p equals it, so
    * the scan emits each document's m-grams (scan-local explode), a
    * literal equality filter pipelines inside the scan, the per-doc
    * count map-side combines, and the top-k is a TakeOrdered. The
    * served equivalent intersects [[positionalIndex]] postings with
    * position arithmetic — same answer, reads only the phrase's terms.
    */
  def phraseTopK(df: DataFrame, textCol: String, idCol: String,
      phrase: Seq[String], k: Int): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    val m = phrase.size
    val grams = TextAnalysis.ngrams(col(textCol), m)
    // exactly-conservative prefilter: tokens are split(text, " "), and
    // split-then-join on a single space is the identity (empty tokens
    // preserve runs of spaces), so a matching m-gram appears VERBATIM
    // in the raw text. The contains pushes into the scan and the gram
    // explode only runs on candidate documents — for a selective
    // phrase the corpus-wide explode cost disappears.
    df.filter(col(textCol).isNotNull
        && col(textCol).contains(phrase.mkString(" ")))
      .select(col(idCol), explode(grams).as("__g"))
      .filter(col("__g") === phrase.mkString(" "))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("occurrences"))
      .orderBy(col("occurrences").desc, col(idCol).asc)
      .limit(k)
  }

  /** Phrase search SERVED FROM the positional index — the other half
    * of [[phraseTopK]]'s contract: the same answer, computed by
    * intersecting the phrase terms' postings with position arithmetic
    * (term i's positions shifted by −i; a phrase occurrence is a start
    * position present in EVERY shifted list) instead of scanning the
    * corpus. At serving scale this reads only the phrase's terms'
    * postings (bucket-pruned when the index is persisted bucketed by
    * term), joins them on the document key, and the intersection is
    * scan-local array arithmetic. Handles repeated phrase terms
    * (each occurrence slot gets its own shifted leg).
    */
  def phraseViaIndex(index: DataFrame, idCol: String, phrase: Seq[String],
      k: Int): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    val legs = phrase.zipWithIndex.map { case (t, i) =>
      index.filter(col("term") === t)
        .select(col(idCol),
          transform(col("positions"), p => p - i).as(s"__pos_$i"))
    }
    val joined = legs.reduce((a, b) => a.join(b, Seq(idCol)))
    val inter = phrase.indices.map(i => col(s"__pos_$i"))
      .reduce((a, b) => array_intersect(a, b))
    joined.select(col(idCol), size(inter).cast("long").as("occurrences"))
      .filter(col("occurrences") > 0)
      .orderBy(col("occurrences").desc, col(idCol).asc)
      .limit(k)
  }

  /** Documents containing ALL query terms, ranked by summed term
    * frequency (descending, doc id ascending on ties), top `k`.
    * `terms` must be distinct.
    */
  def conjunctiveTopK(df: DataFrame, textCol: String, idCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms,
      "query terms must be non-empty and distinct")
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col(idCol))
      .agg(count_distinct(col("term")).as("__matched"),
        count(lit(1)).as("score"))
      .filter(col("__matched") === terms.size)
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** BM25-style ranked retrieval — disjunctive (any-term) scoring with
    * the standard per-term tf saturation and document-length
    * normalization, in an ENGINE-PORTABLE variant:
    *
    *  - idf is the INTEGER `floor(log2(N / df))` — computed without
    *    libm (`63 - numberOfLeadingZeros` here, `length(bin(x)) - 1`
    *    in a SQL oracle), because `ln`'s last ulp differs across math
    *    libraries and a score hash would be data-dependently fragile
    *    (the q103 lesson). Coarser than Robertson idf but the same
    *    rare-term-up-weighting shape, and exactly reproducible.
    *  - k1 = 1.25, b = 0.75: BINARY-EXACT doubles (not the textbook
    *    1.2, which no engine can represent exactly), so the whole
    *    scoring chain is deterministic IEEE arithmetic with a fixed
    *    association order and scores hash-compare bit-identically.
    *
    * Scale shape: corpus stats (N, Σdl) and per-term document
    * frequencies fold in as literals (driver scalars bounded at
    * 2 + |terms|), scoring is scan-local codegen arithmetic, and the
    * top-k is a TakeOrdered — no join, no shuffle of the corpus.
    */
  def bm25TopK(df: DataFrame, textCol: String, idCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms,
      "query terms must be non-empty and distinct")
    val d = df.filter(col(textCol).isNotNull)
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__tk"))
      .withColumn("__dl", size(col("__tk")).cast("double"))
    // two corpus scalars + |terms| doc frequencies — bounded collects
    val stats = d.agg(count(lit(1)), sum(size(col("__tk")).cast("long"))).head()
    val nd = stats.getLong(0)
    val tt = stats.getLong(1)
    val avgdl = lit(tt.toDouble / nd.toDouble)
    val dfs: Map[String, Long] = d
      .select(explode(array_distinct(col("__tk"))).as("__t"))
      .filter(col("__t").isin(terms: _*))
      .groupBy(col("__t")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def contrib(term: String): org.apache.spark.sql.Column = {
      val dfl = dfs.getOrElse(term, 0L)
      if (dfl == 0L) lit(0.0)
      else {
        val idf = lit((63 - java.lang.Long.numberOfLeadingZeros(nd / dfl)).toDouble)
        val tf = size(filter(col("__tk"), x => x === term)).cast("double")
        when(tf > 0.0,
          idf * (tf * lit(2.25) / (tf + lit(1.25) *
            (lit(0.25) + lit(0.75) * (col("__dl") / avgdl)))))
          .otherwise(lit(0.0))
      }
    }
    // fixed left-to-right addition in query-term order (portable sum)
    val score = terms.map(contrib).reduce(_ + _)
    d.select(col(idCol), score.as("score"))
      .filter(col("score") > 0.0)
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }
}
