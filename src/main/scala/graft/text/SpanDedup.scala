package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Duplicated-span detection and removal — the exact-substring
  * deduplication shape of Lee et al. 2022 ("Deduplicating Training Data
  * Makes Language Models Better"), at token granularity.
  *
  * Semantics: a token lies in a *duplicated span* iff it is covered by
  * some `n`-token window whose exact text occurs at least `minCount`
  * times corpus-wide (within-document repeats count toward the total,
  * as in the paper's suffix-array definition). Covered windows merged
  * (overlap or adjacency) give the maximal spans; removal keeps every
  * token outside all spans, preserving order.
  *
  * Scale shape — the paper builds a single-node suffix array; the
  * distributed equivalent replaces it with a positioned-gram census:
  *   1. one scan-local explode to (doc, pos, gram) — no shuffle;
  *   2. gram census with map-side partial counts — ONE shuffle on the
  *      gram key (the suffix-array stand-in; linear in corpus grams);
  *   3. a left-semi hash join back on the same gram key marks
  *      duplicated positions — no gram's rows concentrate on one task;
  *   4. span merge is a per-document ordered window — ONE shuffle on
  *      the doc key, state bounded by document length.
  * Nothing is quadratic and nothing collects; every stage partitions by
  * a high-cardinality key, so the pipeline survives a 100 TB corpus.
  * With a high `minCount` (licence-header hunting) the surviving hot
  * set is tiny — pass `broadcastHot = true` to ship it to the scan side
  * and skip the join shuffle (the q72 `dupNgramFraction` trade).
  */
object SpanDedup {

  /** (id, __pos, __g): every n-token window with its 1-based start
    * position. Documents shorter than `n` tokens emit no windows.
    * Scan-local (posexplode of [[TextAnalysis.ngrams]]).
    */
  private def positionedGrams(df: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame =
    df.select(col(idCol),
        posexplode(TextAnalysis.ngrams(col(textCol), n)).as(Seq("__p0", "__g")))
      .select(col(idCol), (col("__p0") + 1L).as("__pos"), col("__g"))

  /** Maximal duplicated spans per document: (idCol, span_start,
    * span_end), 1-based inclusive token indices. Windows merge when
    * they overlap or touch (next start ≤ previous start + n).
    */
  def duplicatedSpans(df: DataFrame, textCol: String, idCol: String,
      n: Int = 5, minCount: Int = 2, broadcastHot: Boolean = false): DataFrame = {
    val grams = positionedGrams(df, textCol, idCol, n)
    // total occurrence census (not document frequency): map-side
    // combinable count, one shuffle on the gram key
    val hot0 = grams.groupBy(col("__g"))
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount)
      .select(col("__g"))
    val hot = if (broadcastHot) broadcast(hot0) else hot0
    val marked = grams.join(hot, Seq("__g"), "left_semi")
      .select(col(idCol), col("__pos"))
    // gaps-and-islands over per-doc sorted positions: windows are all
    // n wide, so a window merges into the previous iff its start is
    // within n of the previous start (overlap or adjacency)
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    marked
      .withColumn("__brk",
        when(lag(col("__pos"), 1).over(w).isNull
          .or(col("__pos") > lag(col("__pos"), 1).over(w) + n), 1L)
          .otherwise(0L))
      .withColumn("__island",
        sum(col("__brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("__pos")).as("span_start"),
        (max(col("__pos")) + (n - 1)).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"))
  }

  /** Rebuild each document with its duplicated spans removed: adds
    * `clean_text` (empty string when every token was covered) alongside
    * the input columns. `spans` is [[duplicatedSpans]] output (or any
    * (idCol, span_start, span_end) frame with disjoint spans).
    *
    * Shape: token explode (scan-local) → anti join on (doc, pos)
    * against the span-covered positions → per-doc ordered reassembly.
    * Both the join and the rebuild partition on the document key.
    */
  def removeSpans(df: DataFrame, spans: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val toks = df.select(col(idCol),
        posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("__p0", "__tok")))
      .select(col(idCol), (col("__p0") + 1L).as("__pos"), col("__tok"))
    val covered = spans.select(col(idCol),
      explode(sequence(col("span_start"), col("span_end"))).as("__pos"))
    val rebuilt = toks.join(covered, Seq(idCol, "__pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__pos"), col("__tok")))),
          x => x.getField("__tok")), " ").as("clean_text"))
    df.join(rebuilt, Seq(idCol), "left")
      .withColumn("clean_text", coalesce(col("clean_text"), lit("")))
  }

  /** Per-token LOSS MASK over duplicated spans — the soft posture:
    * instead of deleting duplicated text ([[removeSpans]]), keep the
    * document intact and emit a '1'/'0' character mask (one char per
    * token, '0' = token sits inside a duplicated span, '1' = train on
    * it). Dropping spans changes the token stream the model sees and
    * can splice unrelated text together; masking the loss over the
    * duplicated tokens keeps context intact while still not training
    * on the boilerplate — the middle ground pipelines use for
    * high-value docs that merely CONTAIN a hot span (licence headers,
    * boilerplate navigation) rather than being duplicates.
    *
    * Adds `loss_mask` (string, length = token count; empty for
    * token-less docs) and `n_masked` (covered-token count) to the
    * input columns. Same distribution shape as [[removeSpans]]: token
    * explode (scan-local) → left join against covered positions on the
    * (doc, pos) key → per-doc ordered reassembly; every stage
    * partitions on the document key, per-doc state is one document's
    * tokens. `spans` is [[duplicatedSpans]] output (disjoint spans by
    * contract).
    */
  def lossMask(df: DataFrame, spans: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val toks = df.select(col(idCol),
        posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("__p0", "__tok")))
      .select(col(idCol), (col("__p0") + 1L).as("__pos"))
    val covered = spans.select(col(idCol),
        explode(sequence(col("span_start"), col("span_end"))).as("__pos"))
      .withColumn("__cov", lit(1))
    val mk = toks.join(covered, Seq(idCol, "__pos"), "left")
      .groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("__pos"),
            when(col("__cov").isNotNull, lit("0")).otherwise(lit("1"))
              .as("__b")))),
          x => x.getField("__b")), "").as("loss_mask"),
        sum(when(col("__cov").isNotNull, 1L).otherwise(0L)).as("n_masked"))
    df.join(mk, Seq(idCol), "left")
      .withColumn("loss_mask", coalesce(col("loss_mask"), lit("")))
      .withColumn("n_masked", coalesce(col("n_masked"), lit(0L)))
  }

  /** Per-document span census: (idCol, n_tokens, n_spans,
    * covered_tokens, clean_md5). `clean_md5` fingerprints the rebuilt
    * text so the full removal output is checkable without shipping it.
    */
  def spanCensus(df: DataFrame, textCol: String, idCol: String,
      n: Int = 5, minCount: Int = 2, broadcastHot: Boolean = false): DataFrame = {
    val base = df.filter(col(textCol).isNotNull)
    val spans = duplicatedSpans(base, textCol, idCol, n, minCount, broadcastHot)
    val perDoc = spans.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_end") - col("span_start") + 1L).as("covered_tokens"))
    removeSpans(base, spans, textCol, idCol)
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        size(TextAnalysis.tokens(col(textCol))).cast("long").as("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        md5(col("clean_text")).as("clean_md5"))
  }
}
