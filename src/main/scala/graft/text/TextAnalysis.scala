package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID, quality scoring, token statistics, document
  * fingerprinting. All pure Catalyst expressions (codegen'd, no UDFs) so
  * they pipeline inside the parquet scan stage at 100 TB.
  */
object TextAnalysis {

  /** Whitespace tokens (single-space convention of the fixtures). */
  def tokens(text: Column): Column = split(text, " ")

  /** Evaluates `e` once per row and hands it to `f` as a lambda
    * variable: `f(e)` with `e` let-bound. Use it whenever `f` reads `e`
    * from inside a higher-order-function lambda. Catalyst inlines a
    * column where it is referenced, and common-subexpression elimination
    * does not reach into lambda bodies, so a direct reference
    * re-evaluates `e` per lambda call: an n-gram builder over
    * `tokens(text)` would re-split the whole document k times per gram
    * (O(n²·k) per document), and a window fold over a hashed gram array
    * would re-run the md5 pass per window. Bound, `e` runs once per row
    * and every lambda reads the same array. Values, types and null
    * semantics are those of `f(e)`: a null `e` reaches `f` as null.
    */
  def bindOnce(e: Column)(f: Column => Column): Column =
    element_at(transform(array(e), f), 1)

  /** Every window of `n` consecutive tokens, joined by one space, in
    * token order; empty when the text has fewer than `n` tokens (or is
    * null). Linear in tokens × n: the token array is bound once.
    */
  def ngrams(text: Column, n: Int): Column =
    bindOnce(tokens(text)) { tk =>
      when(size(tk) >= n, windows(tk, n)).otherwise(array().cast("array<string>"))
    }

  /** The `n`-token windows of a bound token array `tk` that holds at
    * least `n` tokens, joined by one space.
    */
  private[graft] def windows(tk: Column, n: Int): Column =
    transform(sequence(lit(1), size(tk) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(j => element_at(tk, i + j)): _*))

  // --------------------------------------------------------------- langid
  /** Tiny per-language stopword lists for the n-gram/stopword heuristic.
    * Deliberately minimal — the operator shape (per-language hit
    * counting + argmax) is the point; lists are pluggable.
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "por"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  /** Stopword hits for one language. */
  def langHits(text: Column, lang: String): Column = {
    val list = stopwords.toMap.apply(lang)
    size(filter(tokens(text), t => array_contains(typedLit(list), t)))
  }

  /** Language-ID: argmax of stopword hits, ties broken by language code
    * order, zero hits → "und" (undetermined).
    *
    * Single pass over the token array: one `aggregate` carries all
    * per-language counters in a struct and the finish lambda does the
    * argmax over the (already computed) counts. A naive per-language
    * `size(filter(...))` fold duplicates each language's array scan
    * ~25× in the expression tree — O(langs²) scans per row and a
    * code-cache-hostile generated method.
    */
  def langId(text: Column): Column = {
    val langs = stopwords
    val zero = struct(langs.map { case (lang, _) => lit(0).as(s"c_$lang") }: _*)
    // aggregate() is null-intolerant on the array argument, so a NULL
    // text would fall through as NULL — coalesce keeps the documented
    // zero-information → "und" contract.
    coalesce(aggregate(
      tokens(text),
      zero,
      (acc, t) => struct(langs.map { case (lang, words) =>
        (acc.getField(s"c_$lang") +
          when(array_contains(typedLit(words), t), 1).otherwise(0)).as(s"c_$lang")
      }: _*),
      acc => {
        val scored = langs.map { case (lang, _) => (lang, acc.getField(s"c_$lang")) }
        // strict > keeps the first (code-order) language on ties
        val best = scored.tail.foldLeft((lit(scored.head._1), scored.head._2)) {
          case ((bl, bh), (lang, hits)) =>
            (when(hits > bh, lit(lang)).otherwise(bl), greatest(hits, bh))
        }
        when(best._2 > 0, best._1).otherwise(lit("und"))
      }), lit("und"))
  }

  // -------------------------------------------------------------- quality
  /** Per-document integer quality signals. Ratios are left to the
    * aggregation layer (ratio-of-sums stays exact; sums of per-row
    * double ratios would not be reproducible across partition orders).
    */
  def withQualitySignals(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_tokens", size(tokens(t)))
      .withColumn("n_chars_m", length(t))
      .withColumn("n_stopwords", langHits(t, "en"))
      .withColumn("n_distinct_tokens", size(array_distinct(tokens(t))))
      .withColumn("is_quality",
        col("n_tokens") >= 20 && col("n_tokens") <= 1000 &&
          col("n_distinct_tokens") >= 10)
  }

  /** Gopher-style document-quality rules (Rae et al. 2021, "Scaling
    * Language Models: Methods, Analysis & Insights from Training
    * Gopher", appendix A1.1 — public heuristics), restricted to the
    * signals computable from whitespace tokens: mean word length in
    * [3, 10], word count in [50, 100000], ≥ 2 English-stopword hits,
    * most frequent token ≤ 20% of the document. Every signal is an
    * integer and every rule an integer comparison (the mean-word-length
    * band compares `sum_word_chars` against `3·n` and `10·n` — no
    * division anywhere), so the flags are bit-portable across engines
    * and partition orders. Pure scan-local expressions: the whole rule
    * set evaluates inside the parquet scan stage, and a census over it
    * is one partial-aggregated shuffle of ~|sources| groups.
    */
  def withGopherSignals(df: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    df.withColumn("g_n_words", size(toks))
      .withColumn("g_sum_word_chars",
        aggregate(toks, lit(0), (a, t) => a + length(t)))
      .withColumn("g_stop_hits", langHits(col(textCol), "en"))
      .withColumn("g_top_token_cnt", topTokenCount(toks))
      .withColumn("g_fail_mwl",
        col("g_sum_word_chars") < lit(3) * col("g_n_words") ||
          col("g_sum_word_chars") > lit(10) * col("g_n_words"))
      .withColumn("g_fail_len",
        col("g_n_words") < 50 || col("g_n_words") > 100000)
      .withColumn("g_fail_stop", col("g_stop_hits") < 2)
      .withColumn("g_fail_rep",
        col("g_top_token_cnt") * 5 > col("g_n_words"))
  }

  // --------------------------------------------------------- fingerprint
  /** Canonical-form fingerprint (sorted distinct lowercase tokens →
    * md5): near-dup clustering key robust to token order and repetition.
    */
  def fingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(lower(text)))), " "))

  /** ORDER-PRESERVING canonical form: lowercase, non-alphanumerics to
    * spaces, whitespace collapsed, trimmed. The near-exact dedup key of
    * web-scale pipelines — catches "Hello, World!" vs "hello world"
    * that exact-hash dedup misses while staying a pure scan-local
    * expression (no shingles, no sketches). Character classes are
    * ASCII-explicit so Java and RE2-based engines agree.
    */
  def canonicalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  // ---------------------------------------------------- serialization
  /** F11 Ditto pair serialization (reference ditto/matcher.py:37-69
    * to_str): `COL <name> VAL <value>` segments per attribute, sides
    * separated by a tab — the text form transformer matchers consume.
    */
  def dittoSerialize(attrs: Seq[(String, Column)]): Column =
    concat_ws(" ", attrs.flatMap { case (name, value) =>
      Seq(lit("COL"), lit(name), lit("VAL"),
        coalesce(value.cast("string"), lit("")))
    }: _*)

  /** F12 TF-IDF token trim (reference ditto/summarize.py:34-112): keep
    * each document's `maxTokens` highest-IDF tokens (ties by token, then
    * position), emitted in original order; documents at or under the cap
    * pass through untouched.
    *
    * Fully join-based — the corpus IDF table NEVER collects to the
    * driver (a web-corpus vocabulary would OOM it): over-long distinct
    * texts explode to (text-key, pos, token) rows, join the IDF table on
    * the token key, a per-document window ranks each document's own
    * tokens, and the survivors reassemble with an ordered collect_list.
    * Every shuffle is keyed (token or document hash); the only window is
    * partitioned per document.
    */
  def tfIdfSummarize(df: DataFrame, textCol: String,
      maxTokens: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = df.count().toDouble
    val idf = df.select(explode(array_distinct(tokens(col(textCol)))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("docFreq"))
      .select(col("token"), log(lit(n + 1.0) / (col("docFreq") + 1.0)).as("idf"))

    // only over-long texts trim; identical texts trim identically, so
    // the distinct text IS a stable document key (md5 keeps the shuffle
    // key narrow)
    val overLong = df.select(col(textCol).as("__t")).distinct()
      .filter(size(tokens(col("__t"))) > maxTokens)
      .select(col("__t"), md5(col("__t")).as("__dk"))
    val exploded = overLong
      .select(col("__t"), col("__dk"),
        posexplode(tokens(col("__t"))).as(Seq("__pos", "token")))
      .join(idf, Seq("token"), "left")
      .withColumn("__idf", coalesce(col("idf"), lit(0.0)))
    val ranked = exploded.withColumn("__rank", row_number().over(
      Window.partitionBy(col("__dk"))
        .orderBy(col("__idf").desc, col("token"), col("__pos"))))
    val trimmed = ranked.filter(col("__rank") <= maxTokens)
      .groupBy(col("__dk")).agg(
        first(col("__t")).as("__t"),
        array_join(transform(
          array_sort(collect_list(struct(col("__pos"), col("token")))),
          x => x.getField("token")), " ").as("__trimmed"))

    df.join(trimmed.select(col("__t").as(textCol), col("__trimmed")),
        Seq(textCol), "left")
      .withColumn(textCol,
        when(col(textCol).isNull, lit(""))
          .otherwise(coalesce(col("__trimmed"), col(textCol))))
      .select(df.columns.map(col).toIndexedSeq: _*) // original column order
  }

  /** BPE-ish sub-word tokens: letter runs, digit runs, and single
    * non-alphanumeric marks — the regex skeleton of byte-pair-style
    * pre-tokenizers (no lookarounds, so the pattern behaves identically
    * under Java regex and RE2-based engines; CJK characters tokenize
    * per-character, as byte-level BPE effectively does).
    */
  val bpeishPattern: String = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  def bpeishTokens(text: Column): Column =
    regexp_extract_all(text, lit(bpeishPattern), lit(0))

  /** Rolling polynomial hash of the token sequence (order-sensitive
    * fingerprint). Horner fold mod a sub-2^30 prime: exact, codegen'd,
    * and overflow-free under ANSI arithmetic (31·acc + crc32 < 2^35).
    */
  def rollingHash(text: Column): Column = {
    val m = 1073741789L
    aggregate(tokens(text), lit(0L),
      (acc, t) => pmod(acc * lit(31L) + crc32(t).cast("long"), lit(m)))
  }

  // ----------------------------------------------------------- repetition
  /** Intra-document repetition signals (the Gopher/MassiveText-style
    * repetition filters: Rae et al. 2021 §A1.2, also RefinedWeb): token
    * bigram duplication and most-frequent-token coverage. All INTEGER
    * counters — thresholding happens downstream via cross-multiplied
    * integer compares, so aggregate rollups stay exact (no per-row float
    * ratios). Per-row compute only — embarrassingly parallel, pipelines
    * inside the scan at corpus scale.
    */
  /** Occurrences of the most frequent token: count each DISTINCT
    * token's hits (O(distinct × n) per row — bounded by document
    * length, not data size), take the max; the token array is bound
    * once ([[bindOnce]]).
    */
  def topTokenCount(toks: Column): Column =
    bindOnce(toks)(tk =>
      array_max(transform(array_distinct(tk),
        t => size(filter(tk, x => x === t)))))

  def withRepetitionSignals(df: DataFrame, textCol: String = "text"): DataFrame = {
    val bigrams = graft.dedup.Dedup.shingles(col(textCol), 2)
    val toks = tokens(col(textCol))
    val topTokenCnt = topTokenCount(toks)
    df.withColumn("n_tokens_r", size(toks))
      .withColumn("n_bigrams", size(bigrams))
      .withColumn("n_distinct_bigrams", size(array_distinct(bigrams)))
      .withColumn("top_token_cnt", topTokenCnt)
  }

  // ------------------------------------------------------------------ pii
  /** PII patterns (email / IPv4 / phone-shaped digit runs). Plain
    * character classes only — no lookarounds, no backreferences — so
    * Java regex and RE2-based engines (and the SQL oracle) agree.
    */
  val emailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern: String = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val phonePattern: String = "\\+[0-9][0-9 -]{7,}[0-9]"

  /** Per-document PII match counts — the scrub/flag stage of a training
    * pipeline (count here; redaction is `regexp_replace` with the same
    * patterns).
    */
  def withPiiSignals(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("n_emails", regexp_count(col(textCol), lit(emailPattern)))
      .withColumn("n_ipv4", regexp_count(col(textCol), lit(ipv4Pattern)))
      .withColumn("n_phones", regexp_count(col(textCol), lit(phonePattern)))

  /** Redact PII in place (emails first so their host parts don't
    * re-match as bare patterns).
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        ipv4Pattern, "<IP>"),
      phonePattern, "<PHONE>")

  // ------------------------------------------- cross-document duplication
  /** Corpus-duplicated n-gram fraction — the CROSS-document repetition
    * signal (boilerplate / template / licence-header detection in
    * RefinedWeb- and Dolma-style pipelines): for each document, the
    * share of its DISTINCT n-grams that occur in at least `minDocs`
    * documents corpus-wide. Complements [[withRepetitionSignals]],
    * which only sees repetition *within* one document.
    *
    * Shape: one exploded (doc, gram) frame feeds both legs. The gram
    * census aggregates with map-side partial counts — one shuffle on
    * the gram key — and the join back is a hash join on the same key,
    * so no gram's rows ever concentrate on one task and there is no
    * all-pairs step anywhere: linear in corpus grams at 100 TB. With a
    * realistic boilerplate threshold (`minDocs` in the hundreds) the
    * surviving hot set is tiny relative to the corpus — pass
    * `broadcastHot = true` to ship it to the scan side and skip the
    * join shuffle entirely.
    */
  def dupNgramFraction(df: DataFrame, textCol: String, idCol: String,
      n: Int = 5, minDocs: Int = 2, broadcastHot: Boolean = false): DataFrame = {
    val grams = df.select(col(idCol),
      explode(array_distinct(graft.dedup.Dedup.shingles(col(textCol), n)))
        .as("__g"))
    // grams are distinct within each doc, so a plain count IS the
    // document frequency — no count-distinct state per gram
    val hot0 = grams.groupBy(col("__g"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__g"), lit(1).as("__hot"))
    val hot = if (broadcastHot) broadcast(hot0) else hot0
    grams.join(hot, Seq("__g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        count(col("__hot")).as("n_dup"))
      .withColumn("dup_frac",
        col("n_dup").cast("double") / col("n_grams").cast("double"))
  }

  // ------------------------------------------------------------- sampling
  /** Deterministic stratified sampling for training-data mixes: keep a
    * row iff md5(keyCol) mod 10000 < rate·10000 for its stratum's rate.
    * Hash-gated (not `rand()`), so the sample is reproducible across
    * runs, retries, and engines — the property a 100 TB mix rebuild
    * needs — and sampling composes: a 0.5 sample of a 0.5 sample is the
    * 0.25 sample. Strata absent from `rates` drop (rate 0).
    */
  def mixSample(df: DataFrame, stratumCol: String, keyCol: String,
      rates: Map[String, Double]): DataFrame = {
    val gate = pmod(
      graft.dedup.Dedup.portableHash60(col(keyCol).cast("string")), lit(10000L))
    val rateCol = rates.foldLeft(lit(0.0)) { case (acc, (stratum, r)) =>
      when(col(stratumCol) === stratum, lit(r)).otherwise(acc)
    }
    df.filter(gate < rateCol * 10000.0)
  }

  /** Out-of-vocabulary novelty counts: tokens outside the corpus'
    * top-`vocabSize` vocabulary (by document frequency, ties to the
    * lexicographically smaller token — a total, engine-portable
    * order). The classic "rare-token rate" quality/novelty signal,
    * complementing the intra-document signals
    * ([[withQualitySignals]]/[[withRepetitionSignals]]) and the
    * target-distribution affinity ([[graft.text.Importance]]) with a
    * corpus-vocabulary-conditional one.
    *
    * Scale shape: one distinct-(token, doc) census picks the
    * vocabulary (bounded collect: `vocabSize` rows), which then rides
    * into a scan-local counting expression as a LITERAL array — the
    * corpus is never joined or shuffled. All outputs are integers.
    */
  def withOovCounts(df: DataFrame, textCol: String = "text",
      vocabSize: Int = 16): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val vocab = df.filter(col(textCol).isNotNull)
      .select(explode(array_distinct(tokens(col(textCol)))).as("__t"))
      .groupBy(col("__t")).agg(count(lit(1)).as("__df"))
      .orderBy(col("__df").desc, col("__t").asc).limit(vocabSize)
      .collect().map(_.getString(0)).toSeq
    val vocabCol = typedLit(vocab)
    val tk = tokens(col(textCol))
    df.withColumn("n_tokens",
        when(col(textCol).isNull, lit(0)).otherwise(size(tk)).cast("long"))
      .withColumn("n_oov",
        when(col(textCol).isNull, lit(0))
          .otherwise(size(filter(tk, t => !array_contains(vocabCol, t))))
          .cast("long"))
  }

  /** Temperature-weighted (α = 0.5) per-stratum keep rates for a target
    * sample of `total / targetDiv` rows: weight each stratum by √n (the
    * multilingual-sampling temperature trick that up-weights small
    * sources relative to proportional sampling), then convert weights
    * to rates capped at 1. Feed the result to [[mixSample]].
    *
    * Engine-portability: √ is IEEE correctly-rounded everywhere, so the
    * per-stratum √n is bit-identical across engines; it is then FLOORED
    * to an integer at 1e6 so the cross-strata SUM is exact integer math
    * (a raw double Σ√n would depend on summation order, which SQL
    * aggregates don't define). The remaining rate arithmetic is a fixed
    * left-to-right double chain. The collect is bounded at one row per
    * stratum (a training mix has tens of sources, not millions).
    */
  def temperatureRates(df: DataFrame, stratumCol: String,
      targetDiv: Long = 5L): Map[String, Double] = {
    val counts = df.groupBy(col(stratumCol)).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    val targetN = total / targetDiv
    val sq = counts.map { case (k, n) =>
      k -> math.floor(math.sqrt(n.toDouble) * 1e6).toLong
    }
    val denom = sq.values.sum
    counts.map { case (k, n) =>
      k -> math.min(1.0,
        targetN.toDouble * sq(k).toDouble / denom.toDouble / n.toDouble)
    }
  }
}
