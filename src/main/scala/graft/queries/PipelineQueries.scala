package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.{Dedup, IncrementalDedup}
import graft.functions.MinHashSignature
import graft.multimodal.Multimodal
import graft.similarity.Ann
import graft.sources.Tables
import graft.streaming.StreamingOps
import graft.text.TextAnalysis

/** Training-data pipeline operator catalog: deduplication, similarity
  * search, text analysis, multimodal plumbing, streaming — over the
  * documents/embeddings/events fixtures. DuckDB oracles wherever the
  * computation is portable (md5-based hashing, integer counts,
  * exact-decimal sums); engine-native-hash operators (simhash, LSH
  * buckets) are rows-only + property-tested.
  */
object PipelineQueries {

  // documents/embeddings feed per-row-heavy operators (hash sketches,
  // language-ID folds, cosine folds) — fan their single-file fixture
  // scans out to cluster width; other tables load plain
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "documents" || name == "embeddings") Tables.loadFanned(s, dir, name)
    else Tables.load(s, dir, name)

  /** One-pass staging for the streaming queries' file-source inputs: a
    * frame carrying a 0-based `__chunk` tag lands as `chunk-<i>.parquet`
    * files with pinned, strictly increasing mtimes (the file source's
    * (mtime, path) replay order). Replaces the per-chunk
    * filter→coalesce(1)→write loops, which scanned the input once PER
    * chunk (for q194 that re-synthesized every PNG 4×): one tagged scan,
    * one write job partitioned by the tag, k file moves. Chunk
    * MEMBERSHIP — and therefore every micro-batch's row set — is
    * identical to the loop; only intra-file row order may differ, which
    * no staged consumer observes (every per-batch computation keys or
    * aggregates by id). `repartition(k, __chunk)` puts each tag in
    * exactly one task, so each tag directory holds exactly one part
    * file; a tag with zero rows gets an explicit empty-frame write so
    * the batch count is preserved.
    */
  private def stageChunksTagged(tagged: DataFrame, nChunks: Int,
      inDir: String): Unit = {
    val stage = s"$inDir-stage"
    tagged.repartition(nChunks, col("__chunk"))
      .write.partitionBy("__chunk").parquet(stage)
    val empty = tagged.filter(lit(false)).drop("__chunk").coalesce(1)
    (0 until nChunks).foreach { i =>
      val dir = new java.io.File(s"$stage/__chunk=$i")
      val parts = Option(dir.listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet"))
      // each tag lands in exactly one task (hash-repartition on the
      // tag) and so one file — but if a writer conf ever splits a
      // partition dir (e.g. spark.sql.files.maxRecordsPerFile), moving
      // only the first file would silently DROP the rest from the
      // stream; fail loudly instead
      require(parts.size <= 1,
        s"stageChunksTagged: ${parts.size} parquet files under " +
          s"__chunk=$i — single-file-per-chunk invariant broken " +
          "(maxRecordsPerFile set?)")
      val part = parts.headOption
      val dest = java.nio.file.Paths.get(s"$inDir/chunk-$i.parquet")
      part match {
        case Some(p) => java.nio.file.Files.move(p.toPath, dest)
        case None => // empty chunk: land a 0-row file to keep the batch
          val es = s"$stage/__empty$i"
          empty.write.parquet(es)
          val ep = new java.io.File(es).listFiles()
            .find(_.getName.endsWith(".parquet")).get
          java.nio.file.Files.move(ep.toPath, dest)
      }
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    // tag-domain guard: a tag outside 0..nChunks-1 (or a null tag →
    // __HIVE_DEFAULT_PARTITION__) writes a partition dir the move loop
    // never visits — those rows would silently vanish from the stream.
    // After the moves every visited dir is empty, so ANY parquet left
    // under the stage dir is orphaned data: fail loudly.
    val leftovers = Option(new java.io.File(stage).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory &&
        Option(d.listFiles()).toSeq.flatten.exists(_.getName.endsWith(".parquet")))
    require(leftovers.isEmpty,
      s"stageChunksTagged: unmoved parquet under " +
        s"${leftovers.map(_.getName).mkString(", ")} — __chunk tag " +
        s"outside 0..${nChunks - 1} (or null); rows would be dropped")
  }

  /** [[stageChunksTagged]] over explicit chunk frames (k-dependent
    * transforms): tags and unions them — still one write job.
    */
  private def stageChunks(chunks: Seq[DataFrame], inDir: String): Unit =
    stageChunksTagged(
      chunks.zipWithIndex.map { case (c, i) =>
        c.withColumn("__chunk", lit(i))
      }.reduce(_ unionByName _), chunks.size, inDir)

  // ---------------------------------------------------------------- q30
  /** Exact dedup census over documents (md5 content hash). */
  def q30DedupExact(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val groups = Dedup.exactSurvivors(d, "text", "doc_id")
    groups.agg(
      sum(col("dup_count")).as("n_docs"),
      count(lit(1)).as("n_distinct_texts"),
      sum(when(col("dup_count") > 1, col("dup_count")).otherwise(0L)).as("n_dup_docs"),
      sum(when(col("dup_count") > 1, 1L).otherwise(0L)).as("n_dup_groups"))
  }

  val q30Sql: String =
    """WITH g AS (SELECT md5(text) AS h, COUNT(*) AS c FROM documents GROUP BY 1)
      |SELECT CAST(SUM(c) AS BIGINT) AS n_docs, COUNT(*) AS n_distinct_texts,
      |  CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup_docs,
      |  CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups
      |FROM g""".stripMargin

  // ---------------------------------------------------------------- q31
  /** MinHash signatures (4 portable md5-min hashes over 3-shingles),
    * one row per document.
    */
  def q31MinhashSig(s: SparkSession, dir: String): DataFrame =
    // null filter mirrors the oracle CTE's WHERE text IS NOT NULL (the
    // sketch null-propagates; the SQL CASE would not)
    t(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), MinHashSignature(col("text"), 4).as("__sig"))
      .select(col("doc_id") +:
        (0 until 4).map(i => element_at(col("__sig"), i + 1).as(s"mh$i")): _*)
      .orderBy(col("doc_id"))

  private val shingleSqlCte: String =
    """d AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents
      |  WHERE text IS NOT NULL),
      |s AS (SELECT doc_id, text,
      |  CASE WHEN len(tk) >= 3
      |    THEN list_transform(range(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
      |    ELSE [text] END AS sh
      |  FROM d)""".stripMargin

  val q31Sql: String =
    s"""WITH $shingleSqlCte
       |SELECT doc_id,
       |  list_aggregate(list_transform(sh, x -> md5('0|' || x)), 'min') AS mh0,
       |  list_aggregate(list_transform(sh, x -> md5('1|' || x)), 'min') AS mh1,
       |  list_aggregate(list_transform(sh, x -> md5('2|' || x)), 'min') AS mh2,
       |  list_aggregate(list_transform(sh, x -> md5('3|' || x)), 'min') AS mh3
       |FROM s ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q32
  /** MinHash-LSH near-dup pipeline census: banded candidate pairs +
    * jaccard-verified pairs (threshold 0.7).
    */
  def q32NearDups(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("text").isNotNull)
    // one LSH stage feeds both census legs (cands is cached; the
    // verify leg reuses it instead of rebuilding signatures). Uncached,
    // exchange reuse saves 2 of 14 jobs but no wall (Bench sf0.01).
    val cands = Dedup.lshCandidatePairs(d, "text", "doc_id").cache()
    val nCand = cands.agg(count(lit(1)).as("n_candidates"))
    val nVer = Dedup.verifyJaccard(cands, d, "text", "doc_id", threshold = 0.7)
      .agg(count(lit(1)).as("n_verified"))
    nCand.crossJoin(nVer)
  }

  val q32Sql: String =
    s"""WITH $shingleSqlCte,
       |sig AS (SELECT doc_id, sh,
       |  list_aggregate(list_transform(sh, x -> md5('0|' || x)), 'min') AS h0,
       |  list_aggregate(list_transform(sh, x -> md5('1|' || x)), 'min') AS h1,
       |  list_aggregate(list_transform(sh, x -> md5('2|' || x)), 'min') AS h2,
       |  list_aggregate(list_transform(sh, x -> md5('3|' || x)), 'min') AS h3
       |  FROM s),
       |keys AS (
       |  SELECT doc_id, 0 AS band, h0 || '#' || h1 AS key FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, h2 || '#' || h3 AS key FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
       |  FROM keys a JOIN keys b
       |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |ver AS (SELECT ia, ib FROM cand
       |  JOIN (SELECT doc_id, list_distinct(sh) AS sha FROM sig) x ON x.doc_id = ia
       |  JOIN (SELECT doc_id, list_distinct(sh) AS shb FROM sig) y ON y.doc_id = ib
       |  WHERE CAST(len(list_intersect(sha, shb)) AS DOUBLE) /
       |    CAST(len(list_distinct(list_concat(sha, shb))) AS DOUBLE) >= 0.7)
       |SELECT (SELECT COUNT(*) FROM cand) AS n_candidates,
       |       (SELECT COUNT(*) FROM ver) AS n_verified""".stripMargin

  // ---------------------------------------------------------------- q33
  /** Language-ID confusion matrix: heuristic stopword-argmax prediction
    * vs the labeled lang column.
    */
  def q33LangId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("pred_lang", TextAnalysis.langId(col("text")))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred_lang"))

  val q33Sql: String = {
    def hits(lang: String): String = {
      val list = TextAnalysis.stopwords.toMap.apply(lang)
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(string_split(text, ' '), x -> list_contains($list, x)))"
    }
    s"""WITH h AS (SELECT lang,
       |  ${hits("de")} AS hde, ${hits("en")} AS hen, ${hits("es")} AS hes,
       |  ${hits("fr")} AS hfr, ${hits("zh")} AS hzh
       |  FROM documents),
       |p AS (SELECT lang,
       |  CASE WHEN GREATEST(hde, hen, hes, hfr, hzh) = 0 THEN 'und'
       |       WHEN hde = GREATEST(hde, hen, hes, hfr, hzh) THEN 'de'
       |       WHEN hen = GREATEST(hde, hen, hes, hfr, hzh) THEN 'en'
       |       WHEN hes = GREATEST(hde, hen, hes, hfr, hzh) THEN 'es'
       |       WHEN hfr = GREATEST(hde, hen, hes, hfr, hzh) THEN 'fr'
       |       ELSE 'zh' END AS pred_lang
       |  FROM h)
       |SELECT lang, pred_lang, COUNT(*) AS n FROM p
       |GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin
  }

  // ---------------------------------------------------------------- q34
  /** Quality scoring rollup per source: integer signal sums + exact
    * ratio-of-sums (never sum-of-ratios).
    */
  def q34Quality(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.withQualitySignals(t(s, dir, "documents"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("sum_tokens"),
        sum(col("n_chars_m").cast("long")).as("sum_chars"),
        sum(col("n_stopwords").cast("long")).as("sum_stopwords"),
        sum(when(col("is_quality"), 1L).otherwise(0L)).as("n_quality"))
      .withColumn("stopword_ratio",
        col("sum_stopwords").cast("double") / col("sum_tokens").cast("double"))
      .orderBy(col("source"))

  val q34Sql: String = {
    val en = TextAnalysis.stopwords.toMap.apply("en")
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH q AS (SELECT source,
       |  len(string_split(text, ' ')) AS n_tokens,
       |  length(text) AS n_chars_m,
       |  len(list_filter(string_split(text, ' '), x -> list_contains($en, x))) AS n_stopwords,
       |  len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens
       |  FROM documents)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       |  CAST(SUM(n_chars_m) AS BIGINT) AS sum_chars,
       |  CAST(SUM(n_stopwords) AS BIGINT) AS sum_stopwords,
       |  CAST(SUM(CASE WHEN n_tokens >= 20 AND n_tokens <= 1000 AND n_distinct_tokens >= 10
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       |  CAST(SUM(n_stopwords) AS DOUBLE) / CAST(SUM(n_tokens) AS DOUBLE) AS stopword_ratio
       |FROM q GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- q35
  /** Token frequency top-20 over the corpus (explode + count + top-k). */
  def q35TopTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(20)

  val q35Sql: String =
    """SELECT token, COUNT(*) AS cnt FROM (
      |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q36
  /** Canonical-fingerprint clustering census. */
  def q36Fingerprint(s: SparkSession, dir: String): DataFrame = {
    val clusters = Dedup.fingerprintClusters(t(s, dir, "documents"), "text", "doc_id")
    clusters.agg(
      sum(col("cluster_size")).as("n_docs"),
      count(lit(1)).as("n_fingerprints"),
      sum(when(col("cluster_size") > 1, 1L).otherwise(0L)).as("n_clusters_gt1"),
      max(col("cluster_size")).as("max_cluster"))
  }

  val q36Sql: String =
    """WITH fp AS (
      |  SELECT md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS f,
      |    COUNT(*) AS c
      |  FROM documents GROUP BY 1)
      |SELECT CAST(SUM(c) AS BIGINT) AS n_docs, COUNT(*) AS n_fingerprints,
      |  CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_clusters_gt1,
      |  MAX(c) AS max_cluster
      |FROM fp""".stripMargin

  // ---------------------------------------------------------------- q37
  /** SimHash near-dup census over the PORTABLE 60-bit md5 signature
    * (Dedup.simhashPortable) — hash-checked against a DuckDB oracle that
    * replays the identical bit votes. The xxhash64 production signature
    * (Dedup.simhash) is covered by its own equivalence/property specs;
    * this query gates the algorithm (bit-vote majority, prefix-bucket
    * blocking, hamming verification) on portable arithmetic.
    */
  def q37Simhash(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    // the 60-bit vote fold is the expensive stage: compute it ONCE,
    // cache, and feed both census legs (the distinct count and the
    // bucketed self-join would otherwise each re-run it — the self-join
    // twice, once per side)
    val sigs = d.select(col("doc_id"), Dedup.simhashPortable(col("text")).as("sig"))
      .cache()
    val pairs = Dedup.simhashNearDuplicatesFromSigs(sigs, "doc_id",
      maxDistance = 32, prefixBits = 4, bits = 60)
    sigs.agg(countDistinct(col("sig")).as("n_distinct_sigs"))
      .crossJoin(pairs.agg(
        count(lit(1)).as("n_near_pairs"),
        coalesce(min(col("distance")), lit(-1)).as("min_distance")))
  }

  val q37Sql: String = {
    val votes =
      """list_aggregate(list_transform(th, h ->
        |    CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END), 'sum')""".stripMargin
    s"""WITH tok AS (SELECT doc_id,
       |  list_transform(string_split(text, ' '),
       |    t -> CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT)) AS th
       |  FROM documents),
       |sig AS (SELECT doc_id,
       |  list_aggregate(list_transform(range(0, 60), b ->
       |    CASE WHEN $votes > 0
       |    THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END), 'sum') AS sg
       |  FROM tok),
       |b AS (SELECT doc_id, sg, sg >> 56 AS bucket FROM sig),
       |pairs AS (SELECT bit_count(xor(x.sg, y.sg)) AS distance
       |  FROM b x JOIN b y ON x.bucket = y.bucket AND x.doc_id < y.doc_id
       |  WHERE bit_count(xor(x.sg, y.sg)) <= 32)
       |SELECT (SELECT COUNT(DISTINCT sg) FROM sig) AS n_distinct_sigs,
       |       (SELECT COUNT(*) FROM pairs) AS n_near_pairs,
       |       (SELECT CAST(COALESCE(MIN(distance), -1) AS INTEGER) FROM pairs) AS min_distance""".stripMargin
  }

  // ---------------------------------------------------------------- q38
  /** BPE-ish token statistics per source: sub-word token counts split
    * by class (letter runs / digit runs / marks). Pure regex + integer
    * sums — portable to the SQL oracle verbatim.
    */
  def q38BpeTokens(s: SparkSession, dir: String): DataFrame = {
    val toks = TextAnalysis.bpeishTokens(col("text"))
    t(s, dir, "documents")
      .select(col("source"),
        size(toks).as("n_tok"),
        size(filter(toks, t => t.rlike("^[A-Za-z]+$"))).as("n_alpha"),
        size(filter(toks, t => t.rlike("^[0-9]+$"))).as("n_digit"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok").cast("long")).as("sum_tokens"),
        sum(col("n_alpha").cast("long")).as("sum_alpha"),
        sum(col("n_digit").cast("long")).as("sum_digit"),
        sum((col("n_tok") - col("n_alpha") - col("n_digit")).cast("long"))
          .as("sum_marks"))
      .orderBy(col("source"))
  }

  val q38Sql: String =
    s"""WITH tk AS (SELECT source,
       |  regexp_extract_all(text, '${TextAnalysis.bpeishPattern.replace("'", "''")}') AS toks
       |  FROM documents),
       |c AS (SELECT source, len(toks) AS n_tok,
       |  len(list_filter(toks, t -> regexp_matches(t, '^[A-Za-z]+$$'))) AS n_alpha,
       |  len(list_filter(toks, t -> regexp_matches(t, '^[0-9]+$$'))) AS n_digit
       |  FROM tk)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
       |  CAST(SUM(n_alpha) AS BIGINT) AS sum_alpha,
       |  CAST(SUM(n_digit) AS BIGINT) AS sum_digit,
       |  CAST(SUM(n_tok - n_alpha - n_digit) AS BIGINT) AS sum_marks
       |FROM c GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q39
  /** Winnowing fingerprint census (Schleimer et al. SIGMOD 2003 local
    * fingerprints over 3-gram/window-4 winnowing): per-doc sketch sizes
    * plus cross-document fingerprint sharing — the local-match
    * complement to q32's global-set MinHash. The sketch pass is the
    * expensive stage; it computes ONCE (cached) and feeds all three
    * census legs.
    */
  def q39Winnow(s: SparkSession, dir: String): DataFrame = {
    // null pin (same class as q54): Spark's sketch null-propagates to
    // NULL while the SQL's CASE yields [NULL] — exclude nulls on both
    // sides so the semantic cannot drift
    val d = t(s, dir, "documents").filter(col("text").isNotNull)
    val fps = d.select(col("doc_id"),
      Dedup.winnowFingerprints(col("text")).as("fps")).cache()
    val perDoc = fps.agg(
      count(lit(1)).as("n_docs"),
      sum(size(col("fps")).cast("long")).as("sum_fps"))
    val e = fps.select(col("doc_id"), explode(col("fps")).as("fp"))
    val distinctFp = e.agg(countDistinct(col("fp")).as("n_distinct_fp"))
    val shared = e.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
      .agg(count(lit(1)).as("n_shared_fp"))
    perDoc.crossJoin(distinctFp).crossJoin(shared)
  }

  val q39Sql: String =
    s"""WITH $shingleSqlCte,
       |h AS (SELECT doc_id,
       |  list_transform(sh, x -> CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT)) AS hs
       |  FROM s),
       |wn AS (SELECT doc_id, list_sort(list_distinct(
       |    CASE WHEN len(hs) >= 4
       |      THEN list_transform(range(1, len(hs) - 2), i -> list_aggregate(hs[i:i+3], 'min'))
       |      ELSE [list_aggregate(hs, 'min')] END)) AS fps
       |  FROM h),
       |e AS (SELECT doc_id, unnest(fps) AS fp FROM wn)
       |SELECT (SELECT COUNT(*) FROM wn) AS n_docs,
       |  (SELECT CAST(SUM(len(fps)) AS BIGINT) FROM wn) AS sum_fps,
       |  (SELECT COUNT(DISTINCT fp) FROM e) AS n_distinct_fp,
       |  (SELECT COUNT(*) FROM (
       |     SELECT fp FROM e GROUP BY fp HAVING COUNT(DISTINCT doc_id) > 1)) AS n_shared_fp""".stripMargin

  // ---------------------------------------------------------------- q40
  /** Brute-force cosine top-10 neighbors of vec 0 (exact fold
    * arithmetic both sides).
    */
  def q40EmbedTopK(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val probe = e.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    Ann.bruteForceTopK(e, "embedding", "vec_id", probe, k = 10, excludeId = Some(0L))
  }

  val q40Sql: String =
    """WITH p AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0),
      |sc AS (SELECT vec_id,
      |  list_aggregate(list_transform(range(1, len(embedding) + 1),
      |    i -> CAST(embedding[i] AS DOUBLE) * CAST(pe[i] AS DOUBLE)), 'sum') /
      |  (sqrt(list_aggregate(list_transform(range(1, len(embedding) + 1),
      |    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), 'sum')) *
      |   sqrt(list_aggregate(list_transform(range(1, len(pe) + 1),
      |    i -> CAST(pe[i] AS DOUBLE) * CAST(pe[i] AS DOUBLE)), 'sum'))) AS cosine
      |  FROM embeddings, p WHERE vec_id <> 0)
      |SELECT vec_id, cosine FROM sc ORDER BY cosine DESC, vec_id ASC LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q41
  /** LSH bucket histogram over the PORTABLE md5-derived hyperplanes
    * (literal weight matrix — zero per-row hashing in the Spark plan) —
    * hash-checked against a DuckDB oracle replaying the identical
    * weight arithmetic and left-to-right projection sums. The xxhash64
    * planes (Ann.lshBucket) remain the engine-native path, spec-covered.
    */
  def q41EmbedLsh(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    e.withColumn("bucket", Ann.lshBucketPortable(col("embedding"), dim))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))
  }

  val q41Sql: String = {
    def proj(p: Int): String =
      s"""list_aggregate(list_transform(range(1, len(embedding) + 1),
         |    i -> CAST(embedding[i] AS DOUBLE) *
         |      ((CAST(('0x' || substring(md5('$p|' || (i - 1)), 1, 15)) AS BIGINT)
         |        % 2000 - 1000) / 1000.0)), 'sum')""".stripMargin
    val bucket = (0 until 8).map(p =>
      s"(CASE WHEN ${proj(p)} >= 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""SELECT bucket, COUNT(*) AS n FROM (
       |  SELECT ($bucket) AS bucket FROM embeddings)
       |GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  // ---------------------------------------------------------------- q42
  /** IVF ANN with EXHAUSTIVE probing (nProbe = nCells): exercises the
    * full index machinery — bounded-sample k-means training, broadcast
    * cell assignment, cell-ranked probing, per-cell TakeOrdered — while
    * guaranteeing the result equals the exact brute-force top-10, so the
    * q40-style DuckDB oracle hash-checks it (also proving the cell
    * assignment is total: a dropped cell would lose neighbors). The
    * approximate regime (nProbe < nCells) is recall-spec-covered in
    * AnnSpec.
    */
  def q42EmbedIvf(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val probe = e.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val index = Ann.ivfBuild(e, "embedding", "vec_id", nCells = 8)
    Ann.ivfTopK(index, probe, k = 10, nProbe = 8)
  }

  val q42Sql: String =
    """WITH p AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0),
      |sc AS (SELECT vec_id,
      |  list_aggregate(list_transform(range(1, len(embedding) + 1),
      |    i -> CAST(embedding[i] AS DOUBLE) * CAST(pe[i] AS DOUBLE)), 'sum') /
      |  (sqrt(list_aggregate(list_transform(range(1, len(embedding) + 1),
      |    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), 'sum')) *
      |   sqrt(list_aggregate(list_transform(range(1, len(pe) + 1),
      |    i -> CAST(pe[i] AS DOUBLE) * CAST(pe[i] AS DOUBLE)), 'sum'))) AS cosine
      |  FROM embeddings, p)
      |SELECT vec_id, cosine FROM sc ORDER BY cosine DESC, vec_id ASC LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q43
  /** Embedding-cosine near-dup census (the embedding analog of the
    * MinHash-LSH text dedup, prompt-listed as a first-class pipeline
    * op): portable-LSH bucket blocking, exact-cosine verification
    * inside buckets only — O(n²) never escapes a bucket. Fully
    * oracle-checked (literal plane weights + the q40-proven fold
    * arithmetic).
    */
  def q43EmbedNearDup(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    // 4 planes → coarser buckets → enough collisions to verify at
    // fixture scale; cached so the self-join's two sides reuse one
    // bucketing pass
    val b = e.select(col("vec_id"), col("embedding"),
      graft.functions.VecMath.norm(col("embedding")).as("__n"),
      Ann.lshBucketPortable(col("embedding"), dim, numPlanes = 4).as("bucket"))
      .cache()
    val a1 = b.select(col("bucket"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("__n").as("__na"))
    val b1 = b.select(col("bucket").as("bucket_b"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), col("__n").as("__nb"))
    a1.join(b1, col("bucket") === col("bucket_b") && col("id_a") < col("id_b"))
      .withColumn("cosine", graft.functions.VecMath.cosinePre(
        col("emb_a"), col("emb_b"), col("__na") * col("__nb")))
      .agg(
        count(lit(1)).as("n_candidates"),
        sum(when(col("cosine") >= 0.4, 1L).otherwise(0L)).as("n_verified"),
        coalesce(max(col("cosine")), lit(-2.0)).as("max_cosine"))
  }

  val q43Sql: String = {
    def proj(p: Int, side: String): String =
      s"""list_aggregate(list_transform(range(1, len($side.embedding) + 1),
         |    i -> CAST($side.embedding[i] AS DOUBLE) *
         |      ((CAST(('0x' || substring(md5('$p|' || (i - 1)), 1, 15)) AS BIGINT)
         |        % 2000 - 1000) / 1000.0)), 'sum')""".stripMargin
    def bucket(side: String): String = (0 until 4).map(p =>
      s"(CASE WHEN ${proj(p, side)} >= 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""WITH bk AS (SELECT vec_id, embedding, (${bucket("embeddings")}) AS bucket
       |  FROM embeddings),
       |pr AS (SELECT
       |  list_aggregate(list_transform(range(1, len(a.embedding) + 1),
       |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum') /
       |  (sqrt(list_aggregate(list_transform(range(1, len(a.embedding) + 1),
       |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), 'sum')) *
       |   sqrt(list_aggregate(list_transform(range(1, len(b.embedding) + 1),
       |    i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum'))) AS cosine
       |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |SELECT COUNT(*) AS n_candidates,
       |  CAST(SUM(CASE WHEN cosine >= 0.4 THEN 1 ELSE 0 END) AS BIGINT) AS n_verified,
       |  COALESCE(MAX(cosine), -2.0) AS max_cosine
       |FROM pr""".stripMargin
  }

  // ---------------------------------------------------------------- q44
  /** REAL image decode census: synthesize one deterministic 8×8 PNG per
    * document (channel values are integer arithmetic in (doc_id, x, y)),
    * decode it with the JDK's actual `javax.imageio` PNG reader through
    * the per-partition codec lifecycle, and roll up integer-exact pixel
    * sums. PNG is lossless, so the DuckDB oracle recomputes the decoded
    * statistics from the generation formula without any image library —
    * the decode path (codec init/reuse/dispose, binary round trip,
    * pixel extraction) is what this gates.
    */
  def q44ImageDecode(s: SparkSession, dir: String): DataFrame = {
    val ids = t(s, dir, "documents").select(col("doc_id"))
    val media = Multimodal.synthesizePngs(ids, "doc_id", w = 8, h = 8)
    val stats = Multimodal.decodeImageStats(media)
    stats.agg(
      count(lit(1)).as("n_images"),
      sum(col("width").cast("long")).as("sum_width"),
      sum(col("height").cast("long")).as("sum_height"),
      sum(col("sum_red")).as("sum_red"),
      sum(col("sum_green")).as("sum_green"),
      sum(col("sum_blue")).as("sum_blue"))
  }

  val q44Sql: String =
    """WITH px AS (
      |  SELECT doc_id, xs.x AS x, ys.y AS y
      |  FROM documents, range(0, 8) xs(x), range(0, 8) ys(y))
      |SELECT (SELECT COUNT(*) FROM documents) AS n_images,
      |  (SELECT CAST(8 * COUNT(*) AS BIGINT) FROM documents) AS sum_width,
      |  (SELECT CAST(8 * COUNT(*) AS BIGINT) FROM documents) AS sum_height,
      |  CAST(SUM((doc_id * 31 + x * 7 + y * 13) % 256) AS BIGINT) AS sum_red,
      |  CAST(SUM((doc_id * 17 + x * 3 + y * 5) % 256) AS BIGINT) AS sum_green,
      |  CAST(SUM((doc_id * 11 + x + y) % 256) AS BIGINT) AS sum_blue
      |FROM px""".stripMargin

  // ---------------------------------------------------------------- q89
  /** REAL image resize census ([[Multimodal.resizeImages]]): 8×8
    * synthetic PNGs decoded with the JDK codec, nearest-neighbor
    * resampled to 5×3 (non-divisible ratios exercise the floor
    * mapping), re-encoded, and the RESIZED pixels' integer channel
    * sums reported per image. PNG is lossless and the resample mapping
    * is integer arithmetic, so the full per-image mapping hash-checks
    * against a formula replay — the decode→transform→encode path is
    * what this gates.
    */
  def q89ImageResize(s: SparkSession, dir: String): DataFrame = {
    val ids = t(s, dir, "documents").select(col("doc_id"))
    val media = Multimodal.synthesizePngs(ids, "doc_id", w = 8, h = 8)
    Multimodal.resizeImages(media, outW = 5, outH = 3)
      .select(col("media_id").as("doc_id"), col("src_w"), col("src_h"),
        col("out_w"), col("out_h"), col("sum_red"), col("sum_green"),
        col("sum_blue"))
      .orderBy(col("doc_id"))
  }

  val q89Sql: String =
    """WITH px AS (
      |  SELECT doc_id, (xs.x * 8) // 5 AS sx, (ys.y * 8) // 3 AS sy
      |  FROM documents, range(0, 5) xs(x), range(0, 3) ys(y))
      |SELECT doc_id, 8 AS src_w, 8 AS src_h, 5 AS out_w, 3 AS out_h,
      |  CAST(SUM((doc_id * 31 + sx * 7 + sy * 13) % 256) AS BIGINT) AS sum_red,
      |  CAST(SUM((doc_id * 17 + sx * 3 + sy * 5) % 256) AS BIGINT) AS sum_green,
      |  CAST(SUM((doc_id * 11 + sx + sy) % 256) AS BIGINT) AS sum_blue
      |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q45
  /** Multimodal metadata census over the binary media table. */
  def q45MultimodalMeta(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.asBinaryTable(t(s, dir, "documents"))
    media.agg(
      count(lit(1)).as("n_items"),
      sum(col("meta.n_bytes").cast("long")).as("sum_bytes"),
      countDistinct(col("meta.content_md5")).as("n_distinct_md5"))
  }

  val q45Sql: String =
    """SELECT COUNT(*) AS n_items,
      |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS sum_bytes,
      |  COUNT(DISTINCT md5(text)) AS n_distinct_md5
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------- q46
  /** Multimodal feature extraction + frame sampling census. The decode
    * stub is a deterministic md5-digest expansion and the frame sampler
    * is pure byte arithmetic, so the whole mapPartitions/flatMap
    * pipeline is hash-checkable: the oracle recomputes the first
    * feature byte from md5 and the frame counts/sizes from the payload
    * length.
    */
  def q46MultimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.asBinaryTable(t(s, dir, "documents"))
    val feats = Multimodal.extractFeatures(media)
    val frames = Multimodal.sampleFrames(media)
    feats.agg(
        count(lit(1)).as("n_feature_rows"),
        // features are byte/255f floats; ×255 + round recovers the exact
        // digest byte (float error ≪ 0.5), so the sum is integer-exact
        sum(round(element_at(col("features"), 1) * 255).cast("long"))
          .as("sum_feature0_byte"))
      .crossJoin(frames.agg(
        count(lit(1)).as("n_frames"),
        sum(col("frame_bytes").cast("long")).as("sum_frame_bytes")))
  }

  val q46Sql: String =
    """WITH m AS (SELECT octet_length(encode(text)) AS nb,
      |    CAST(('0x' || substring(md5(text), 1, 2)) AS BIGINT) AS b0
      |  FROM documents),
      |f AS (SELECT nb, GREATEST(1, nb // 64) AS nframes FROM m)
      |SELECT (SELECT COUNT(*) FROM m) AS n_feature_rows,
      |  (SELECT CAST(SUM(b0) AS BIGINT) FROM m) AS sum_feature0_byte,
      |  (SELECT CAST(SUM((nframes + 3) // 4) AS BIGINT) FROM f) AS n_frames,
      |  (SELECT CAST(SUM(CASE WHEN nb < 64 THEN nb
      |    ELSE 64 * ((nframes + 3) // 4) END) AS BIGINT) FROM f) AS sum_frame_bytes""".stripMargin

  // ---------------------------------------------------------------- q47
  /** Structured Streaming monthly rollup over the events stream —
    * checked against the same DuckDB oracle as the batch q15 twin.
    */
  def q47StreamMonth(s: SparkSession, dir: String): DataFrame = {
    val stream = StreamingOps.eventsStream(s, dir)
    StreamingOps.runToCompletion(
        StreamingOps.monthlyTypeStats(stream), s"stream_month_${dir.hashCode.abs}")
      .orderBy(col("month"), col("event_type"))
  }

  val q47Sql: String = Relational.q15Sql

  // ---------------------------------------------------------------- q48
  /** Windowed + watermarked streaming aggregation (1h tumbling),
    * window struct flattened to its start instant — hash-checked
    * against a batch date_trunc oracle (tumbling windows align to the
    * epoch, i.e. to hour boundaries).
    */
  def q48StreamWindow(s: SparkSession, dir: String): DataFrame = {
    val stream = StreamingOps.eventsStream(s, dir)
    // state-store sizing (the q59 rule): a streaming agg commits one
    // state store per shuffle partition per micro-batch; 32 partitions
    // = 32 commits+fsyncs per batch for a few thousand window-key rows.
    // 8 partitions matches this stream's state volume — the number the
    // job would be deployed with on a cluster — and removes the
    // fsync-bound variance the bench tail showed at 32. ConfScope-
    // forked: the stream plans/runs at 8, the caller's conf untouched.
    val result = StreamingOps.runToCompletion(
      StreamingOps.windowedTypeStats(
        graft.operators.ConfScope.shufflePartitions(stream, 8)),
      s"stream_win_${dir.hashCode.abs}")
    result
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("window_start"),
        col("event_type"), col("n"), col("sum_value").cast("double").as("sum_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  val q48Sql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS window_start,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY window_start, event_type
      |ORDER BY window_start, event_type""".stripMargin

  // ---------------------------------------------------------------- q49
  /** Gap-based sessionization census over the event log (the batch twin
    * of the flatMapGroupsWithState streaming sessionizer, equivalence-
    * spec'd in StreamingSpec): per-user lag + cumulative session ids,
    * integer-exact session aggregates. Windows are per-user — no global
    * window anywhere.
    */
  def q49Sessions(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
    graft.streaming.Sessionize.sessionsBatch(e, gapSeconds = 1800)
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_singletons"),
        max(col("n_events")).as("max_events"),
        sum(col("session_end").cast("long") - col("session_start").cast("long"))
          .as("sum_duration_sec"))
  }

  val q49Sql: String =
    """WITH o AS (SELECT user_id, ts,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      |  FROM events),
      |m AS (SELECT user_id, ts,
      |  CASE WHEN prev IS NULL
      |    OR epoch_ns(ts) // 1000000000 - epoch_ns(prev) // 1000000000 > 1800
      |    THEN 1 ELSE 0 END AS ns FROM o),
      |s2 AS (SELECT user_id, ts, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS UNBOUNDED PRECEDING) AS sid FROM m),
      |g AS (SELECT user_id, sid,
      |    MIN(epoch_ns(ts) // 1000000000) AS a,
      |    MAX(epoch_ns(ts) // 1000000000) AS b,
      |    COUNT(*) AS c
      |  FROM s2 GROUP BY user_id, sid)
      |SELECT COUNT(*) AS n_sessions,
      |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
      |  MAX(c) AS max_events,
      |  CAST(SUM(b - a) AS BIGINT) AS sum_duration_sec
      |FROM g""".stripMargin

  // ---------------------------------------------------------------- q59
  /** Stream-stream interval join census: every (purchase, click) pair of
    * the same user where the click lands within 30 minutes before the
    * purchase — attribution, the canonical streaming-join workload. Runs
    * as a genuine Structured Streaming self-join (two watermarked legs
    * of the event stream, time-range state eviction, append sink); the
    * DuckDB oracle replays the identical batch interval join. Timestamp
    * comparisons run at microsecond precision on both sides (the parquet
    * carries nanos; Spark reads micros), and the lag sums are
    * floor-second integers — exact.
    */
  def q59StreamIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = StreamingOps.eventsStream(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"), col("event_id").as("c_id"))
    val joined = StreamingOps.intervalJoin(purchases, clicks, "user_id",
      "p_ts", "c_ts", lookback = "30 minutes")
    // state-store sizing: a stream-stream join keeps FOUR state stores
    // per shuffle partition; at 32 partitions that is 128 store commits
    // per micro-batch for a join whose state is a few thousand rows.
    // 8 partitions is the right order for this stream's volume — on a
    // real cluster this is the spark.sql.shuffle.partitions the
    // streaming job would be deployed with, sized to state volume, not
    // to the batch analytics default. ConfScope-forked.
    val result = StreamingOps.runToCompletionAppend(
      graft.operators.ConfScope.shufflePartitions(joined, 8),
      s"stream_ij_${dir.hashCode.abs}")
    result
      .agg(
        count(lit(1)).as("n_pairs"),
        countDistinct(col("p_id")).as("n_purchases_with_click"),
        sum(col("p_ts").cast("long") - col("c_ts").cast("long")).as("sum_lag_sec"))
  }

  val q59Sql: String =
    """WITH p AS (SELECT event_id AS p_id, user_id, epoch_ns(ts) // 1000 AS p_us
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT event_id AS c_id, user_id, epoch_ns(ts) // 1000 AS c_us
      |  FROM events WHERE event_type = 'click'),
      |j AS (SELECT p_id, p_us // 1000000 - c_us // 1000000 AS lag_sec
      |  FROM p JOIN c ON p.user_id = c.user_id
      |  AND c_us >= p_us - 1800000000 AND c_us <= p_us)
      |SELECT COUNT(*) AS n_pairs,
      |  COUNT(DISTINCT p_id) AS n_purchases_with_click,
      |  CAST(SUM(lag_sec) AS BIGINT) AS sum_lag_sec
      |FROM j""".stripMargin

  // ---------------------------------------------------------------- q64
  /** Streaming Bloom-gated incremental dedup census
    * ([[StreamingOps.bloomDedupStream]]): the documents table replayed
    * as FOUR micro-batches (chunked by doc_id, one file per trigger);
    * every batch filters against the driver-merged Bloom sketch of all
    * previously emitted docs before being folded in itself. Survivors =
    * one row per distinct text plus every null-text row, independent of
    * batch order — exactly what the DuckDB oracle counts. fpp 1e-9 over
    * ≤20k docs puts the expected false-positive drop at ~1e-5 (and the
    * sketch hashing is deterministic, so the run is exact-or-not
    * reproducibly; verified exact at sf0.001/0.01/0.1).
    */
  def q64StreamBloomDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val tmp = graft.tools.Scratch.tempDir("q64")
    val in = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    stageChunksTagged(
      docs.withColumn("__chunk", pmod(col("doc_id"), lit(4))), 4, in)
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    var nBatches = 0L
    var nSurvivors = 0L
    // state-volume sizing (the q48/q59 rule): each micro-batch's
    // within-batch dedup shuffle and partial-sketch build handle a few
    // thousand rows — 8 partitions, not the 32 batch-analytics
    // default. ConfScope-forked, never the caller's conf.
    val q = StreamingOps.bloomDedupStream(
        graft.operators.ConfScope.shufflePartitions(stream, 8), "text",
        expectedItems = 100000L, fpp = 1e-9) { (unseen, _) =>
      nBatches += 1
      nSurvivors += unseen.count()
    }
    try q.processAllAvailable() finally q.stop()
    import s.implicits._
    Seq((nSurvivors, nBatches)).toDF("n_unique_docs", "n_batches")
  }

  val q64Sql: String =
    """SELECT (SELECT COUNT(DISTINCT text) FROM documents WHERE text IS NOT NULL)
      |     + (SELECT COUNT(*) FROM documents WHERE text IS NULL) AS n_unique_docs,
      |  CAST(4 AS BIGINT) AS n_batches""".stripMargin

  // ---------------------------------------------------------------- q65
  /** One-pass table profile ([[graft.operators.Profile]]) over the
    * documents corpus — the ingest data-quality report. Exact path
    * (multi-distinct Expand, one scan) as the oracle surface; the HLL
    * sketch twin is error-bound spec'd in PipelineSpec and is what a
    * 100 TB profile would run.
    */
  def q65Profile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.exact(
        t(s, dir, "documents"), "doc_id", "lang", "source")
      .orderBy(col("col_name"))

  val q65Sql: String = {
    def leg(c: String): String =
      s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
         |  COUNT(*) - COUNT($c) AS n_nulls,
         |  COUNT(DISTINCT $c) AS n_distinct,
         |  CAST(MIN($c) AS VARCHAR) AS min_value,
         |  CAST(MAX($c) AS VARCHAR) AS max_value FROM documents""".stripMargin
    Seq("doc_id", "lang", "source").map(leg)
      .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY col_name")
  }

  // ---------------------------------------------------------------- q66
  /** Group-capped mix sampling census ([[graft.operators.Sampling]]):
    * at most 7 docs per (lang, source) stratum, selected by a seeded
    * portable hash order — the id checksum pins the EXACT kept set,
    * not just its size.
    */
  def q66CapSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.capPerGroup(
        t(s, dir, "documents"), Seq("lang", "source"), 7, "doc_id")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_kept_ids"))
      .orderBy(col("lang"), col("source"))

  val q66Sql: String =
    """WITH k AS (SELECT lang, source, doc_id,
      |  row_number() OVER (PARTITION BY lang, source
      |    ORDER BY md5(CAST(doc_id AS VARCHAR) || '#42'), doc_id) AS rn
      |  FROM documents)
      |SELECT lang, source, COUNT(*) AS n_kept,
      |  CAST(SUM(doc_id) AS BIGINT) AS sum_kept_ids
      |FROM k WHERE rn <= 7 GROUP BY lang, source ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------------- q67
  /** Per-language token-count distribution: EXACT quartiles via Spark's
    * `percentile` (sort-based linear interpolation — the same
    * definition as DuckDB's PERCENTILE_CONT, and exact in doubles
    * because quarter-fractions of integer gaps are dyadic). The corpus
    * length-profile report; at 100 TB swap `percentile` for
    * `approx_percentile` (KLL-style sketch, mergeable partials) — the
    * same trade the profiler makes for distinct counts.
    */
  def q67LenPercentiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"),
        size(split(col("text"), " ")).cast("double").as("n_tokens"))
      .groupBy(col("lang"))
      .agg(count(col("n_tokens")).as("n_docs"),
        expr("percentile(n_tokens, array(0.25D, 0.5D, 0.75D))").as("__ps"))
      .select(col("lang"), col("n_docs"),
        element_at(col("__ps"), 1).as("p25"),
        element_at(col("__ps"), 2).as("p50"),
        element_at(col("__ps"), 3).as("p75"))
      .orderBy(col("lang"))

  val q67Sql: String =
    """SELECT lang, COUNT(n_tokens) AS n_docs,
      |  PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY n_tokens) AS p25,
      |  PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY n_tokens) AS p50,
      |  PERCENTILE_CONT(0.75) WITHIN GROUP (ORDER BY n_tokens) AS p75
      |FROM (SELECT lang,
      |  CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens
      |  FROM documents)
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q68
  /** Near-dup CLUSTER resolution ([[graft.dedup.Components]]): the
    * verified MinHash-LSH pairs of q32 closed into connected components
    * via alternating large-star/small-star rounds; output is the full
    * (doc_id → component representative) mapping — the exact survivor
    * assignment a dedup pass deletes against. Pair-level dedup alone
    * under-deletes chains (A~B~C with A!~C keeps two of three); the
    * oracle replays the closure with a recursive CTE.
    */
  def q68NearDupComponents(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("text").isNotNull)
    val edges = Dedup.nearDuplicates(d, "text", "doc_id", threshold = 0.7)
      .select(col("id_a"), col("id_b"))
    // iteration shuffles are EDGE-sized (the duplicate graph), orders of
    // magnitude below the corpus scan — size them to that state volume,
    // not the analytics default (the q59 streaming-join precedent); each
    // closure round is ~6 shuffles, so the overhead multiplies. Scoped
    // via ConfScope (forked session), never the caller's conf.
    val mapping = graft.dedup.Components.connectedComponents(
      graft.operators.ConfScope.shufflePartitions(edges, 8))
    mapping.select(col("id").as("doc_id"), col("rep"))
      .orderBy(col("doc_id"))
  }

  val q68Sql: String =
    s"""WITH RECURSIVE $shingleSqlCte,
       |sig AS (SELECT doc_id, sh,
       |  list_aggregate(list_transform(sh, x -> md5('0|' || x)), 'min') AS h0,
       |  list_aggregate(list_transform(sh, x -> md5('1|' || x)), 'min') AS h1,
       |  list_aggregate(list_transform(sh, x -> md5('2|' || x)), 'min') AS h2,
       |  list_aggregate(list_transform(sh, x -> md5('3|' || x)), 'min') AS h3
       |  FROM s),
       |keys AS (
       |  SELECT doc_id, 0 AS band, h0 || '#' || h1 AS key FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, h2 || '#' || h3 AS key FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
       |  FROM keys a JOIN keys b
       |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |ver AS (SELECT ia, ib FROM cand
       |  JOIN (SELECT doc_id, list_distinct(sh) AS sha FROM sig) x ON x.doc_id = ia
       |  JOIN (SELECT doc_id, list_distinct(sh) AS shb FROM sig) y ON y.doc_id = ib
       |  WHERE CAST(len(list_intersect(sha, shb)) AS DOUBLE) /
       |    CAST(len(list_distinct(list_concat(sha, shb))) AS DOUBLE) >= 0.7),
       |sym AS (SELECT ia AS a, ib AS b FROM ver
       |  UNION SELECT ib AS a, ia AS b FROM ver),
       |reach(a, b) AS (SELECT a, b FROM sym
       |  UNION SELECT r.a, s2.b FROM reach r JOIN sym s2 ON r.b = s2.a),
       |rep AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS rep
       |  FROM reach GROUP BY a)
       |SELECT doc_id, rep FROM rep ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q69
  /** As-of attribution ([[graft.operators.AsOf]]): every purchase event
    * joined to the single most recent click of the same user at-or-before
    * it — "latest prior state", resolved with zero join operators (one
    * key shuffle + per-key ordered window; a range join would fan out
    * every in-window pair first). Output is the full per-purchase
    * mapping at microsecond precision; the oracle resolves each
    * purchase independently with a correlated LIMIT 1.
    */
  def q69AsofAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("c_ts"))
    graft.operators.AsOf.joinAsOf(purchases, clicks, Seq("user_id"),
        "p_ts", "c_ts", tieCol = "click_id", payload = Seq("click_id", "c_ts"))
      .select(col("purchase_id"), col("user_id"),
        col("click_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("lag_us"))
      .orderBy(col("purchase_id"))
  }

  val q69Sql: String =
    """WITH p AS (SELECT event_id AS purchase_id, user_id, epoch_ns(ts) // 1000 AS p_us
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT event_id AS click_id, user_id, epoch_ns(ts) // 1000 AS c_us
      |  FROM events WHERE event_type = 'click')
      |SELECT p.purchase_id, p.user_id,
      |  (SELECT c.click_id FROM c
      |   WHERE c.user_id = p.user_id AND c.c_us <= p.p_us
      |   ORDER BY c.c_us DESC, c.click_id DESC LIMIT 1) AS click_id,
      |  (SELECT p.p_us - c.c_us FROM c
      |   WHERE c.user_id = p.user_id AND c.c_us <= p.p_us
      |   ORDER BY c.c_us DESC, c.click_id DESC LIMIT 1) AS lag_us
      |FROM p ORDER BY purchase_id""".stripMargin

  // ---------------------------------------------------------------- q70
  /** Int8-quantized cosine top-10 ([[Ann.int8TopK]]): the memory-bound
    * ANN scan — 4 bytes/dim becomes 1, and because per-vector scales
    * cancel inside cosine, ranking runs on pure integer dots (exact in
    * both engines) plus one sqrt and one division (IEEE-identical).
    * Same probe and TakeOrdered shape as q40; the score column is the
    * quantized cosine, hash-compared bit-for-bit.
    */
  def q70EmbedInt8(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val probe = e.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    Ann.int8TopK(e, "embedding", "vec_id", probe, k = 10, excludeId = Some(0L))
  }

  val q70Sql: String =
    """WITH m AS (SELECT vec_id, embedding,
      |  list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') AS mx
      |  FROM embeddings),
      |q AS (SELECT vec_id,
      |  list_transform(embedding, x -> CASE WHEN mx = 0 THEN 0
      |    ELSE CAST(floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5) AS INTEGER) END) AS c
      |  FROM m),
      |p AS (SELECT c AS pc FROM q WHERE vec_id = 0),
      |sc AS (SELECT vec_id,
      |  CAST(list_aggregate(list_transform(range(1, len(c) + 1),
      |    i -> CAST(c[i] AS BIGINT) * pc[i]), 'sum') AS BIGINT) AS dot,
      |  CAST(list_aggregate(list_transform(range(1, len(c) + 1),
      |    i -> CAST(c[i] AS BIGINT) * c[i]), 'sum') AS BIGINT) AS na,
      |  CAST(list_aggregate(list_transform(range(1, len(pc) + 1),
      |    i -> CAST(pc[i] AS BIGINT) * pc[i]), 'sum') AS BIGINT) AS nb
      |  FROM q, p WHERE vec_id <> 0)
      |SELECT vec_id, CASE WHEN na * nb = 0 THEN 0.0
      |  ELSE CAST(dot AS DOUBLE) / sqrt(CAST(na * nb AS DOUBLE)) END AS qcosine
      |FROM sc ORDER BY qcosine DESC, vec_id ASC LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q71
  /** Sequence-packing census ([[graft.operators.Packing]]): documents
    * concatenated per language in doc_id order and chunked into
    * 512-token training sequences — chunk counts, token totals, and
    * boundary straddlers, all integer window arithmetic (exact). At
    * corpus scale the group key gains a deterministic shard column so
    * every (lang, shard) packs independently.
    */
  def q71Packing(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.packingCensus(
        t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("lang"), col("doc_id"),
            size(split(col("text"), " ")).as("sz")),
        Seq("lang"), "doc_id", "sz", budget = 512)
      .orderBy(col("lang"))

  val q71Sql: String =
    """WITH d AS (SELECT lang, doc_id, len(string_split(text, ' ')) AS sz
      |  FROM documents WHERE text IS NOT NULL),
      |c AS (SELECT lang, doc_id, sz, SUM(sz) OVER (PARTITION BY lang
      |    ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM d),
      |a AS (SELECT lang, sz, (cum - sz) // 512 AS cs,
      |  CASE WHEN sz > 0 THEN (cum - 1) // 512 ELSE (cum - sz) // 512 END AS ce
      |  FROM c)
      |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(sz) AS BIGINT) AS n_tokens,
      |  CAST(MAX(ce) + 1 AS BIGINT) AS n_chunks,
      |  CAST(SUM(CASE WHEN ce > cs THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
      |FROM a GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q72
  /** Cross-document duplicated n-gram fraction
    * ([[TextAnalysis.dupNgramFraction]]): per-document share of
    * distinct 5-grams occurring in ≥ 5 docs corpus-wide — the
    * boilerplate/template signal the WITHIN-doc repetition filters
    * (q51) cannot see. Full per-doc mapping hash-checked.
    */
  def q72DupNgrams(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.dupNgramFraction(
        t(s, dir, "documents").filter(col("text").isNotNull),
        "text", "doc_id", n = 5, minDocs = 5)
      .orderBy(col("doc_id"))

  val q72Sql: String =
    """WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS tk
      |  FROM documents WHERE text IS NOT NULL),
      |s5 AS (SELECT doc_id,
      |  CASE WHEN len(tk) >= 5
      |    THEN list_transform(range(1, len(tk) - 3),
      |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])
      |    ELSE [text] END AS sh
      |  FROM d),
      |g AS (SELECT doc_id, unnest(list_distinct(sh)) AS gram FROM s5),
      |f AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY gram)
      |SELECT g.doc_id, COUNT(*) AS n_grams,
      |  CAST(SUM(CASE WHEN f.df >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      |  CAST(SUM(CASE WHEN f.df >= 5 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS dup_frac
      |FROM g JOIN f USING (gram)
      |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin

  // ---------------------------------------------------------------- q73
  /** Leakage-safe split census ([[graft.operators.Split]]): the q68
    * near-dup components assigned WHOLE-cluster to train/val/test by a
    * portable md5 gate on the component representative. `n_moved`
    * counts docs whose naive per-doc gate would have disagreed — i.e.
    * the train/test leaks the cluster-consistent split prevents. The
    * id checksum pins the exact per-split membership.
    */
  def q73LeakageSplit(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("text").isNotNull)
    val edges = Dedup.nearDuplicates(d, "text", "doc_id", threshold = 0.7)
      .select(col("id_a"), col("id_b"))
    // closure shuffles are edge-sized — size them to that state volume
    // (the q68 precedent), ConfScope-forked, never the caller's conf
    val mapping = graft.dedup.Components.connectedComponents(
      graft.operators.ConfScope.shufflePartitions(edges, 8))
    graft.operators.Split.leakageSafeSplit(d, mapping, "doc_id")
      .withColumn("naive_split",
        graft.operators.Split.splitOf(col("doc_id"), "split42"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("split_key")).as("n_clusters"),
        sum(col("doc_id")).as("id_sum"),
        sum(when(col("naive_split") =!= col("split"), 1L).otherwise(0L))
          .as("n_moved"))
      .orderBy(col("split"))
  }

  val q73Sql: String =
    s"""WITH RECURSIVE $shingleSqlCte,
       |sig AS (SELECT doc_id, sh,
       |  list_aggregate(list_transform(sh, x -> md5('0|' || x)), 'min') AS h0,
       |  list_aggregate(list_transform(sh, x -> md5('1|' || x)), 'min') AS h1,
       |  list_aggregate(list_transform(sh, x -> md5('2|' || x)), 'min') AS h2,
       |  list_aggregate(list_transform(sh, x -> md5('3|' || x)), 'min') AS h3
       |  FROM s),
       |keys AS (
       |  SELECT doc_id, 0 AS band, h0 || '#' || h1 AS key FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, h2 || '#' || h3 AS key FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
       |  FROM keys a JOIN keys b
       |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |ver AS (SELECT ia, ib FROM cand
       |  JOIN (SELECT doc_id, list_distinct(sh) AS sha FROM sig) x ON x.doc_id = ia
       |  JOIN (SELECT doc_id, list_distinct(sh) AS shb FROM sig) y ON y.doc_id = ib
       |  WHERE CAST(len(list_intersect(sha, shb)) AS DOUBLE) /
       |    CAST(len(list_distinct(list_concat(sha, shb))) AS DOUBLE) >= 0.7),
       |sym AS (SELECT ia AS a, ib AS b FROM ver
       |  UNION SELECT ib AS a, ia AS b FROM ver),
       |reach(a, b) AS (SELECT a, b FROM sym
       |  UNION SELECT r.a, s2.b FROM reach r JOIN sym s2 ON r.b = s2.a),
       |rep AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS rep
       |  FROM reach GROUP BY a),
       |asg AS (SELECT d.doc_id, COALESCE(r.rep, d.doc_id) AS split_key
       |  FROM d LEFT JOIN rep r ON r.doc_id = d.doc_id),
       |lab AS (SELECT doc_id, split_key,
       |  CASE WHEN substr(md5('split42|' || CAST(split_key AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
       |       WHEN substr(md5('split42|' || CAST(split_key AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
       |       ELSE 'test' END AS split,
       |  CASE WHEN substr(md5('split42|' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
       |       WHEN substr(md5('split42|' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
       |       ELSE 'test' END AS naive_split
       |  FROM asg)
       |SELECT split, COUNT(*) AS n_docs,
       |  COUNT(DISTINCT split_key) AS n_clusters,
       |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       |  CAST(SUM(CASE WHEN naive_split <> split THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
       |FROM lab GROUP BY split ORDER BY split""".stripMargin

  // ---------------------------------------------------------------- q74
  /** Training-order shuffle census ([[graft.operators.Shard]]): the
    * deterministic global shuffle laid out as 8 hash shards, no global
    * sort. Per shard: exact membership checksum plus the first/last doc
    * in within-shard order — together with the shard-from-leading-bits
    * rule this pins the full global ordering's endpoints.
    */
  def q74TrainingOrder(s: SparkSession, dir: String): DataFrame =
    graft.operators.Shard.trainingOrder(
        t(s, dir, "documents"), "doc_id", seed = 7L, nShards = 8)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_sum"),
        min_by(col("doc_id"), col("order_key")).as("first_doc"),
        max_by(col("doc_id"), col("order_key")).as("last_doc"))
      .orderBy(col("shard"))

  val q74Sql: String =
    """WITH h AS (SELECT doc_id,
      |  md5(CAST(doc_id AS VARCHAR) || '#7') AS order_key FROM documents),
      |s AS (SELECT doc_id, order_key,
      |  CAST(('0x' || substr(order_key, 1, 4)) AS INTEGER) // 8192 AS shard FROM h)
      |SELECT shard, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum,
      |  arg_min(doc_id, order_key) AS first_doc,
      |  arg_max(doc_id, order_key) AS last_doc
      |FROM s GROUP BY shard ORDER BY shard""".stripMargin

  // ---------------------------------------------------------------- q75
  /** DSIR-shaped data selection ([[graft.text.Importance]]): raw docs
    * scored by hashed-bigram affinity to the `src0` target slice and
    * the top 20 kept — integer cross-multiplied surrogate of the
    * smoothed log-likelihood ratio, so the exact scores hash-check.
    * The 256-bucket weight table is broadcast (plan-pinned).
    */
  def q75TargetAffinity(s: SparkSession, dir: String): DataFrame =
    graft.text.Importance.targetAffinity(
        t(s, dir, "documents").filter(col("text").isNotNull),
        "text", "doc_id", col("source") === "src0", nBuckets = 256, n = 2)
      .orderBy(col("affinity").desc, col("doc_id"))
      .limit(20)

  val q75Sql: String =
    """WITH d AS (SELECT doc_id, source, text, string_split(text, ' ') AS tk
      |  FROM documents WHERE text IS NOT NULL),
      |g0 AS (SELECT doc_id, source, unnest(CASE WHEN len(tk) >= 2
      |    THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
      |    ELSE [text] END) AS gram FROM d),
      |g AS (SELECT doc_id, source = 'src0' AS t,
      |  CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) % 256 AS b FROM g0),
      |c AS (SELECT b, SUM(CASE WHEN t THEN 1 ELSE 0 END) AS tc,
      |  SUM(CASE WHEN t THEN 0 ELSE 1 END) AS rc FROM g GROUP BY b),
      |tot AS (SELECT SUM(tc) AS tt, SUM(rc) AS rt FROM c),
      |w AS (SELECT b, (tc + 1) * (rt + 256) - (rc + 1) * (tt + 256) AS w
      |  FROM c, tot)
      |SELECT g.doc_id, COUNT(*) AS n_grams, CAST(SUM(w.w) AS BIGINT) AS affinity
      |FROM g JOIN w USING (b) WHERE NOT g.t
      |GROUP BY g.doc_id ORDER BY affinity DESC, g.doc_id LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q76
  /** SemDeDup survivor census ([[graft.similarity.SemDedup]]): q43's
    * verified embedding pairs (cosine ≥ 0.4 within portable LSH cells)
    * closed into components and DELETED down to min-id representatives
    * — the embedding-space twin of q68→dropNearDuplicates. The id
    * checksum pins the exact survivor set; the oracle replays cells,
    * cosines, and the recursive closure.
    */
  def q76SemDedup(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    // closure shuffles are edge-sized — the q68 sizing rule,
    // ConfScope-forked, never the caller's conf
    val result = graft.similarity.SemDedup.dropEmbeddingNearDuplicates(
      graft.operators.ConfScope.shufflePartitions(e, 8),
      "embedding", "vec_id", threshold = 0.4, numPlanes = 4,
      probeBits = 0) // pinned: the oracle replays single-probe cells
    // the handle's pinned loser frame backs the lazy census; in the
    // catalog the driver's per-query clearCache releases it (the q68
    // mapping precedent) — library users call result.close()
    result.survivors.agg(
      count(lit(1)).as("n_survivors"),
      sum(col("vec_id")).as("survivor_id_sum"))
      .crossJoin(result.losers.agg(count(lit(1)).as("n_losers")))
  }

  val q76Sql: String = {
    def proj(p: Int, side: String): String =
      s"""list_aggregate(list_transform(range(1, len($side.embedding) + 1),
         |    i -> CAST($side.embedding[i] AS DOUBLE) *
         |      ((CAST(('0x' || substring(md5('$p|' || (i - 1)), 1, 15)) AS BIGINT)
         |        % 2000 - 1000) / 1000.0)), 'sum')""".stripMargin
    def bucket(side: String): String = (0 until 4).map(p =>
      s"(CASE WHEN ${proj(p, side)} >= 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""WITH RECURSIVE bk AS (SELECT vec_id, embedding,
       |  (${bucket("embeddings")}) AS bucket FROM embeddings),
       |pr AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
       |  list_aggregate(list_transform(range(1, len(a.embedding) + 1),
       |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum') /
       |  (sqrt(list_aggregate(list_transform(range(1, len(a.embedding) + 1),
       |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), 'sum')) *
       |   sqrt(list_aggregate(list_transform(range(1, len(b.embedding) + 1),
       |    i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum'))) AS cosine
       |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |e AS (SELECT ia, ib FROM pr WHERE cosine >= 0.4),
       |sym AS (SELECT ia AS a, ib AS b FROM e
       |  UNION SELECT ib AS a, ia AS b FROM e),
       |reach(a, b) AS (SELECT a, b FROM sym
       |  UNION SELECT r.a, s2.b FROM reach r JOIN sym s2 ON r.b = s2.a),
       |rep AS (SELECT a AS vec_id, LEAST(a, MIN(b)) AS rep
       |  FROM reach GROUP BY a),
       |losers AS (SELECT vec_id FROM rep WHERE vec_id <> rep)
       |SELECT
       |  (SELECT COUNT(*) FROM embeddings) - (SELECT COUNT(*) FROM losers) AS n_survivors,
       |  CAST((SELECT SUM(vec_id) FROM embeddings)
       |    - COALESCE((SELECT SUM(vec_id) FROM losers), 0) AS BIGINT) AS survivor_id_sum,
       |  (SELECT COUNT(*) FROM losers) AS n_losers""".stripMargin
  }

  // ---------------------------------------------------------------- q77
  /** RefinedWeb-style quality-gate FUNNEL: the four scan-local filter
    * families (language agreement, quality thresholds, Gopher
    * repetition, PII-free) composed into one keep/drop cascade with
    * per-stage attrition counts. Every signal is computed in a single
    * pass over the corpus — the whole gate pipelines inside the scan;
    * the only shuffle is the final one-row rollup.
    */
  def q77QualityFunnel(s: SparkSession, dir: String): DataFrame = {
    val d = TextAnalysis.withPiiSignals(
      TextAnalysis.withRepetitionSignals(
        TextAnalysis.withQualitySignals(
          t(s, dir, "documents").filter(col("text").isNotNull))))
    val langOk = TextAnalysis.langId(col("text")) === col("lang")
    val qualOk = col("is_quality")
    val repOk =
      !((col("n_bigrams") - col("n_distinct_bigrams")) * 5 > col("n_bigrams")) &&
        !(col("top_token_cnt") * 5 > col("n_tokens_r"))
    val piiOk = col("n_emails") + col("n_ipv4") + col("n_phones") === 0
    d.agg(
      count(lit(1)).as("n_total"),
      sum(when(langOk, 1L).otherwise(0L)).as("n_lang_ok"),
      sum(when(langOk && qualOk, 1L).otherwise(0L)).as("n_after_quality"),
      sum(when(langOk && qualOk && repOk, 1L).otherwise(0L))
        .as("n_after_repetition"),
      sum(when(langOk && qualOk && repOk && piiOk, 1L).otherwise(0L))
        .as("n_kept"))
  }

  val q77Sql: String = {
    def hits(lang: String): String = {
      val list = TextAnalysis.stopwords.toMap.apply(lang)
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(tk, x -> list_contains($list, x)))"
    }
    def cnt(p: String): String = s"len(regexp_extract_all(text, '$p'))"
    s"""WITH d AS (SELECT lang, text, string_split(text, ' ') AS tk
       |  FROM documents WHERE text IS NOT NULL),
       |f AS (SELECT lang, text, tk,
       |  ${hits("de")} AS hde, ${hits("en")} AS hen, ${hits("es")} AS hes,
       |  ${hits("fr")} AS hfr, ${hits("zh")} AS hzh,
       |  len(tk) AS nt, len(list_distinct(tk)) AS ndt,
       |  CASE WHEN len(tk) >= 2
       |    THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
       |    ELSE [text] END AS bg,
       |  list_max(list_transform(list_distinct(tk),
       |    x -> len(list_filter(tk, y -> y = x)))) AS topc,
       |  ${cnt(TextAnalysis.emailPattern)} + ${cnt(TextAnalysis.ipv4Pattern)}
       |    + ${cnt(TextAnalysis.phonePattern)} AS npii
       |  FROM d),
       |g AS (SELECT
       |  (CASE WHEN GREATEST(hde, hen, hes, hfr, hzh) = 0 THEN 'und'
       |        WHEN hde = GREATEST(hde, hen, hes, hfr, hzh) THEN 'de'
       |        WHEN hen = GREATEST(hde, hen, hes, hfr, hzh) THEN 'en'
       |        WHEN hes = GREATEST(hde, hen, hes, hfr, hzh) THEN 'es'
       |        WHEN hfr = GREATEST(hde, hen, hes, hfr, hzh) THEN 'fr'
       |        ELSE 'zh' END) = lang AS lang_ok,
       |  (nt >= 20 AND nt <= 1000 AND ndt >= 10) AS qual_ok,
       |  (NOT ((len(bg) - len(list_distinct(bg))) * 5 > len(bg))
       |    AND NOT (topc * 5 > nt)) AS rep_ok,
       |  npii = 0 AS pii_ok
       |  FROM f)
       |SELECT COUNT(*) AS n_total,
       |  CAST(SUM(CASE WHEN lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_ok,
       |  CAST(SUM(CASE WHEN lang_ok AND qual_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_after_quality,
       |  CAST(SUM(CASE WHEN lang_ok AND qual_ok AND rep_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_after_repetition,
       |  CAST(SUM(CASE WHEN lang_ok AND qual_ok AND rep_ok AND pii_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM g""".stripMargin
  }

  // ---------------------------------------------------------------- q78
  /** Deterministic fractional upsampling census
    * ([[graft.operators.Sampling.upsampleByWeight]]): src0 weighted
    * 2.5×, src1 thinned to 0.25×, everything else 1× — the
    * domain-weighting step of a training mix, reproducible because the
    * fractional copy is md5-gated, not random. The doc×copy checksum
    * pins the exact output multiset.
    */
  def q78Upsample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.upsampleByWeight(
        t(s, dir, "documents"), "source", "doc_id",
        Map("src0" -> 2.5, "src1" -> 0.25))
      .groupBy(col("source"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_rows"),
        sum(col("doc_id") * col("copy_idx")).as("checksum"))
      .orderBy(col("source"))

  val q78Sql: String =
    """WITH w AS (SELECT doc_id, source,
      |  CASE WHEN source = 'src0' THEN 2.5
      |       WHEN source = 'src1' THEN 0.25 ELSE 1.0 END AS wt,
      |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#up42'), 1, 15))
      |    AS BIGINT) % 10000 AS gate
      |  FROM documents),
      |c AS (SELECT doc_id, source,
      |  CAST(floor(wt) + CASE WHEN gate < (wt - floor(wt)) * 10000.0
      |    THEN 1 ELSE 0 END AS INTEGER) AS n FROM w),
      |e AS (SELECT doc_id, source, unnest(generate_series(1, n)) AS copy_idx
      |  FROM c WHERE n >= 1)
      |SELECT source, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_rows,
      |  CAST(SUM(doc_id * copy_idx) AS BIGINT) AS checksum
      |FROM e GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q79
  /** Z-order layout census ([[graft.operators.ZOrder]]): orders
    * Morton-interleaved on (customer, order-day) and rolled up by the
    * top 4 z-bits — each of the 16 quadtree cells must confine BOTH
    * dimensions to a ≤1024-wide band (the data-skipping property a
    * single-column sort cannot give: it bounds one dimension and
    * leaves the other full-range). Min/max per cell are exactly the
    * file-statistics a pruned scan would consult.
    */
  def q79ZorderLayout(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val day = datediff(col("o_orderdate"), to_date(lit("1995-01-01")))
    graft.operators.ZOrder.layout(
        o.withColumn("__day", day.cast("long")),
        "o_custkey", "__day", bits = 12, nPartitions = 16)
      .withColumn("zbucket", shiftright(col("zval"), 20))
      .groupBy(col("zbucket"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_custkey")).as("min_cust"),
        max(col("o_custkey")).as("max_cust"),
        min(col("__day")).as("min_day"),
        max(col("__day")).as("max_day"))
      .orderBy(col("zbucket"))
  }

  val q79Sql: String = {
    val terms = (0 until 12).flatMap(i => Seq(
      s"(((ck >> $i) & 1) << ${2 * i + 1})",
      s"(((dy >> $i) & 1) << ${2 * i})"))
    s"""WITH d AS (SELECT o_custkey AS ck,
       |  date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS dy
       |  FROM orders),
       |z AS (SELECT ck, dy, (${terms.mkString(" | ")}) AS zval FROM d)
       |SELECT zval >> 20 AS zbucket, COUNT(*) AS n_orders,
       |  MIN(ck) AS min_cust, MAX(ck) AS max_cust,
       |  MIN(dy) AS min_day, MAX(dy) AS max_day
       |FROM z GROUP BY zbucket ORDER BY zbucket""".stripMargin
  }

  // ---------------------------------------------------------------- q80
  /** Count-Min frequency estimates ([[graft.operators.CountMin]]) for
    * the exact top-10 tokens, side by side with their true counts —
    * the constant-state twin of q35's full census (the sketch shuffle
    * carries ≤ depth×width rows per partition regardless of the
    * distinct-key space; the estimate is the broadcast-join min).
    * md5-portable hashing makes even the ESTIMATES hash-checkable.
    */
  def q80CountMin(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents").filter(col("text").isNotNull)
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
    val exact = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("token"))
      .limit(10)
    val sk = graft.operators.CountMin.sketch(toks, "token")
    graft.operators.CountMin.estimate(sk, exact.select(col("token")), "token")
      .join(exact, Seq("token"))
      .select(col("token"), col("exact_cnt"), col("est_cnt"))
      .orderBy(col("exact_cnt").desc, col("token"))
  }

  val q80Sql: String =
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
      |  FROM documents WHERE text IS NOT NULL),
      |cnt AS (SELECT token, COUNT(*) AS exact_cnt FROM tok GROUP BY token),
      |top AS (SELECT token, exact_cnt FROM cnt
      |  ORDER BY exact_cnt DESC, token LIMIT 10),
      |rb AS (SELECT range AS r FROM range(4)),
      |sk AS (SELECT r,
      |  CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || token), 1, 15))
      |    AS BIGINT) % 1024 AS bucket, COUNT(*) AS cnt
      |  FROM tok, rb GROUP BY 1, 2),
      |est AS (SELECT top.token, top.exact_cnt, MIN(sk.cnt) AS est_cnt
      |  FROM top CROSS JOIN rb
      |  JOIN sk ON sk.r = rb.r AND sk.bucket =
      |    CAST(('0x' || substr(md5(CAST(rb.r AS VARCHAR) || '|' || top.token), 1, 15))
      |      AS BIGINT) % 1024
      |  GROUP BY 1, 2)
      |SELECT token, exact_cnt, est_cnt FROM est
      |ORDER BY exact_cnt DESC, token""".stripMargin

  // ---------------------------------------------------------------- q81
  /** Corpus drift census: token distributions of two snapshots (the
    * src0 slice vs the src1 slice) compared over 256 hashed buckets —
    * the monitoring check that catches a crawl/source distribution
    * shift before it reaches training. Per-bucket chi-square terms
    * are integer cross-products with ONE final division, so every row
    * is IEEE-identical cross-engine (the repo's ratio-of-sums rule:
    * doubles appear once, at the end, per row — never summed). Both
    * census legs are map-side-combined single shuffles of ≤256 rows.
    * The long cross-products hold to ~3e9 tokens per side; beyond
    * that, swap the term for the float ratio form (the
    * [[graft.text.Importance]] trade, same pipeline).
    */
  def q81DriftCensus(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("text").isNotNull)
    def side(src: String, name: String) = d.filter(col("source") === src)
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .select(pmod(Dedup.portableHash60(col("token")), lit(256L)).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as(name))
    val a = side("src0", "n_a")
    val b = side("src1", "n_b")
    val joined = a.join(b, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    val (ta, tb) = {
      val r = joined.agg(sum(col("n_a")), sum(col("n_b"))).head()
      (r.getLong(0), r.getLong(1))
    }
    joined.withColumn("chi2_term",
        when(col("n_a") + col("n_b") === 0L, lit(0.0)).otherwise(
          ((col("n_a") * tb - col("n_b") * ta)
            * (col("n_a") * tb - col("n_b") * ta)).cast("double")
            / ((col("n_a") + col("n_b")) * lit(ta) * lit(tb)).cast("double")))
      .orderBy(col("bucket"))
  }

  val q81Sql: String =
    """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token
      |  FROM documents WHERE text IS NOT NULL AND source IN ('src0', 'src1')),
      |bk AS (SELECT source,
      |  CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) % 256 AS bucket
      |  FROM tok),
      |a AS (SELECT bucket, COUNT(*) AS n_a FROM bk WHERE source = 'src0' GROUP BY bucket),
      |b AS (SELECT bucket, COUNT(*) AS n_b FROM bk WHERE source = 'src1' GROUP BY bucket),
      |j AS (SELECT COALESCE(a.bucket, b.bucket) AS bucket,
      |  COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
      |  FROM a FULL OUTER JOIN b ON a.bucket = b.bucket),
      |tot AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM j)
      |SELECT bucket, n_a, n_b,
      |  CASE WHEN n_a + n_b = 0 THEN 0.0 ELSE
      |    CAST((n_a * tb - n_b * ta) * (n_a * tb - n_b * ta) AS DOUBLE)
      |      / CAST((n_a + n_b) * ta * tb AS DOUBLE) END AS chi2_term
      |FROM j, tot ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- q82
  /** Batch kNN join ([[Ann.knnJoin]]): exact cosine top-3 for each of
    * 5 probe vectors in ONE pass — the similarity-graph/retrieval-eval
    * workload. Probes broadcast against the corpus scan; per-probe
    * top-k resolves through the salted two-phase window (no probe's
    * candidates ever sort on one reducer), which keeps a superset of
    * the true top-k and is therefore exact — the full (probe, rank,
    * neighbor, cosine) table hash-checks against a flat windowed
    * oracle.
    */
  def q82KnnJoin(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    Ann.knnJoin(e, "embedding", "vec_id", probes, "probe_id", "embedding",
        k = 3)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy(col("probe_id"), col("rank"))
  }

  val q82Sql: String = {
    def dotExpr(a: String, b: String): String =
      s"""list_aggregate(list_transform(range(1, len($a) + 1),
         |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), 'sum')""".stripMargin
    s"""WITH p AS (SELECT vec_id AS probe_id, embedding AS pemb
       |  FROM embeddings WHERE vec_id < 5),
       |sc AS (SELECT p.probe_id, e.vec_id,
       |  ${dotExpr("e.embedding", "p.pemb")} /
       |  (sqrt(${dotExpr("e.embedding", "e.embedding")}) *
       |   sqrt(${dotExpr("p.pemb", "p.pemb")})) AS cosine
       |  FROM embeddings e CROSS JOIN p WHERE e.vec_id <> p.probe_id),
       |r AS (SELECT probe_id, vec_id, cosine,
       |  row_number() OVER (PARTITION BY probe_id
       |    ORDER BY cosine DESC, vec_id ASC) AS rank FROM sc)
       |SELECT probe_id, rank, vec_id, cosine FROM r WHERE rank <= 3
       |ORDER BY probe_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------- q83
  /** Duplicated-span census ([[graft.text.SpanDedup]]): the
    * exact-substring deduplication shape of Lee et al. 2022 at token
    * granularity — every token covered by an 8-token window occurring
    * ≥2 times corpus-wide lies in a duplicated span; spans merge on
    * overlap/adjacency and the rebuilt span-free text is fingerprinted.
    * Full per-doc mapping (span count, covered tokens, clean-text md5)
    * hash-checked against a windowed gaps-and-islands oracle.
    */
  def q83SpanDedup(s: SparkSession, dir: String): DataFrame =
    graft.text.SpanDedup.spanCensus(
        t(s, dir, "documents"), "text", "doc_id", n = 8, minCount = 2)
      .orderBy(col("doc_id"))

  val q83Sql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk
      |  FROM documents WHERE text IS NOT NULL),
      |gp AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 7)) AS pos
      |  FROM d WHERE len(tk) >= 8),
      |g AS (SELECT doc_id, pos,
      |  array_to_string(list_slice(tk, pos, pos + 7), ' ') AS gram FROM gp),
      |hot AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
      |m AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM hot)),
      |b AS (SELECT doc_id, pos,
      |  CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
      |    OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
      |    THEN 1 ELSE 0 END AS brk FROM m),
      |isl AS (SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id
      |  ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island FROM b),
      |sp AS (SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end
      |  FROM isl GROUP BY doc_id, island),
      |cov AS (SELECT doc_id,
      |  unnest(generate_series(span_start, span_end)) AS pos FROM sp),
      |tok AS (SELECT doc_id, unnest(tk) AS tok,
      |  unnest(generate_series(1, len(tk))) AS pos FROM d),
      |kept AS (SELECT t.doc_id, t.pos, t.tok FROM tok t
      |  LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
      |  WHERE c.pos IS NULL),
      |clean AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS ct
      |  FROM kept GROUP BY doc_id),
      |spc AS (SELECT doc_id, COUNT(*) AS n_spans,
      |  CAST(SUM(span_end - span_start + 1) AS BIGINT) AS covered_tokens
      |  FROM sp GROUP BY doc_id)
      |SELECT d.doc_id, len(d.tk) AS n_tokens,
      |  COALESCE(spc.n_spans, 0) AS n_spans,
      |  COALESCE(spc.covered_tokens, 0) AS covered_tokens,
      |  md5(COALESCE(clean.ct, '')) AS clean_md5
      |FROM d LEFT JOIN spc USING (doc_id) LEFT JOIN clean USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q84
  /** Sliding-window chunking census ([[graft.text.Chunking]]): every
    * document split into 32-token windows advancing by 24 (8-token
    * overlap) — the RAG-indexing / long-doc training shape. Pure
    * integer scan-local arithmetic (the explode happens inside the
    * scan; no shuffle anywhere); the full per-chunk mapping, including
    * an md5 fingerprint of each chunk's text, hash-checks.
    */
  def q84Chunking(s: SparkSession, dir: String): DataFrame =
    graft.text.Chunking.chunk(
        t(s, dir, "documents"), "text", "doc_id", chunkSize = 32, stride = 24)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
        col("chunk_end"), col("n_chunk_tokens"),
        md5(col("chunk_text")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  val q84Sql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk
      |  FROM documents WHERE text IS NOT NULL),
      |c AS (SELECT doc_id, tk, len(tk) AS n,
      |  unnest(generate_series(0, CASE WHEN len(tk) <= 32 THEN 0
      |    ELSE (len(tk) - 32 + 23) // 24 END)) AS chunk_idx FROM d),
      |s AS (SELECT doc_id, chunk_idx, chunk_idx * 24 + 1 AS chunk_start,
      |  least(chunk_idx * 24 + 32, n) AS chunk_end, tk FROM c)
      |SELECT doc_id, chunk_idx, chunk_start, chunk_end,
      |  chunk_end - chunk_start + 1 AS n_chunk_tokens,
      |  md5(array_to_string(list_slice(tk, chunk_start, chunk_end), ' ')) AS chunk_md5
      |FROM s ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------------- q85
  /** Inverted-index build ([[graft.text.Search.invertedIndex]]): the
    * full postings mapping (term, doc, tf) — one scan-local explode plus
    * one map-side-combined count on the (term, doc) key; at scale this
    * is the frame you persist bucketed by `term` so a serving query
    * reads only its terms' buckets. Entire postings list hash-checked.
    */
  def q85InvertedIndex(s: SparkSession, dir: String): DataFrame =
    graft.text.Search.invertedIndex(t(s, dir, "documents"), "text", "doc_id")
      .orderBy(col("term"), col("doc_id"))

  val q85Sql: String =
    """SELECT tok AS term, doc_id, COUNT(*) AS tf
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |      FROM documents WHERE text IS NOT NULL)
      |GROUP BY tok, doc_id
      |ORDER BY term, doc_id""".stripMargin

  // ---------------------------------------------------------------- q86
  /** Conjunctive keyword retrieval
    * ([[graft.text.Search.conjunctiveTopK]]): docs containing ALL of
    * {hash, join, scan}, ranked by summed term frequency, top 20 with a
    * doc-id tiebreak. The term filter is a literal IN that pipelines
    * inside the scan and the top-k is a TakeOrdered — one shuffle, no
    * global sort, no prebuilt index needed.
    */
  def q86SearchTopK(s: SparkSession, dir: String): DataFrame =
    graft.text.Search.conjunctiveTopK(t(s, dir, "documents"), "text",
      "doc_id", terms = Seq("hash", "join", "scan"), k = 20)

  val q86Sql: String =
    """SELECT doc_id, COUNT(*) AS score
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |      FROM documents WHERE text IS NOT NULL)
      |WHERE tok IN ('hash', 'join', 'scan')
      |GROUP BY doc_id
      |HAVING COUNT(DISTINCT tok) = 3
      |ORDER BY score DESC, doc_id
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q87
  /** Positional postings ([[graft.text.Search.positionalIndex]]): the
    * index shape phrase/proximity queries consult — per (term, doc) the
    * sorted 1-based token positions, riding the same single shuffle as
    * the tf index (collect_list + sort). Positions serialized to a
    * comma-joined string so the full mapping hash-checks portably.
    */
  def q87PositionalIndex(s: SparkSession, dir: String): DataFrame =
    graft.text.Search.positionalIndex(t(s, dir, "documents"), "text", "doc_id")
      .select(col("term"), col("doc_id"),
        array_join(transform(col("positions"), _.cast("string")), ",")
          .as("positions"))
      .orderBy(col("term"), col("doc_id"))

  val q87Sql: String =
    """SELECT tok AS term, doc_id,
      |  array_to_string(list_sort(list(pos)), ',') AS positions
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
      |        unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
      |      FROM documents WHERE text IS NOT NULL)
      |GROUP BY tok, doc_id
      |ORDER BY term, doc_id""".stripMargin

  // ---------------------------------------------------------------- q88
  /** Exact-phrase retrieval ([[graft.text.Search.phraseTopK]]): docs
    * containing the consecutive-token phrase "table table", with
    * occurrence counts, top 15. The phrase reduces to a positioned
    * 2-gram equality — a literal filter that pipelines inside the scan;
    * one map-side-combined count shuffle; TakeOrdered top-k.
    */
  def q88PhraseSearch(s: SparkSession, dir: String): DataFrame =
    graft.text.Search.phraseTopK(t(s, dir, "documents"), "text", "doc_id",
      phrase = Seq("table", "table"), k = 15)

  val q88Sql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk
      |  FROM documents WHERE text IS NOT NULL),
      |g AS (SELECT doc_id,
      |    array_to_string(list_slice(tk, pos, pos + 1), ' ') AS gram
      |  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS pos
      |        FROM d WHERE len(tk) >= 2))
      |SELECT doc_id, COUNT(*) AS occurrences
      |FROM g WHERE gram = 'table table'
      |GROUP BY doc_id
      |ORDER BY occurrences DESC, doc_id
      |LIMIT 15""".stripMargin

  // ---------------------------------------------------------------- q50
  /** Heavy-hitter user profile via SALTED two-phase aggregation
    * ([[graft.operators.Skew]]): per-user event counts and distinct
    * event-type sets computed through the (key, salt) scatter/merge
    * path — the shape that bounds any single reducer's state when a key
    * is hot (collect_set does not map-side combine, so without salting
    * ALL of a hot key's rows hit one task). Results are exactly the
    * plain groupBy's — the oracle is the unsalted SQL.
    */
  def q50SaltedHitters(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val counts = graft.operators.Skew.saltedCountByKey(
      e, Seq("user_id"), nSalts = 8, outCol = "n_events")
    val types = graft.operators.Skew.saltedCollectSet(
      e.select(col("user_id"), col("event_type")),
      Seq("user_id"), "event_type", nSalts = 8, outCol = "types")
    counts.join(types, Seq("user_id"))
      .select(col("user_id"), col("n_events"),
        size(col("types")).as("n_types"))
      .orderBy(col("n_events").desc, col("user_id").asc)
      .limit(10)
  }

  val q50Sql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  COUNT(DISTINCT event_type) AS n_types
      |FROM events GROUP BY user_id
      |ORDER BY n_events DESC, user_id ASC LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q51
  /** Gopher-style repetition-filter census per source: integer bigram /
    * top-token counters with cross-multiplied integer thresholds (a doc
    * is "repetitive" when >20% of its bigrams are duplicates, "top
    * heavy" when one token covers >20% of it) — no float ratios
    * anywhere, so the rollup hash-matches exactly.
    */
  def q51Repetition(s: SparkSession, dir: String): DataFrame =
    // null pin: DuckDB list_distinct strips NULL entries, Spark
    // array_distinct keeps them — exclude null texts on both sides
    TextAnalysis.withRepetitionSignals(
      t(s, dir, "documents").filter(col("text").isNotNull))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_bigrams").cast("long")).as("sum_bigrams"),
        sum(col("n_distinct_bigrams").cast("long")).as("sum_distinct_bigrams"),
        sum(when((col("n_bigrams") - col("n_distinct_bigrams")) * 5 > col("n_bigrams"), 1L)
          .otherwise(0L)).as("n_repetitive"),
        sum(when(col("top_token_cnt") * 5 > col("n_tokens_r"), 1L)
          .otherwise(0L)).as("n_top_heavy"))
      .orderBy(col("source"))

  val q51Sql: String =
    """WITH d AS (SELECT source, string_split(text, ' ') AS tk, text FROM documents
      |  WHERE text IS NOT NULL),
      |b AS (SELECT source,
      |  CASE WHEN len(tk) >= 2
      |    THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
      |    ELSE [text] END AS bg,
      |  len(tk) AS nt,
      |  list_max(list_transform(list_distinct(tk),
      |    x -> len(list_filter(tk, y -> y = x)))) AS topc
      |  FROM d)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(len(bg)) AS BIGINT) AS sum_bigrams,
      |  CAST(SUM(len(list_distinct(bg))) AS BIGINT) AS sum_distinct_bigrams,
      |  CAST(SUM(CASE WHEN (len(bg) - len(list_distinct(bg))) * 5 > len(bg)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
      |  CAST(SUM(CASE WHEN topc * 5 > nt THEN 1 ELSE 0 END) AS BIGINT) AS n_top_heavy
      |FROM b GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q52
  /** PII scan census: per-corpus match counts for email / IPv4 / phone
    * patterns plus the count of clean documents. Patterns are plain
    * character classes (no lookarounds) so Java and the oracle's RE2
    * agree byte-for-byte.
    */
  def q52Pii(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.withPiiSignals(t(s, dir, "documents"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_emails").cast("long")).as("sum_emails"),
        sum(col("n_ipv4").cast("long")).as("sum_ipv4"),
        sum(col("n_phones").cast("long")).as("sum_phones"),
        sum(when(col("n_emails") + col("n_ipv4") + col("n_phones") === 0, 1L)
          .otherwise(0L)).as("n_clean"))

  val q52Sql: String = {
    def cnt(p: String): String = s"len(regexp_extract_all(text, '$p'))"
    val em = cnt(TextAnalysis.emailPattern)
    val ip = cnt(TextAnalysis.ipv4Pattern)
    val ph = cnt(TextAnalysis.phonePattern)
    s"""WITH c AS (SELECT $em AS ne, $ip AS ni, $ph AS np FROM documents)
       |SELECT COUNT(*) AS n_docs,
       |  CAST(SUM(ne) AS BIGINT) AS sum_emails,
       |  CAST(SUM(ni) AS BIGINT) AS sum_ipv4,
       |  CAST(SUM(np) AS BIGINT) AS sum_phones,
       |  CAST(SUM(CASE WHEN ne + ni + np = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
       |FROM c""".stripMargin
  }

  // ---------------------------------------------------------------- q53
  /** Deterministic stratified mix sampling (hash-gated, not rand()):
    * per-source keep rates as a training-mix would set them; the census
    * counts survivors per sampled stratum. Reproducible across runs,
    * partitionings, and engines — the oracle replays the identical
    * md5 gate.
    */
  val mixRates: Map[String, Double] =
    Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1)

  def q53MixSample(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.mixSample(t(s, dir, "documents"), "source", "doc_id", mixRates)
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      .orderBy(col("source"))

  val q53Sql: String = {
    // CAST to DOUBLE: a bare literal parses as exact DECIMAL in DuckDB,
    // and DECIMAL rate*10000 differs from Spark's IEEE double product
    // on boundary gates for rates like 0.07
    val rate = mixRates.toSeq.sortBy(_._1).map { case (sc, r) =>
      s"WHEN source = '$sc' THEN CAST($r AS DOUBLE)"
    }.mkString(" ")
    s"""WITH g AS (SELECT source,
       |  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 AS gate,
       |  CASE $rate ELSE 0.0 END AS rate
       |  FROM documents)
       |SELECT source, COUNT(*) AS n_kept FROM g
       |WHERE gate < rate * 10000 GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- q54
  /** Incremental dedup census: the "new" half of the corpus (two-digit
    * sources) deduped against the "old" half (single-digit sources).
    * The exact anti-join count is the oracled number; the Bloom leg is
    * gated on its mathematical INVARIANT — a Bloom survivor must also
    * be an exact survivor (no false negatives), so `n_bloom_violations`
    * is 0 under any collision pattern and the oracle pins that. The raw
    * Bloom survivor count itself admits data-dependent false positives
    * (observed: exactly one at sf0.01) no SQL engine can replay, so it
    * is deliberately NOT a result column; the FPR magnitude is
    * spec-bounded instead.
    */
  def q54IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    // explicit null-text exclusion: a NULL key survives Spark's
    // left-anti (null never matches) but is dropped by SQL NOT IN
    // (NULL comparison) — pin one semantic so the oracle can't drift
    // if a fixture ever carries nulls
    val d = t(s, dir, "documents").filter(col("text").isNotNull)
    val oldDf = d.filter(length(col("source")) === 4) // src0..src9
    val newDf = d.filter(length(col("source")) === 5) // src10..src19
    val nOld = oldDf.count()
    val exact = IncrementalDedup.exactNewDocs(oldDf, newDf, "text")
    val bloom = IncrementalDedup.bloomNewDocs(oldDf, newDf, "text",
      expectedItems = nOld, fpp = 1e-6)
    val violations = bloom.select(col("doc_id"))
      .join(exact.select(col("doc_id")), Seq("doc_id"), "left_anti")
    newDf.agg(count(lit(1)).as("n_new_batch"))
      .crossJoin(exact.agg(count(lit(1)).as("n_unseen_exact")))
      .crossJoin(violations.agg(count(lit(1)).as("n_bloom_violations")))
  }

  val q54Sql: String =
    """WITH oldh AS (SELECT DISTINCT md5(text) AS h FROM documents
      |  WHERE length(source) = 4 AND text IS NOT NULL),
      |newd AS (SELECT text FROM documents WHERE length(source) = 5 AND text IS NOT NULL),
      |unseen AS (SELECT text FROM newd WHERE md5(text) NOT IN (SELECT h FROM oldh))
      |SELECT (SELECT COUNT(*) FROM newd) AS n_new_batch,
      |  (SELECT COUNT(*) FROM unseen) AS n_unseen_exact,
      |  CAST(0 AS BIGINT) AS n_bloom_violations""".stripMargin

  // ---------------------------------------------------------------- q55
  /** F12 TF-IDF summarization census (reference ditto/summarize.py):
    * over-long documents keep their 32 highest-IDF tokens in original
    * order. The oracle replays the full join-based trim — corpus IDF,
    * per-document rank, ordered reassembly — so this gates CONTENT
    * (md5-derived hash of every trimmed text), not just counts.
    * IDF ordering is ln((n+1)/(df+1)): equal docFreq ⇒ identical idf
    * (ties broken by token then position), distinct docFreq ⇒ idf gaps
    * far above double-ulp noise — the ordering is engine-stable.
    */
  def q55TfidfTrim(s: SparkSession, dir: String): DataFrame = {
    // null pin: tfIdfSummarize rewrites NULL text to "" while the SQL's
    // COALESCE(trimmed, text) keeps NULL — exclude nulls on both sides
    val d = t(s, dir, "documents").filter(col("text").isNotNull)
    val trimmed = TextAnalysis.tfIdfSummarize(d, "text", maxTokens = 32)
    trimmed.agg(
      count(lit(1)).as("n_docs"),
      sum(size(TextAnalysis.tokens(col("text"))).cast("long")).as("sum_tokens_after"),
      sum(when(size(TextAnalysis.tokens(col("text"))) === 32, 1L).otherwise(0L))
        .as("n_at_cap"),
      sum(pmod(Dedup.portableHash60(col("text")), lit(1000003L)))
        .as("content_hash_sum"))
  }

  val q55Sql: String =
    """WITH docs AS (SELECT * FROM documents WHERE text IS NOT NULL),
      |n AS (SELECT COUNT(*) AS cnt FROM docs),
      |idf AS (SELECT token, ln(((SELECT cnt FROM n) + 1.0) / (COUNT(*) + 1.0)) AS idf
      |  FROM (SELECT unnest(list_distinct(string_split(text, ' '))) AS token FROM docs)
      |  GROUP BY token),
      |ol AS (SELECT DISTINCT text FROM docs
      |  WHERE len(string_split(text, ' ')) > 32),
      |e AS (SELECT text, string_split(text, ' ') AS tk,
      |  unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos FROM ol),
      |x AS (SELECT e.text, e.pos, e.tk[e.pos] AS token,
      |  COALESCE(idf.idf, 0.0) AS idf FROM e LEFT JOIN idf ON e.tk[e.pos] = idf.token),
      |r AS (SELECT text, pos, token,
      |  row_number() OVER (PARTITION BY text ORDER BY idf DESC, token, pos) AS rk
      |  FROM x),
      |tr AS (SELECT text, string_agg(token, ' ' ORDER BY pos) AS trimmed
      |  FROM r WHERE rk <= 32 GROUP BY text),
      |fin AS (SELECT COALESCE(tr.trimmed, d.text) AS text
      |  FROM docs d LEFT JOIN tr ON d.text = tr.text)
      |SELECT COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens_after,
      |  CAST(SUM(CASE WHEN len(string_split(text, ' ')) = 32 THEN 1 ELSE 0 END) AS BIGINT) AS n_at_cap,
      |  CAST(SUM(CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) % 1000003) AS BIGINT) AS content_hash_sum
      |FROM fin""".stripMargin

  // ---------------------------------------------------------------- q56
  /** F11 Ditto pair serialization census (reference ditto/matcher.py
    * to_str): `COL <name> VAL <value>` segments — content-gated via the
    * md5-derived hash of every serialized string.
    */
  def q56Ditto(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val ser = TextAnalysis.dittoSerialize(Seq(
      "text" -> col("text"), "lang" -> col("lang"), "source" -> col("source")))
    d.select(ser.as("ditto")).agg(
      count(lit(1)).as("n_docs"),
      sum(length(col("ditto")).cast("long")).as("sum_chars"),
      sum(pmod(Dedup.portableHash60(col("ditto")), lit(1000003L)))
        .as("content_hash_sum"))
  }

  val q56Sql: String =
    """WITH s AS (SELECT concat_ws(' ', 'COL', 'text', 'VAL', COALESCE(text, ''),
      |    'COL', 'lang', 'VAL', COALESCE(lang, ''),
      |    'COL', 'source', 'VAL', COALESCE(source, '')) AS ditto
      |  FROM documents)
      |SELECT COUNT(*) AS n_docs,
      |  CAST(SUM(length(ditto)) AS BIGINT) AS sum_chars,
      |  CAST(SUM(CAST(('0x' || substring(md5(ditto), 1, 15)) AS BIGINT) % 1000003) AS BIGINT) AS content_hash_sum
      |FROM s""".stripMargin

  // ---------------------------------------------------------------- q57
  /** G1 generate_modified census (reference local_explain.py
    * generate_subsequences): every prefix/suffix token-drop variant of
    * every document. Content-gated (hash sum over generated texts); the
    * fresh-id contract (dense range from startId) is checked via
    * min/max, which the oracle derives from the count without replaying
    * the engine's rank assignment.
    */
  def q57Augment(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id").as("id"), col("text"))
    // r12 (§1.2, the q203/q191 drop-provable-recompute rule): the
    // fresh-id contract is zipWithIndex over a total order —
    // min = startId and max = startId + n − 1 BY CONSTRUCTION, and the
    // oracle itself asserts exactly those identities (q57Sql derives
    // both from COUNT(*), never replaying the rank). The census is
    // otherwise id-independent, so it aggregates the variant frame
    // directly and the generator's global string sort + zipWithIndex
    // (most of this query's cpu) drops out. The assignment itself
    // stays spec'd in CertaCoreSpec's generator tests.
    val (gen, _) = graft.perturb.Augment.subsequenceVariants(d,
      attrs = Seq("text"))
    gen.agg(
      count(lit(1)).as("n_generated"),
      sum(size(TextAnalysis.tokens(col("text"))).cast("long")).as("sum_tokens"),
      sum(pmod(Dedup.portableHash60(col("text")), lit(1000003L)))
        .as("content_hash_sum"))
      .select(col("n_generated"),
        lit(100000L).as("min_id"),
        (lit(100000L) + col("n_generated") - 1L).as("max_id"),
        col("sum_tokens"), col("content_hash_sum"))
  }

  val q57Sql: String =
    """WITH d AS (SELECT string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |c AS (SELECT tk, unnest(range(1, len(tk))) AS cut FROM d),
      |v AS (SELECT array_to_string(tk[cut+1:len(tk)], ' ') AS t FROM c
      |  UNION ALL SELECT array_to_string(tk[1:cut], ' ') AS t FROM c)
      |SELECT COUNT(*) AS n_generated,
      |  CAST(100000 AS BIGINT) AS min_id,
      |  CAST(100000 + COUNT(*) - 1 AS BIGINT) AS max_id,
      |  CAST(SUM(len(string_split(t, ' '))) AS BIGINT) AS sum_tokens,
      |  CAST(SUM(CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT) % 1000003) AS BIGINT) AS content_hash_sum
      |FROM v""".stripMargin

  // ---------------------------------------------------------------- q58
  /** Benchmark decontamination census: training documents sharing any
    * exact 5-gram with the held-out "benchmark" slice (src19) — the
    * standard eval-contamination check (GPT-3 appendix C / PaLM-style
    * n-gram overlap). The benchmark gram set is DISTINCT and tiny
    * relative to the corpus (broadcast side); the train side explodes
    * to (doc, gram) and joins on the gram key — shuffle-on-key, no
    * all-pairs anywhere, linear in corpus grams at 100 TB.
    */
  def q58Contamination(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val bench = d.filter(col("source") === "src19")
    val train = d.filter(col("source") =!= "src19")
    val bGrams = bench
      .select(explode(array_distinct(Dedup.shingles(col("text"), 5))).as("g"))
      .distinct()
    val tGrams = train.select(col("doc_id"),
      explode(array_distinct(Dedup.shingles(col("text"), 5))).as("g"))
    val contaminated = tGrams.join(broadcast(bGrams), Seq("g"))
      .select(col("doc_id")).distinct()
    train.agg(count(lit(1)).as("n_train"))
      .crossJoin(bench.agg(count(lit(1)).as("n_benchmark")))
      .crossJoin(contaminated.agg(count(lit(1)).as("n_contaminated")))
  }

  val q58Sql: String =
    """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS tk, text FROM documents),
      |g AS (SELECT doc_id, source, unnest(list_distinct(
      |    CASE WHEN len(tk) >= 5
      |      THEN list_transform(range(1, len(tk) - 3),
      |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])
      |      ELSE [text] END)) AS gram
      |  FROM d),
      |bg AS (SELECT DISTINCT gram FROM g WHERE source = 'src19'),
      |cont AS (SELECT DISTINCT g.doc_id FROM g JOIN bg ON g.gram = bg.gram
      |  WHERE g.source <> 'src19')
      |SELECT (SELECT COUNT(*) FROM documents WHERE source <> 'src19') AS n_train,
      |  (SELECT COUNT(*) FROM documents WHERE source = 'src19') AS n_benchmark,
      |  (SELECT COUNT(*) FROM cont) AS n_contaminated""".stripMargin

  // ---------------------------------------------------------------- q92
  /** REAL audio decode + windowed energy census
    * ([[Multimodal.synthesizeWavs]]/[[Multimodal.decodeAudioStats]]):
    * one deterministic PCM16 WAV per document (sample values are
    * integer arithmetic in (doc_id, i); lengths vary so the last
    * 256-sample window is partial), decoded through the actual
    * `javax.sound.sampled` API — sample rate and channel count in the
    * output come from the parsed RIFF header, not from assumptions —
    * then the VAD-style per-window trio (sum|v|, max|v|, rising zero
    * crossings) rolled up per document. All integer-exact, so the full
    * per-doc mapping hash-checks against a formula replay.
    */
  def q92AudioDecode(s: SparkSession, dir: String): DataFrame = {
    val ids = t(s, dir, "documents").select(col("doc_id"))
    val media = Multimodal.synthesizeWavs(ids, "doc_id")
    Multimodal.decodeAudioStats(media, windowSamples = 256)
      .groupBy(col("media_id"))
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("sum_abs") >= 128000L, 1L).otherwise(0L)).as("n_active"),
        sum(col("sum_abs")).as("sum_abs"),
        max(col("max_abs")).as("max_abs"),
        sum(col("n_rising")).as("n_rising"),
        min(col("sample_rate")).as("sample_rate"),
        min(col("channels")).as("channels"))
      .select(col("media_id").as("doc_id"), col("n_windows"),
        col("n_active"), col("sum_abs"), col("max_abs"), col("n_rising"),
        col("sample_rate"), col("channels"))
      .orderBy(col("doc_id"))
  }

  val q92Sql: String =
    """WITH d AS (SELECT doc_id, 1000 + (doc_id % 7) * 100 AS n FROM documents),
      |s AS (SELECT doc_id, i.i AS i,
      |    (doc_id * 31 + i.i * 7) % 2003 - 1001 AS v
      |  FROM d, range(0, 1600) i(i) WHERE i.i < n),
      |w AS (SELECT doc_id, i // 256 AS w,
      |    SUM(ABS(v)) AS sum_abs, MAX(ABS(v)) AS max_abs,
      |    SUM(CASE WHEN i % 256 > 0
      |          AND ((doc_id * 31 + (i - 1) * 7) % 2003 - 1001) < 0
      |          AND v >= 0 THEN 1 ELSE 0 END) AS n_rising
      |  FROM s GROUP BY doc_id, (i // 256))
      |SELECT doc_id, COUNT(*) AS n_windows,
      |  CAST(SUM(CASE WHEN sum_abs >= 128000 THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
      |  CAST(SUM(sum_abs) AS BIGINT) AS sum_abs,
      |  CAST(MAX(max_abs) AS BIGINT) AS max_abs,
      |  CAST(SUM(n_rising) AS BIGINT) AS n_rising,
      |  16000 AS sample_rate, 1 AS channels
      |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q93
  /** Incremental corpus MERGE ([[graft.operators.Upsert]]): a recrawl
    * batch — revised texts for every 7th doc (null texts stay null,
    * matching SQL `||` propagation), brand-new ids for every 13th —
    * upserted into the corpus SCD1-style, plus the audit change census
    * (inserted / updated / unchanged / untouched). One hash join each;
    * AQE broadcasts the small batch side, so the corpus never shuffles.
    * The content-hash sum pins the exact merged (doc_id, text) multiset.
    */
  def q93Upsert(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val revised = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
      .withColumn("text", concat(col("text"), lit(" rev2")))
    val fresh = docs.filter(pmod(col("doc_id"), lit(13)) === 0)
      .withColumn("doc_id", col("doc_id") + lit(1000000000L))
    val updates = revised.unionByName(fresh)
    val merged = graft.operators.Upsert.upsert(docs, updates, Seq("doc_id"))
    val census = graft.operators.Upsert.changeCensus(
      docs, updates, Seq("doc_id"), Seq("text", "lang", "source"))
    merged.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("doc_id") >= 1000000000L, 1L).otherwise(0L))
          .as("n_new_ids"),
        sum(pmod(Dedup.portableHash60(
            concat(col("doc_id").cast("string"), lit("|"),
              coalesce(col("text"), lit("<null>")))),
          lit(1000003L))).as("content_hash_sum"))
      .crossJoin(census)
  }

  val q93Sql: String =
    """WITH docs AS (SELECT doc_id, text, lang, source FROM documents),
      |upd AS (
      |  SELECT doc_id, text || ' rev2' AS text, lang, source
      |  FROM docs WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 1000000000, text, lang, source
      |  FROM docs WHERE doc_id % 13 = 0),
      |merged AS (
      |  SELECT * FROM docs WHERE doc_id NOT IN (SELECT doc_id FROM upd)
      |  UNION ALL SELECT * FROM upd)
      |SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN doc_id >= 1000000000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_new_ids,
      |  CAST(SUM(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|' ||
      |    COALESCE(text, '<null>')), 1, 15)) AS BIGINT) % 1000003) AS BIGINT)
      |    AS content_hash_sum,
      |  (SELECT COUNT(*) FROM upd WHERE doc_id >= 1000000000) AS n_inserted,
      |  (SELECT COUNT(*) FROM docs WHERE doc_id % 7 = 0 AND text IS NOT NULL)
      |    AS n_updated,
      |  (SELECT COUNT(*) FROM docs WHERE doc_id % 7 = 0 AND text IS NULL)
      |    AS n_unchanged,
      |  (SELECT COUNT(*) FROM docs WHERE doc_id % 7 <> 0) AS n_untouched
      |FROM merged""".stripMargin

  // ---------------------------------------------------------------- q95
  /** Pure range join ([[graft.operators.RangeJoin]]): purchase events
    * open attention windows [ts, ts + (1 + id mod 30) minutes] and every
    * click that falls inside ANY window pairs with it — deliberately no
    * user key, the shape Spark can only plan as a nested-loop scan.
    * Bucketized to 30-minute cells it becomes a hash join on the cell
    * (plan-pinned: no BroadcastNestedLoopJoin), with the exact range
    * re-checked after. Census at microsecond precision against a DuckDB
    * interval-join replay.
    */
  def q95RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val windows = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"),
        unix_micros(col("ts")).as("lo"))
      .withColumn("hi",
        col("lo") + (pmod(col("p_id"), lit(30)) + 1) * lit(60000000L))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), unix_micros(col("ts")).as("t"))
    graft.operators.RangeJoin.pointInInterval(
        clicks, "t", windows, "lo", "hi", bucketWidth = 1800000000L)
      .agg(
        count(lit(1)).as("n_pairs"),
        countDistinct(col("p_id")).as("n_windows_hit"),
        countDistinct(col("c_id")).as("n_clicks_hit"),
        sum(expr("(t - lo) div 1000000")).as("sum_lag_sec"))
  }

  val q95Sql: String =
    """WITH p AS (SELECT event_id AS p_id, epoch_ns(ts) // 1000 AS lo,
      |    epoch_ns(ts) // 1000 + ((event_id % 30) + 1) * 60000000 AS hi
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT event_id AS c_id, epoch_ns(ts) // 1000 AS t
      |  FROM events WHERE event_type = 'click'),
      |j AS (SELECT p_id, c_id, (t - lo) // 1000000 AS lag_sec
      |  FROM c JOIN p ON t >= lo AND t <= hi)
      |SELECT COUNT(*) AS n_pairs,
      |  COUNT(DISTINCT p_id) AS n_windows_hit,
      |  COUNT(DISTINCT c_id) AS n_clicks_hit,
      |  CAST(SUM(lag_sec) AS BIGINT) AS sum_lag_sec
      |FROM j""".stripMargin

  // ---------------------------------------------------------------- q96
  /** BPE vocabulary training ([[graft.text.Bpe]]): 12 merges learned
    * over the SF-invariant nation∪region name corpus — each round is one
    * map-side-combined pair count (shuffle ≤ |vocab|² rows), a one-row
    * argmax collect, and a scan-local merge fold. Deterministic ties
    * (count desc, pair asc) make the merge table golden-freezable: the
    * oracle is a frozen VALUES literal regenerated only via GoldenGen,
    * which asserts cross-SF identity first.
    */
  def q96BpeVocab(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val names = t(s, dir, "nation").select(col("n_name").as("name"))
      .unionByName(t(s, dir, "region").select(col("r_name").as("name")))
    val words = names
      .select(explode(split(col("name"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(graft.text.Bpe.charSyms(col("w")).as("sym"), col("freq"))
    graft.text.Bpe.learnMerges(words, numMerges = 12)
      .map(m => (m.rank, m.left, m.right, m.merged, m.cnt))
      .toDF("merge_rank", "lhs", "rhs", "merged", "cnt")
      .orderBy(col("merge_rank"))
  }

  /** Frozen golden merge table for q96 — regenerate via GoldenGen
    * (generated 2026-08-13; identical across sf0.001/0.01/0.1).
    */
  val q96Golden: Seq[(Int, String, String, String, Long)] = Seq(
    (0, "A", "T", "AT", 25L),
    (1, "AT", "I", "ATI", 25L),
    (2, "ATI", "O", "ATIO", 25L),
    (3, "ATIO", "N", "ATION", 25L),
    (4, "ATION", "_", "ATION_", 25L),
    (5, "N", "ATION_", "NATION_", 25L),
    (6, "NATION_", "1", "NATION_1", 11L),
    (7, "NATION_", "2", "NATION_2", 6L),
    (8, "A", "S", "AS", 2L),
    (9, "C", "A", "CA", 2L),
    (10, "I", "CA", "ICA", 2L),
    (11, "R", "ICA", "RICA", 2L))

  val q96Sql: String =
    q96Golden.map { case (r, a, b, m, c) =>
      s"(CAST($r AS INTEGER), '$a', '$b', '$m', CAST($c AS BIGINT))"
    }.mkString("SELECT * FROM (VALUES ", ", ",
      ") t(merge_rank, lhs, rhs, merged, cnt) ORDER BY merge_rank")

  // ---------------------------------------------------------------- q97
  /** Curriculum difficulty binning: octile buckets over per-doc token
    * count — WITHOUT the global-sort NTILE shape (an unpartitioned
    * window puts the whole corpus in one task). Instead: one aggregate
    * computes the 7 exact percentile boundaries (the `approx_percentile`
    * mergeable sketch is the stated 100 TB swap, as in q67), and bin
    * assignment is a scan-local comparison fold — no sort, no window,
    * no shuffle beyond the two bounded aggregations. Census per bin with
    * an id-sum pinning exact membership.
    */
  def q97Curriculum(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("double").as("tok"))
    val qs = (1 to 7).map(_ / 8.0)
    val bounds = d.agg(expr(
        s"percentile(tok, array(${qs.mkString("D, ")}D))").as("bs"))
      .collect().head.getSeq[Double](0)
    val bin = bounds.map(b => when(col("tok") > lit(b), 1).otherwise(0))
      .reduce(_ + _)
    d.withColumn("bin", bin)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("tok")).as("min_tok"), max(col("tok")).as("max_tok"),
        sum(col("doc_id")).as("id_sum"))
      .orderBy(col("bin"))
  }

  val q97Sql: String = {
    val qs = (1 to 7).map(_ / 8.0)
    val bcols = qs.zipWithIndex.map { case (q, i) =>
      s"PERCENTILE_CONT($q) WITHIN GROUP (ORDER BY tok) AS b${i + 1}"
    }.mkString(", ")
    val binExpr = (1 to 7)
      .map(i => s"CASE WHEN tok > b$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH d AS (SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS tok
       |  FROM documents WHERE text IS NOT NULL),
       |b AS (SELECT $bcols FROM d),
       |a AS (SELECT doc_id, tok, ($binExpr) AS bin FROM d, b)
       |SELECT bin, COUNT(*) AS n_docs, MIN(tok) AS min_tok,
       |  MAX(tok) AS max_tok, CAST(SUM(doc_id) AS BIGINT) AS id_sum
       |FROM a GROUP BY bin ORDER BY bin""".stripMargin
  }

  // ---------------------------------------------------------------- q98
  /** Partition-scoped incremental maintenance
    * ([[graft.operators.Upsert.upsertPartitioned]]): the corpus is laid
    * out Hive-partitioned by source, a recrawl batch patches every 3rd
    * doc of src0/src3 and adds new src0 docs, and the merge rewrites
    * ONLY those two partitions — reads pruned at directory level,
    * write via dynamic partition overwrite (untouched partitions' files
    * are never opened; spec'd byte-identical). Census over the
    * maintained table replays in SQL.
    */
  def q98PartitionedUpsert(s: SparkSession, dir: String): DataFrame = {
    // plain load, not the fanned one: the snapshot write is partitioned
    // by source, and 32 fan-out partitions × 20 sources would spray
    // ~640 tiny files where 20 serve — this query is IO-shaped, not
    // per-row-compute-shaped
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val tmp = graft.tools.Scratch.tempDir("q98") + "/corpus"
    docs.write.mode("overwrite").partitionBy("source").parquet(tmp)
    val patched = docs
      .filter(col("source").isin("src0", "src3") &&
        pmod(col("doc_id"), lit(3)) === 0)
      .withColumn("text", concat(col("text"), lit(" patched")))
    val fresh = docs
      .filter(col("source") === "src0" && pmod(col("doc_id"), lit(11)) === 0)
      .withColumn("doc_id", col("doc_id") + lit(2000000000L))
    val touched = graft.operators.Upsert.upsertPartitioned(
      s, tmp, patched.unionByName(fresh), Seq("doc_id"), "source")
    s.read.parquet(tmp).agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("text").endsWith(" patched"), 1L).otherwise(0L))
        .as("n_patched"),
      sum(when(col("doc_id") >= 2000000000L, 1L).otherwise(0L)).as("n_new"),
      sum(pmod(Dedup.portableHash60(
          concat(col("doc_id").cast("string"), lit("|"),
            coalesce(col("text"), lit("<null>")), lit("|"), col("source"))),
        lit(1000003L))).as("content_hash_sum"),
      lit(touched.size).as("n_touched_partitions"))
  }

  val q98Sql: String =
    """WITH docs AS (SELECT doc_id, text, lang, source FROM documents),
      |patched AS (SELECT doc_id, text || ' patched' AS text, lang, source
      |  FROM docs WHERE source IN ('src0', 'src3') AND doc_id % 3 = 0),
      |fresh AS (SELECT doc_id + 2000000000 AS doc_id, text, lang, source
      |  FROM docs WHERE source = 'src0' AND doc_id % 11 = 0),
      |merged AS (
      |  SELECT * FROM docs
      |  WHERE NOT (source IN ('src0', 'src3') AND doc_id % 3 = 0)
      |  UNION ALL SELECT * FROM patched UNION ALL SELECT * FROM fresh)
      |SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN text LIKE '% patched' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_patched,
      |  CAST(SUM(CASE WHEN doc_id >= 2000000000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_new,
      |  CAST(SUM(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|' ||
      |    COALESCE(text, '<null>') || '|' || source), 1, 15)) AS BIGINT)
      |    % 1000003) AS BIGINT) AS content_hash_sum,
      |  2 AS n_touched_partitions
      |FROM merged""".stripMargin

  // ---------------------------------------------------------------- q99
  /** Streaming CDC apply ([[StreamingOps.upsertStream]]): three
    * micro-batches of versioned upserts — batch k revises every doc
    * with doc_id≡k (mod 3), and the "hot" docs (doc_id≡0 mod 7) are
    * re-updated in EVERY batch, colliding in-batch with their v-row so
    * the within-batch version resolution is exercised — maintained
    * in-place against a source-partitioned parquet table. Final state
    * replays in SQL: hot docs end at their last u-revision, everything
    * else at its one v-revision.
    */
  /** q99's CDC maintenance flow, returning the maintained table's path
    * (shared with q172, which compacts the fragmentation this flow
    * leaves behind). Deliberately NOT memoized across queries: catalog
    * queries must stay order-independent (a shared mutable table would
    * couple q99's read to whether q172's compaction ran first), and
    * the bench must keep timing the real maintenance cost.
    */
  private def cdcMaintainedTable(s: SparkSession, dir: String): String = {
    // plain load (see q98): batch staging + per-batch merges are
    // IO-shaped; the fanned scan only multiplies file counts here
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val tmp = graft.tools.Scratch.tempDir("q99")
    val in = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    // file source orders by (mtime, path): stageChunks pins the replay
    // order explicitly rather than trusting write timing
    stageChunks((0 until 3).map { k =>
      val v = docs.filter(pmod(col("doc_id"), lit(3)) === k)
        .withColumn("text", concat(col("text"), lit(s" v$k")))
        .withColumn("version", lit(k * 10))
      val u = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
        .withColumn("text", concat(col("text"), lit(s" u$k")))
        .withColumn("version", lit(k * 10 + 1))
      v.unionByName(u)
    }, in)
    val schema = s.read.parquet(s"$in/chunk-0.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val table = s"$tmp/table"
    // state-volume sizing (the q48/q59 rule) for the per-batch merge
    // join: the update batch is a few thousand rows — 8 partitions,
    // ConfScope-forked, never the caller's conf
    val q = StreamingOps.upsertStream(
      graft.operators.ConfScope.shufflePartitions(stream, 8),
      table, Seq("doc_id"), "source", "version")
    try q.processAllAvailable() finally q.stop()
    table
  }

  def q99StreamUpsert(s: SparkSession, dir: String): DataFrame = {
    val table = cdcMaintainedTable(s, dir)
    s.read.parquet(table).agg(
      count(lit(1)).as("n_rows"),
      sum(when(pmod(col("doc_id"), lit(7)) === 0, 1L).otherwise(0L))
        .as("n_hot"),
      sum(col("version").cast("long")).as("sum_version"),
      sum(pmod(Dedup.portableHash60(
          concat(col("doc_id").cast("string"), lit("|"),
            coalesce(col("text"), lit("<null>")))),
        lit(1000003L))).as("content_hash_sum"),
      lit(3).as("n_batches"))
  }

  val q99Sql: String =
    """WITH fin AS (SELECT doc_id,
      |  CASE WHEN doc_id % 7 = 0 THEN text || ' u2'
      |       ELSE text || ' v' || CAST(doc_id % 3 AS VARCHAR) END AS text,
      |  CASE WHEN doc_id % 7 = 0 THEN 21 ELSE (doc_id % 3) * 10 END AS version
      |  FROM documents)
      |SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_hot,
      |  CAST(SUM(version) AS BIGINT) AS sum_version,
      |  CAST(SUM(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|' ||
      |    COALESCE(text, '<null>')), 1, 15)) AS BIGINT) % 1000003) AS BIGINT)
      |    AS content_hash_sum,
      |  3 AS n_batches
      |FROM fin""".stripMargin

  // ---------------------------------------------------------------- q100
  /** REAL video keyframe extraction ([[Multimodal.synthesizeVideos]] /
    * [[Multimodal.sampleVideoFrames]]): per document a 4-8 frame
    * container of real PNGs (length-prefixed custom container — the
    * opaque-binary shape), every 2nd frame decoded through the
    * per-partition codec lifecycle, per-doc rollup of sampled-frame
    * pixel sums. Upgrades the last stubbed modality: container parse +
    * frame decode are both real JDK work, and PNG losslessness makes
    * the full mapping formula-replayable.
    */
  def q100VideoFrames(s: SparkSession, dir: String): DataFrame = {
    val ids = t(s, dir, "documents").select(col("doc_id"))
    val media = Multimodal.synthesizeVideos(ids, "doc_id")
    Multimodal.sampleVideoFrames(media, everyNth = 2)
      .groupBy(col("media_id"))
      .agg(
        count(lit(1)).as("n_sampled"),
        min(col("n_frames")).cast("long").as("n_frames"),
        sum(col("sum_red")).as("sum_red"),
        sum(col("sum_green")).as("sum_green"),
        sum(col("sum_blue")).as("sum_blue"))
      .select(col("media_id").as("doc_id"), col("n_sampled"),
        col("n_frames"), col("sum_red"), col("sum_green"), col("sum_blue"))
      .orderBy(col("doc_id"))
  }

  val q100Sql: String =
    """WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS nf FROM documents),
      |s AS (SELECT doc_id, nf, f.f AS f
      |  FROM d, range(0, 8) f(f) WHERE f.f < nf AND f.f % 2 = 0),
      |px AS (SELECT doc_id, nf, f, x.x AS x, y.y AS y
      |  FROM s, range(0, 8) x(x), range(0, 8) y(y))
      |SELECT doc_id, COUNT(DISTINCT f) AS n_sampled,
      |  CAST(MIN(nf) AS BIGINT) AS n_frames,
      |  CAST(SUM((doc_id * 31 + f * 19 + x * 7 + y * 13) % 256) AS BIGINT)
      |    AS sum_red,
      |  CAST(SUM((doc_id * 17 + f * 23 + x * 3 + y * 5) % 256) AS BIGINT)
      |    AS sum_green,
      |  CAST(SUM((doc_id * 11 + f * 29 + x + y) % 256) AS BIGINT)
      |    AS sum_blue
      |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q101
  /** Interval-overlap join ([[graft.operators.RangeJoin.intervalOverlap]]):
    * purchase attention windows × click dwell windows, overlap with NO
    * key — the concurrency-detection shape (conflicting reservations,
    * co-occurring incidents). Each overlapping pair emits exactly once
    * via the first-shared-cell rule, no distinct needed; census vs a
    * DuckDB overlap-theta replay at microsecond bounds.
    */
  def q101IntervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), unix_micros(col("ts")).as("p_lo"))
      .withColumn("p_hi",
        col("p_lo") + (pmod(col("p_id"), lit(30)) + 1) * lit(60000000L))
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), unix_micros(col("ts")).as("c_lo"))
      .withColumn("c_hi",
        col("c_lo") + (pmod(col("c_id"), lit(20)) + 1) * lit(60000000L))
    graft.operators.RangeJoin.intervalOverlap(
        p, "p_lo", "p_hi", c, "c_lo", "c_hi", bucketWidth = 1800000000L)
      .agg(
        count(lit(1)).as("n_pairs"),
        countDistinct(col("p_id")).as("n_purchases"),
        countDistinct(col("c_id")).as("n_clicks"),
        sum(expr("(least(p_hi, c_hi) - greatest(p_lo, c_lo)) div 1000000"))
          .as("sum_overlap_sec"))
  }

  val q101Sql: String =
    """WITH p AS (SELECT event_id AS p_id, epoch_ns(ts) // 1000 AS p_lo,
      |    epoch_ns(ts) // 1000 + ((event_id % 30) + 1) * 60000000 AS p_hi
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT event_id AS c_id, epoch_ns(ts) // 1000 AS c_lo,
      |    epoch_ns(ts) // 1000 + ((event_id % 20) + 1) * 60000000 AS c_hi
      |  FROM events WHERE event_type = 'click'),
      |j AS (SELECT p_id, c_id,
      |    (LEAST(p_hi, c_hi) - GREATEST(p_lo, c_lo)) // 1000000 AS ov_sec
      |  FROM p JOIN c ON p_lo <= c_hi AND c_lo <= p_hi)
      |SELECT COUNT(*) AS n_pairs,
      |  COUNT(DISTINCT p_id) AS n_purchases,
      |  COUNT(DISTINCT c_id) AS n_clicks,
      |  CAST(SUM(ov_sec) AS BIGINT) AS sum_overlap_sec
      |FROM j""".stripMargin

  // ---------------------------------------------------------------- q102
  /** Ordered funnel census: per user, first-touch timestamps of
    * view → click → purchase folded in ONE conditional-min aggregation
    * (no joins, no windows — the shuffle carries one row per user),
    * then a one-row rollup counting users that progress through each
    * stage in strict time order at microsecond precision. The standard
    * product-analytics funnel as a two-aggregation plan.
    */
  def q102Funnel(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    def firstOf(t: String) =
      min(when(col("event_type") === t, unix_micros(col("ts")))).as(s"first_$t")
    val perUser = e.groupBy(col("user_id"))
      .agg(firstOf("view"), firstOf("click"), firstOf("purchase"))
    perUser.agg(
      count(lit(1)).as("n_users"),
      sum(when(col("first_view").isNotNull, 1L).otherwise(0L)).as("n_viewed"),
      sum(when(col("first_view") < col("first_click"), 1L).otherwise(0L))
        .as("n_view_then_click"),
      sum(when(col("first_view") < col("first_click") &&
        col("first_click") < col("first_purchase"), 1L).otherwise(0L))
        .as("n_full_funnel"))
  }

  val q102Sql: String =
    """WITH u AS (SELECT user_id,
      |    MIN(CASE WHEN event_type = 'view' THEN epoch_ns(ts) // 1000 END)
      |      AS first_view,
      |    MIN(CASE WHEN event_type = 'click' THEN epoch_ns(ts) // 1000 END)
      |      AS first_click,
      |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) // 1000 END)
      |      AS first_purchase
      |  FROM events GROUP BY user_id)
      |SELECT COUNT(*) AS n_users,
      |  CAST(SUM(CASE WHEN first_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_viewed,
      |  CAST(SUM(CASE WHEN first_view < first_click THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_view_then_click,
      |  CAST(SUM(CASE WHEN first_view < first_click
      |    AND first_click < first_purchase THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_full_funnel
      |FROM u""".stripMargin

  // ---------------------------------------------------------------- q103
  /** Hybrid retrieval with reciprocal-rank fusion (the RAG-serving
    * shape): the keyword leg (q86's conjunctive tf top-20) and the
    * vector leg (q40's exact cosine top-20) fuse via
    * RRF = Σ 1/(60 + rank) over a full-outer rank join, top-10 out.
    * Both legs are TakeOrdered scans; the fusion touches ≤40 rows.
    * Doubles are safe to order on cross-engine here: 1/(60+int) is the
    * same IEEE-754 value in both engines, and ties break on id.
    * The vector leg ranks (and cuts its top-20) on the cosine QUANTIZED
    * to integer nanounits — `floor(cosine·1e9)` — in both engines:
    * raw-double ordering would let a sub-1e-9 cross-engine difference
    * on near-tie cosines flip vec_rank or the top-20 membership in a
    * regenerated embeddings fixture; after quantization such pairs tie
    * exactly and break on vec_id.
    */
  def q103HybridRetrieval(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val textLeg = graft.text.Search.conjunctiveTopK(
        t(s, dir, "documents"), "text", "doc_id",
        terms = Seq("hash", "join", "scan"), k = 20)
      .withColumn("text_rank", row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id").as("id"), col("text_rank"))
    val e = t(s, dir, "embeddings")
    val probe = e.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val qcos = floor(
      Ann.cosine(col("embedding"), typedLit(probe)) * lit(1e9)).cast("long")
    val vecLeg = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), qcos.as("qcos"))
      .orderBy(col("qcos").desc, col("vec_id").asc)
      .limit(20)
      .withColumn("vec_rank", row_number()
        .over(Window.orderBy(col("qcos").desc, col("vec_id"))).cast("long"))
      .select(col("vec_id").as("id"), col("vec_rank"))
    textLeg.join(vecLeg, Seq("id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60) + col("text_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0)))
      .withColumn("fused_rank", row_number()
        .over(Window.orderBy(col("rrf").desc, col("id"))).cast("long"))
      .filter(col("fused_rank") <= 10)
      .select(col("fused_rank"), col("id"),
        coalesce(col("text_rank"), lit(0L)).as("text_rank"),
        coalesce(col("vec_rank"), lit(0L)).as("vec_rank"))
      .orderBy(col("fused_rank"))
  }

  val q103Sql: String =
    """WITH tl0 AS (SELECT doc_id, COUNT(*) AS score
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |        FROM documents WHERE text IS NOT NULL)
      |  WHERE tok IN ('hash', 'join', 'scan')
      |  GROUP BY doc_id HAVING COUNT(DISTINCT tok) = 3
      |  ORDER BY score DESC, doc_id LIMIT 20),
      |tl AS (SELECT doc_id AS id,
      |  row_number() OVER (ORDER BY score DESC, doc_id) AS text_rank FROM tl0),
      |p AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0),
      |vl0 AS (SELECT vec_id,
      |  CAST(FLOOR((list_aggregate(list_transform(range(1, len(embedding) + 1),
      |    i -> CAST(embedding[i] AS DOUBLE) * CAST(pe[i] AS DOUBLE)), 'sum') /
      |  (sqrt(list_aggregate(list_transform(range(1, len(embedding) + 1),
      |    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), 'sum')) *
      |   sqrt(list_aggregate(list_transform(range(1, len(pe) + 1),
      |    i -> CAST(pe[i] AS DOUBLE) * CAST(pe[i] AS DOUBLE)), 'sum')))) * 1e9)
      |    AS BIGINT) AS qcos
      |  FROM embeddings, p WHERE vec_id <> 0
      |  ORDER BY qcos DESC, vec_id LIMIT 20),
      |vl AS (SELECT vec_id AS id,
      |  row_number() OVER (ORDER BY qcos DESC, vec_id) AS vec_rank FROM vl0),
      |f AS (SELECT COALESCE(tl.id, vl.id) AS id,
      |  COALESCE(1.0 / (60 + text_rank), 0) + COALESCE(1.0 / (60 + vec_rank), 0)
      |    AS rrf,
      |  COALESCE(text_rank, 0) AS text_rank,
      |  COALESCE(vec_rank, 0) AS vec_rank
      |  FROM tl FULL OUTER JOIN vl ON tl.id = vl.id)
      |SELECT row_number() OVER (ORDER BY rrf DESC, id) AS fused_rank,
      |  id, text_rank, vec_rank
      |FROM f ORDER BY rrf DESC, id LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q104
  /** Multimodal → similarity-stack bridge, end to end: synthesize PNGs
    * with near-duplicate group structure
    * ([[graft.multimodal.Multimodal.synthesizeGroupedPngs]] — pixels
    * from closed-form integer arithmetic in (doc_id % 16, x, y), one
    * red-channel pixel nudged per doc), REALLY decode them via
    * `javax.imageio` into per-channel column-group sum embeddings
    * ([[Multimodal.decodeImageEmbedding]], integer-exact in float32),
    * then delete embedding near-duplicates with the q76 SemDeDup
    * closure. Probed margins at the 0.999 threshold: same-group cosine
    * ≥ 0.9999997, cross-group ≤ 0.99511 — no borderline comparisons.
    * The oracle replays the DECODED pixels from the synthesis formula
    * (PNG is lossless), the embedding sums, the portable LSH cells, the
    * in-cell cosines, and the recursive closure — the decode step is
    * exactly the identity the oracle assumes, which is what q44 pins.
    */
  def q104ImageSemDedup(s: SparkSession, dir: String): DataFrame = {
    val ids = t(s, dir, "documents")
      .select(col("doc_id")).filter(col("doc_id") < 200)
    val media = graft.multimodal.Multimodal.synthesizeGroupedPngs(ids, "doc_id")
    val emb = graft.multimodal.Multimodal.decodeImageEmbedding(media)
      .withColumnRenamed("media_id", "vec_id")
    // edge-sized closure shuffles (q68/q76 rule), ConfScope-forked
    val result = graft.similarity.SemDedup.dropEmbeddingNearDuplicates(
      graft.operators.ConfScope.shufflePartitions(emb, 8),
      "embedding", "vec_id", threshold = 0.999, numPlanes = 4,
      probeBits = 0) // pinned: the oracle replays single-probe cells
    result.survivors.agg(
      count(lit(1)).as("n_survivors"),
      sum(col("vec_id")).as("survivor_id_sum"))
      .crossJoin(result.losers.agg(count(lit(1)).as("n_losers")))
  }

  val q104Sql: String = {
    def proj(p: Int): String =
      s"""list_aggregate(list_transform(range(1, len(embedding) + 1),
         |    i -> CAST(embedding[i] AS DOUBLE) *
         |      ((CAST(('0x' || substring(md5('$p|' || (i - 1)), 1, 15)) AS BIGINT)
         |        % 2000 - 1000) / 1000.0)), 'sum')""".stripMargin
    val bucket = (0 until 4).map(p =>
      s"(CASE WHEN ${proj(p)} >= 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    // replay the synthesized-then-decoded pixels in closed form, sum
    // into the [r-groups, g-groups, b-groups] embedding layout
    s"""WITH RECURSIVE px AS (
       |  SELECT d.doc_id, x.x, y.y,
       |    CASE WHEN x.x = 0 AND y.y = 0
       |      THEN ((d.doc_id % 16) * 37 + (x.x // 2) * 53 + y.y * 29
       |            + d.doc_id % 5) % 256
       |      ELSE ((d.doc_id % 16) * 37 + (x.x // 2) * 53 + y.y * 29) % 256
       |    END AS r,
       |    ((d.doc_id % 16) * 91 + (x.x // 2) * 17 + y.y * 43) % 256 AS g,
       |    ((d.doc_id % 16) * 53 + (x.x // 2) * 11 + y.y * 7) % 256 AS b
       |  FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d,
       |    (SELECT unnest(range(0, 8)) AS x) x,
       |    (SELECT unnest(range(0, 8)) AS y) y),
       |gsum AS (SELECT doc_id, x // 2 AS grp,
       |    SUM(r) AS sr, SUM(g) AS sg, SUM(b) AS sb
       |  FROM px GROUP BY doc_id, x // 2),
       |emb AS (SELECT doc_id AS vec_id,
       |    list(CAST(sr AS DOUBLE) ORDER BY grp)
       |      || list(CAST(sg AS DOUBLE) ORDER BY grp)
       |      || list(CAST(sb AS DOUBLE) ORDER BY grp) AS embedding
       |  FROM gsum GROUP BY doc_id),
       |bk AS (SELECT vec_id, embedding, ($bucket) AS bucket FROM emb),
       |pr AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
       |  list_aggregate(list_transform(range(1, len(a.embedding) + 1),
       |    i -> a.embedding[i] * b.embedding[i]), 'sum') /
       |  (sqrt(list_aggregate(list_transform(range(1, len(a.embedding) + 1),
       |    i -> a.embedding[i] * a.embedding[i]), 'sum')) *
       |   sqrt(list_aggregate(list_transform(range(1, len(b.embedding) + 1),
       |    i -> b.embedding[i] * b.embedding[i]), 'sum'))) AS cosine
       |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |e AS (SELECT ia, ib FROM pr WHERE cosine >= 0.999),
       |sym AS (SELECT ia AS a, ib AS b FROM e
       |  UNION SELECT ib AS a, ia AS b FROM e),
       |reach(a, b) AS (SELECT a, b FROM sym
       |  UNION SELECT r.a, s2.b FROM reach r JOIN sym s2 ON r.b = s2.a),
       |rep AS (SELECT a AS vec_id, LEAST(a, MIN(b)) AS rep
       |  FROM reach GROUP BY a),
       |losers AS (SELECT vec_id FROM rep WHERE vec_id <> rep)
       |SELECT
       |  (SELECT COUNT(*) FROM emb) - (SELECT COUNT(*) FROM losers) AS n_survivors,
       |  CAST((SELECT SUM(vec_id) FROM emb)
       |    - COALESCE((SELECT SUM(vec_id) FROM losers), 0) AS BIGINT) AS survivor_id_sum,
       |  (SELECT COUNT(*) FROM losers) AS n_losers""".stripMargin
  }

  // ---------------------------------------------------------------- q105
  /** F13 domain-knowledge injection ([[graft.text.Knowledge]], reference
    * ditto/knowledge.py ProductDKInjector): Ditto-serialize `part`
    * entities (name/type/brand/size/price), inject — numbers
    * canonicalized ("900.0" → "900", "900.1" → "900.10"), digit-bearing
    * identifiers ID-tagged ("Brand#17" → "ID Brand#17"), catalog-vocab
    * ALL-CAPS tokens PRODUCT-marked (the documented heuristic stand-in
    * for the reference's spaCy spans) — and pin the full rewritten
    * corpus with a content-hash sum plus marker censuses. Scan-local
    * transform fold; the oracle replays every token decision.
    */
  def q105Knowledge(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
    val ser = TextAnalysis.dittoSerialize(Seq(
      "name" -> col("p_name"), "type" -> col("p_type"),
      "brand" -> col("p_brand"), "size" -> col("p_size").cast("string"),
      "price" -> col("p_retailprice").cast("string")))
    val dk = graft.text.Knowledge.injectKnowledge(ser)
    p.select(dk.as("dk")).agg(
      count(lit(1)).as("n_rows"),
      sum(length(col("dk")).cast("long")).as("sum_chars"),
      sum(size(filter(split(col("dk"), " "), x => x === "PRODUCT"))
        .cast("long")).as("n_product_markers"),
      sum(size(filter(split(col("dk"), " "), x => x === "ID"))
        .cast("long")).as("n_id_markers"),
      sum(pmod(Dedup.portableHash60(col("dk")), lit(1000003L)))
        .as("content_hash_sum"))
  }

  val q105Sql: String = {
    val tok = "t"
    val v = s"CAST($tok AS DOUBLE)"
    val n = s"CAST(FLOOR(ABS($v) * 100 + 0.5) AS BIGINT)"
    s"""WITH s AS (SELECT concat_ws(' ',
       |    'COL', 'name', 'VAL', COALESCE(p_name, ''),
       |    'COL', 'type', 'VAL', COALESCE(p_type, ''),
       |    'COL', 'brand', 'VAL', COALESCE(p_brand, ''),
       |    'COL', 'size', 'VAL', COALESCE(CAST(p_size AS VARCHAR), ''),
       |    'COL', 'price', 'VAL', COALESCE(CAST(p_retailprice AS VARCHAR), ''))
       |    AS ser FROM part),
       |inj AS (SELECT array_to_string(list_transform(string_split(ser, ' '),
       |  $tok -> concat(
       |    CASE WHEN regexp_matches($tok, '^[A-Z]{4,}$$') THEN 'PRODUCT '
       |      ELSE '' END,
       |    CASE
       |      WHEN regexp_matches($tok, '^-?[0-9]{1,18}$$')
       |        THEN CAST(CAST($v AS BIGINT) AS VARCHAR)
       |      WHEN regexp_matches($tok, '^-?[0-9]*\\.[0-9]+$$') THEN
       |        CASE WHEN $v = FLOOR($v)
       |          THEN CAST(CAST($v AS BIGINT) AS VARCHAR)
       |          ELSE concat(CASE WHEN $v < 0 THEN '-' ELSE '' END,
       |            CAST($n // 100 AS VARCHAR), '.',
       |            lpad(CAST($n % 100 AS VARCHAR), 2, '0'))
       |        END
       |      WHEN length($tok) >= 7 AND regexp_matches($tok, '[0-9]')
       |        THEN concat('ID ', $tok)
       |      ELSE $tok END)), ' ') AS dk FROM s)
       |SELECT COUNT(*) AS n_rows,
       |  CAST(SUM(length(dk)) AS BIGINT) AS sum_chars,
       |  CAST(SUM(len(list_filter(string_split(dk, ' '), x -> x = 'PRODUCT')))
       |    AS BIGINT) AS n_product_markers,
       |  CAST(SUM(len(list_filter(string_split(dk, ' '), x -> x = 'ID')))
       |    AS BIGINT) AS n_id_markers,
       |  CAST(SUM(CAST(('0x' || substring(md5(dk), 1, 15)) AS BIGINT) % 1000003)
       |    AS BIGINT) AS content_hash_sum
       |FROM inj""".stripMargin
  }

  // ---------------------------------------------------------------- q106
  /** Streaming NEAR-duplicate dedup against all history
    * ([[StreamingOps.nearDupDedupStream]] /
    * [[graft.dedup.IncrementalDedup.nearDupNewDocs]]) — the fuzzy twin
    * of q64's exact Bloom path: state is a disk-resident band-key table
    * (id, band, key, minhash sig), each micro-batch equi-joins it on
    * (band, key) and drops rows whose signature agreement (estimated
    * jaccard) reaches 0.7, then resolves its own near-dups to min-id
    * representatives. Four deterministic chunks (doc_id % 4, explicit
    * mtimes pin replay order); the oracle unrolls the four batches and
    * replays sketches, candidate joins, agreement checks, and each
    * batch's recursive closure.
    */
  def q106StreamNearDupDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val tmp = graft.tools.Scratch.tempDir("q106")
    val in = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    stageChunksTagged(
      docs.withColumn("__chunk", pmod(col("doc_id"), lit(4))), 4, in)
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    var nBatches = 0L
    var nSurvivors = 0L
    var idSum = 0L
    // per-batch state shuffles at 8 (q48/q59 rule), ConfScope-forked
    val q = StreamingOps.nearDupDedupStream(
        graft.operators.ConfScope.shufflePartitions(stream, 8),
        "text", "doc_id",
        s"$tmp/history", threshold = 0.7) { (survivors, _) =>
      nBatches += 1
      val r = survivors.agg(count(lit(1)),
        coalesce(sum(col("doc_id")), lit(0L))).head()
      nSurvivors += r.getLong(0)
      idSum += r.getLong(1)
    }
    try q.processAllAvailable() finally q.stop()
    import s.implicits._
    Seq((nSurvivors, idSum, nBatches))
      .toDF("n_survivors", "survivor_id_sum", "n_batches")
  }

  val q106Sql: String = {
    // per-doc minhash sketch + band keys (band 0: mh0#mh1, band 1:
    // mh2#mh3), batch tag bt = doc_id % 4
    val agree = (l: String, r: String) =>
      s"""(CAST($l.mh0 = $r.mh0 AS INT) + CAST($l.mh1 = $r.mh1 AS INT)
         | + CAST($l.mh2 = $r.mh2 AS INT) + CAST($l.mh3 = $r.mh3 AS INT)) >= 3"""
        .stripMargin.replace("\n", "")
    val stages = (0 until 4).map { t =>
      val hist =
        if (t == 0) "SELECT * FROM ky WHERE FALSE"
        else (0 until t).map(p => s"SELECT k.* FROM ky k JOIN surv$p sv " +
          s"ON k.doc_id = sv.doc_id").mkString(" UNION ALL ")
      s"""hist$t AS MATERIALIZED ($hist),
         |drop$t AS MATERIALIZED (SELECT DISTINCT k.doc_id FROM ky k
         |  JOIN hist$t h ON k.band = h.band AND k.key = h.key
         |  WHERE k.bt = $t AND ${agree("k", "h")}),
         |rem$t AS MATERIALIZED (SELECT * FROM ky WHERE bt = $t
         |  AND doc_id NOT IN (SELECT doc_id FROM drop$t)),
         |edges$t AS MATERIALIZED (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
         |  FROM rem$t a JOIN rem$t b
         |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |  WHERE ${agree("a", "b")}),
         |sym$t AS MATERIALIZED (SELECT ia AS a, ib AS b FROM edges$t
         |  UNION SELECT ib AS a, ia AS b FROM edges$t),
         |reach$t(a, b) AS (SELECT a, b FROM sym$t
         |  UNION SELECT r.a, s2.b FROM reach$t r JOIN sym$t s2 ON r.b = s2.a),
         |losers$t AS MATERIALIZED (SELECT a AS doc_id FROM reach$t
         |  GROUP BY a HAVING MIN(b) < a),
         |surv$t AS MATERIALIZED (SELECT DISTINCT doc_id FROM rem$t
         |  WHERE doc_id NOT IN (SELECT doc_id FROM losers$t))"""
        .stripMargin
    }
    // own copy of the shingle CTE with MATERIALIZED hints: the 4
    // unrolled stages reference ky dozens of times and DuckDB would
    // otherwise re-open the parquet per reference (fd exhaustion)
    s"""WITH RECURSIVE dq AS MATERIALIZED (SELECT doc_id, text,
       |  string_split(text, ' ') AS tk FROM documents
       |  WHERE text IS NOT NULL),
       |s AS MATERIALIZED (SELECT doc_id, text,
       |  CASE WHEN len(tk) >= 3
       |    THEN list_transform(range(1, len(tk) - 1),
       |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
       |    ELSE [text] END AS sh
       |  FROM dq),
       |sg AS MATERIALIZED (SELECT doc_id, doc_id % 4 AS bt,
       |  list_aggregate(list_transform(sh, x -> md5('0|' || x)), 'min') AS mh0,
       |  list_aggregate(list_transform(sh, x -> md5('1|' || x)), 'min') AS mh1,
       |  list_aggregate(list_transform(sh, x -> md5('2|' || x)), 'min') AS mh2,
       |  list_aggregate(list_transform(sh, x -> md5('3|' || x)), 'min') AS mh3
       |  FROM s),
       |ky AS MATERIALIZED (SELECT doc_id, bt, 0 AS band, mh0 || '#' || mh1 AS key,
       |    mh0, mh1, mh2, mh3 FROM sg
       |  UNION ALL SELECT doc_id, bt, 1, mh2 || '#' || mh3,
       |    mh0, mh1, mh2, mh3 FROM sg),
       |${stages.mkString(",\n")},
       |nulls AS (SELECT COUNT(*) AS n, COALESCE(SUM(doc_id), 0) AS ids
       |  FROM documents WHERE text IS NULL),
       |allsurv AS (SELECT doc_id FROM surv0 UNION ALL SELECT doc_id FROM surv1
       |  UNION ALL SELECT doc_id FROM surv2 UNION ALL SELECT doc_id FROM surv3)
       |SELECT
       |  (SELECT COUNT(*) FROM allsurv) + (SELECT n FROM nulls) AS n_survivors,
       |  CAST((SELECT COALESCE(SUM(doc_id), 0) FROM allsurv)
       |    + (SELECT ids FROM nulls) AS BIGINT) AS survivor_id_sum,
       |  4 AS n_batches""".stripMargin
  }

  // ---------------------------------------------------------------- q107
  /** Exact top-5 documents per source by length, via the bounded
    * [[graft.operators.TopK]] AGGREGATOR instead of a window rank: the
    * partial step truncates to k map-side, so the shuffle carries ≤ k
    * rows per (source, task) — the shape that survives a hot source at
    * 100 TB where `row_number() OVER (PARTITION BY source ...)` (q08)
    * would route the whole source to one reducer. Oracle: the window
    * form (same rows by construction, asserted equivalent in spec too).
    */
  def q107TopKPerGroup(s: SparkSession, dir: String): DataFrame =
    graft.operators.TopK.topKPerGroup(
      t(s, dir, "documents"), Seq("source"),
      col("n_chars"), col("doc_id"), k = 5)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("source"), col("rank"))

  val q107Sql: String =
    """WITH r AS (SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS score,
      |  ROW_NUMBER() OVER (PARTITION BY source
      |    ORDER BY n_chars DESC, doc_id ASC) AS rn
      |  FROM documents)
      |SELECT source, CAST(rn AS INT) AS rank, doc_id, score FROM r
      |WHERE rn <= 5 ORDER BY source, rank""".stripMargin

  // ---------------------------------------------------------------- q108
  /** Canonicalization dedup census ([[TextAnalysis.canonicalize]]):
    * group documents on their order-preserving canonical form and count
    * the rows that only near-exact dedup (not byte-exact, q30) would
    * remove — plus the byte-exact baseline in the same pass so the gap
    * is visible. One md5-key shuffle, same scale shape as exact dedup.
    */
  def q108CanonicalDedup(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"),
        TextAnalysis.canonicalize(col("text")).as("canon"))
    val canon = d.groupBy(md5(col("canon")).as("ck")).agg(
      count(lit(1)).as("n"),
      countDistinct(md5(col("text"))).as("n_exact_forms"))
    canon.agg(
      count(lit(1)).as("n_canonical"),
      sum(col("n")).cast("long").as("n_docs"),
      sum(col("n") - 1).cast("long").as("n_dups_canonical"),
      sum(col("n_exact_forms") - 1).cast("long").as("n_forms_merged"))
  }

  val q108Sql: String =
    """WITH c AS (SELECT doc_id, text,
      |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
      |    ' +', ' ', 'g')) AS canon
      |  FROM documents WHERE text IS NOT NULL),
      |g AS (SELECT md5(canon) AS ck, COUNT(*) AS n,
      |  COUNT(DISTINCT md5(text)) AS n_exact_forms FROM c GROUP BY 1)
      |SELECT COUNT(*) AS n_canonical,
      |  CAST(SUM(n) AS BIGINT) AS n_docs,
      |  CAST(SUM(n - 1) AS BIGINT) AS n_dups_canonical,
      |  CAST(SUM(n_exact_forms - 1) AS BIGINT) AS n_forms_merged
      |FROM g""".stripMargin

  // ---------------------------------------------------------------- q109
  /** Temperature-weighted mix ([[TextAnalysis.temperatureRates]] →
    * [[TextAnalysis.mixSample]]): per-source rates derived from √n
    * weights targeting a 20% corpus sample, then the q53 hash gate.
    * The oracle re-derives the rates from the table with the identical
    * integer-floored √n arithmetic (see temperatureRates' portability
    * note) and replays the gate.
    */
  def q109TemperatureMix(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val rates = TextAnalysis.temperatureRates(d, "source", targetDiv = 5L)
    TextAnalysis.mixSample(d, "source", "doc_id", rates)
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      .orderBy(col("source"))
  }

  val q109Sql: String =
    """WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
      |tot AS (SELECT SUM(n) AS total FROM c),
      |sq AS (SELECT source, n,
      |  CAST(FLOOR(SQRT(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS sqn FROM c),
      |den AS (SELECT SUM(sqn) AS denom FROM sq),
      |r AS (SELECT source, n,
      |  LEAST(CAST(1.0 AS DOUBLE),
      |    CAST(total // 5 AS DOUBLE) * CAST(sqn AS DOUBLE)
      |      / CAST(denom AS DOUBLE) / CAST(n AS DOUBLE)) AS rate
      |  FROM sq, tot, den),
      |g AS (SELECT d.source,
      |  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      |    % 10000 AS gate,
      |  r.rate FROM documents d JOIN r ON d.source = r.source)
      |SELECT source, COUNT(*) AS n_kept FROM g WHERE gate < rate * 10000
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q110
  /** Centroid assignment census ([[graft.similarity.Centroids]]): the
    * 8 min-id embeddings seed the centroids, every vector routes to its
    * nearest (squared-L2, tie → smaller centroid id) as scan-local
    * literal arithmetic — no join, no embedding shuffle — and the
    * census aggregates k rows. Distances quantized per row at 1e6 so
    * the summed column is exact integer math; the ARGMIN itself needs
    * no quantization (bit-identical double chains, see Centroids).
    */
  def q110CentroidAssign(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val cents = graft.similarity.Centroids.seedByMinId(e, "vec_id", "embedding", 8)
    graft.similarity.Centroids.assign(e, "embedding", cents)
      .select(col("vec_id"), col("centroid_id"),
        floor(col("dist") * 1e6).cast("long").as("dist_q"))
      .groupBy(col("centroid_id")).agg(
        count(lit(1)).as("n_members"),
        sum(col("dist_q")).as("sum_dist_q"),
        min(col("vec_id")).as("min_member"))
      .orderBy(col("centroid_id"))
  }

  val q110Sql: String =
    """WITH cent AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
      |  ORDER BY vec_id LIMIT 8),
      |d AS (SELECT e.vec_id, c.cid,
      |  list_aggregate(list_transform(range(1, len(e.embedding) + 1),
      |    i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
      |       * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))),
      |    'sum') AS dist
      |  FROM embeddings e, cent c),
      |best AS (SELECT vec_id, cid, dist,
      |  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d)
      |SELECT cid AS centroid_id, COUNT(*) AS n_members,
      |  CAST(SUM(CAST(FLOOR(dist * 1000000) AS BIGINT)) AS BIGINT) AS sum_dist_q,
      |  MIN(vec_id) AS min_member
      |FROM best WHERE rn = 1 GROUP BY cid ORDER BY cid""".stripMargin

  // ---------------------------------------------------------------- q111
  /** BM25 ranked retrieval ([[graft.text.Search.bm25TopK]]) —
    * disjunctive, tf-saturated, length-normalized, with the
    * integer-log2 idf and binary-exact constants that make the raw
    * double scores hash-comparable across engines (see the operator's
    * scaladoc). Query mixes the fixture's one rare token ("dup",
    * ~5% df → idf 4, SF-stable) with two common ones that the coarse
    * idf correctly zeroes out (df ≈ 0.77·N → floor(log2(N/df)) = 0),
    * so the ranking exercises rare-term dominance + length
    * normalization + tf saturation. Corpus stats and dfs fold in as
    * literals; the oracle re-derives them from the table and replays
    * the identical arithmetic AST.
    */
  def q111Bm25(s: SparkSession, dir: String): DataFrame =
    graft.text.Search.bm25TopK(t(s, dir, "documents"), "text", "doc_id",
      terms = Seq("dup", "join", "scan"), k = 10)

  val q111Sql: String = {
    val terms = Seq("dup", "join", "scan")
    val dfCols = terms.zipWithIndex.map { case (tm, i) =>
      s"(SELECT COUNT(*) FROM d WHERE list_contains(tk, '$tm')) AS df${i + 1}"
    }.mkString(",\n  ")
    val idfCols = terms.indices.map { i =>
      s"CAST(length(bin(nd // df${i + 1})) - 1 AS DOUBLE) AS idf${i + 1}"
    }.mkString(",\n  ")
    val tfCols = terms.zipWithIndex.map { case (tm, i) =>
      s"CAST(len(list_filter(tk, x -> x = '$tm')) AS DOUBLE) AS tf${i + 1}"
    }.mkString(",\n  ")
    val parts = terms.indices.map { i =>
      val (tf, idf) = (s"tf${i + 1}", s"idf${i + 1}")
      s"""(CASE WHEN $tf > 0 THEN $idf * ($tf * CAST(2.25 AS DOUBLE)
         |  / ($tf + CAST(1.25 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
         |    + CAST(0.75 AS DOUBLE) * (dl / avgdl))))
         |  ELSE CAST(0.0 AS DOUBLE) END)""".stripMargin
    }.mkString("\n + ")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk,
       |  CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
       |  FROM documents WHERE text IS NOT NULL),
       |st AS (SELECT COUNT(*) AS nd, SUM(len(tk)) AS tt FROM d),
       |dfs AS (SELECT
       |  $dfCols),
       |p AS (SELECT CAST(tt AS DOUBLE) / CAST(nd AS DOUBLE) AS avgdl,
       |  $idfCols
       |  FROM st, dfs),
       |tfp AS (SELECT doc_id, dl,
       |  $tfCols
       |  FROM d),
       |sc AS (SELECT doc_id,
       |  $parts AS score
       |  FROM tfp, p)
       |SELECT doc_id, score FROM sc WHERE score > 0
       |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
  }

  // ---------------------------------------------------------------- q112
  /** OOV novelty census ([[TextAnalysis.withOovCounts]]): per-source
    * totals of tokens outside the corpus' top-16 vocabulary — the
    * rare-token quality signal, all-integer. The oracle re-derives the
    * vocabulary with the identical (df DESC, token ASC) total order
    * and replays the counts.
    */
  def q112OovNovelty(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.withOovCounts(t(s, dir, "documents"), "text", vocabSize = 16)
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        sum(col("n_oov")).as("sum_oov"),
        sum(when(col("n_oov") > 0, 1L).otherwise(0L)).as("n_novel_docs"))
      .orderBy(col("source"))

  val q112Sql: String =
    """WITH tokc AS (SELECT doc_id, string_split(text, ' ') AS tk
      |  FROM documents WHERE text IS NOT NULL),
      |voc AS (SELECT tok FROM (
      |    SELECT unnest(tk) AS tok, doc_id FROM tokc)
      |  GROUP BY tok ORDER BY COUNT(DISTINCT doc_id) DESC, tok ASC
      |  LIMIT 16),
      |vl AS (SELECT list(tok ORDER BY tok) AS vocab FROM voc),
      |per AS (SELECT d.doc_id, d.source,
      |  CASE WHEN d.text IS NULL THEN 0
      |    ELSE len(string_split(d.text, ' ')) END AS n_tokens,
      |  CASE WHEN d.text IS NULL THEN 0
      |    ELSE len(list_filter(string_split(d.text, ' '),
      |      x -> NOT list_contains(vocab, x))) END AS n_oov
      |  FROM documents d, vl)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
      |  CAST(SUM(n_oov) AS BIGINT) AS sum_oov,
      |  CAST(SUM(CASE WHEN n_oov > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_novel_docs
      |FROM per GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q113
  /** End-to-end corpus build — the composition the individual operators
    * exist for, as ONE query: quality gate (token-count floor) →
    * canonicalization dedup (min-id survivor per canonical form,
    * [[TextAnalysis.canonicalize]]) → temperature-weighted mix
    * ([[TextAnalysis.temperatureRates]] on the SURVIVING corpus →
    * [[TextAnalysis.mixSample]]) → per-source census. Every stage is a
    * previously-proven portable fragment (q34/q108/q109 arithmetic);
    * the oracle replays all four in staged CTEs. Scale shape: one
    * narrow md5 shuffle (dedup) + one census shuffle; the gate and the
    * rate application are scan-local; the rate table is driver-bounded
    * at one row per source.
    */
  def q113CorpusBuild(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("text").isNotNull)
      .withColumn("__nt", size(TextAnalysis.tokens(col("text"))))
      .filter(col("__nt") >= 8)
    // canonical dedup: min doc_id survives each canonical form — as a
    // PURE AGGREGATE (min over a struct led by the unique id picks the
    // whole survivor row), which map-side combines and never routes a
    // giant dup cluster's rows to one reducer the way a window would
    val surv = d.withColumn("__ck", md5(TextAnalysis.canonicalize(col("text"))))
      .groupBy(col("__ck"))
      .agg(min(struct(col("doc_id"), col("source"), col("__nt"))).as("__s"))
      .select(col("__s.doc_id").as("doc_id"),
        col("__s.source").as("source"), col("__s.__nt").as("__nt"))
    val rates = TextAnalysis.temperatureRates(surv, "source", targetDiv = 2L)
    TextAnalysis.mixSample(surv, "source", "doc_id", rates)
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_kept"),
        sum(col("__nt").cast("long")).as("sum_tokens"))
      .orderBy(col("source"))
  }

  val q113Sql: String =
    """WITH gated AS (SELECT doc_id, source, text,
      |  len(string_split(text, ' ')) AS nt
      |  FROM documents WHERE text IS NOT NULL
      |    AND len(string_split(text, ' ')) >= 8),
      |ck AS (SELECT doc_id, source, nt,
      |  md5(trim(regexp_replace(regexp_replace(lower(text),
      |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS canon
      |  FROM gated),
      |surv AS (SELECT doc_id, source, nt FROM (
      |  SELECT doc_id, source, nt,
      |    MIN(doc_id) OVER (PARTITION BY canon) AS keep FROM ck)
      |  WHERE doc_id = keep),
      |c AS (SELECT source, COUNT(*) AS n FROM surv GROUP BY source),
      |tot AS (SELECT SUM(n) AS total FROM c),
      |sq AS (SELECT source, n,
      |  CAST(FLOOR(SQRT(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS sqn FROM c),
      |den AS (SELECT SUM(sqn) AS denom FROM sq),
      |r AS (SELECT source, n,
      |  LEAST(CAST(1.0 AS DOUBLE),
      |    CAST(total // 2 AS DOUBLE) * CAST(sqn AS DOUBLE)
      |      / CAST(denom AS DOUBLE) / CAST(n AS DOUBLE)) AS rate
      |  FROM sq, tot, den),
      |g AS (SELECT sv.doc_id, sv.source, sv.nt,
      |  CAST(('0x' || substring(md5(CAST(sv.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      |    % 10000 AS gate,
      |  r.rate FROM surv sv JOIN r ON sv.source = r.source)
      |SELECT source, COUNT(*) AS n_kept,
      |  CAST(SUM(nt) AS BIGINT) AS sum_tokens
      |FROM g WHERE gate < rate * 10000
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q114
  /** Streaming per-day top-3 events by value
    * ([[StreamingOps.windowedTopK]]): the bounded TopKAgg aggregator
    * running inside the streaming state store — per-window state ≤ ~4k
    * entries however many events the day holds. Oracle: the batch
    * window-rank form. State sized to volume (the q48 rule).
    */
  def q114StreamTopK(s: SparkSession, dir: String): DataFrame = {
    val stream = StreamingOps.eventsStream(s, dir)
    // state-store sizing (q48/q59 rule), ConfScope-forked
    val result = StreamingOps.runToCompletion(
      StreamingOps.windowedTopK(
        graft.operators.ConfScope.shufflePartitions(stream, 8), k = 3),
      s"stream_topk_${dir.hashCode.abs}")
    result
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("window_start"),
        posexplode(col("topk")))
      .select(col("window_start"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("event_id"),
        col("col.score").as("score"))
      .orderBy(col("window_start"), col("rank"))
  }

  val q114Sql: String =
    """WITH r AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS window_start,
      |  event_id, CAST(value AS DOUBLE) AS score,
      |  ROW_NUMBER() OVER (PARTITION BY date_trunc('day', ts)
      |    ORDER BY value DESC, event_id ASC) AS rn
      |  FROM events)
      |SELECT window_start, CAST(rn AS INT) AS rank, event_id, score
      |FROM r WHERE rn <= 3 ORDER BY window_start, rank""".stripMargin

  // ---------------------------------------------------------------- q115
  /** Frozen merge table for corpus-wide BPE ENCODING (the inference
    * side of q96's training — [[graft.text.Bpe.applyMerges]] applied at
    * corpus scale). Literal so the DuckDB oracle can replay the exact
    * same table; every pair has `left != right`, which is the property
    * that makes greedy left-to-right fusing ORDER-FREE (see q115Sql).
    * Later ranks consume earlier ranks' fused symbols (th→the) so the
    * stage-chaining semantics are exercised, not just independent
    * substitutions.
    */
  val encodeMerges: Seq[graft.text.Bpe.Merge] = Seq(
    graft.text.Bpe.Merge(0, "t", "h", "th", 0L),
    graft.text.Bpe.Merge(1, "th", "e", "the", 0L),
    graft.text.Bpe.Merge(2, "i", "n", "in", 0L),
    graft.text.Bpe.Merge(3, "a", "n", "an", 0L),
    graft.text.Bpe.Merge(4, "an", "d", "and", 0L),
    graft.text.Bpe.Merge(5, "e", "r", "er", 0L),
    graft.text.Bpe.Merge(6, "o", "n", "on", 0L),
    graft.text.Bpe.Merge(7, "r", "e", "re", 0L))

  /** Corpus-wide BPE encoding census: lowercase whitespace words →
    * char symbols → the frozen [[encodeMerges]] table, per-source
    * totals of words / chars-in / tokens-out / fused (multi-char)
    * tokens. Scale shape: the word explode and the 8-stage merge fold
    * are SCAN-LOCAL (one projection, no shuffle — the corpus never
    * moves); the only shuffle is the per-source census. This is how a
    * tokenizer runs over 100 TB: train small (q96), apply wide with
    * zero data movement.
    *
    * Oracle portability: each merge has `left != right`, so within one
    * merge pass a fused symbol's right piece can never start the next
    * match — greedy left-to-right fusing (the Spark-side
    * [[graft.text.Bpe.mergeSyms]] fold) is equivalent to the parallel
    * rebuild "fuse every (a,b) adjacency; drop every b whose left
    * neighbor is a", which DuckDB computes order-free per stage (the
    * equivalence is ScalaCheck-proven in PipelineSpec).
    */
  def q115BpeEncode(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Bpe
    val words = t(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("source"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("w"))
      .filter(col("w") =!= "")
    val enc = Bpe.applyMerges(Bpe.charSyms(col("w")), encodeMerges)
    words
      .select(col("source"), length(col("w")).as("n_chars"), enc.as("s"))
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_words"),
        sum(col("n_chars").cast("long")).as("sum_chars"),
        sum(size(col("s")).cast("long")).as("sum_tokens"),
        sum(size(filter(col("s"), x => length(x) > 1)).cast("long"))
          .as("n_fused"))
      .orderBy(col("source"))
  }

  val q115Sql: String = {
    val stages = encodeMerges.zipWithIndex.map { case (m, k) =>
      s"""c${k + 1} AS (SELECT source, n_chars,
         |  list_filter(list_transform(range(1, len(s) + 1), i ->
         |    CASE WHEN s[i] = '${m.left}' AND i < len(s)
         |              AND s[i + 1] = '${m.right}' THEN '${m.merged}'
         |         WHEN s[i] = '${m.right}' AND i > 1
         |              AND s[i - 1] = '${m.left}' THEN NULL
         |         ELSE s[i] END), x -> x IS NOT NULL) AS s
         |  FROM c$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH w0 AS (SELECT source, u.w AS w
       |  FROM documents, unnest(string_split(lower(text), ' ')) AS u(w)
       |  WHERE text IS NOT NULL AND u.w <> ''),
       |c0 AS (SELECT source, length(w) AS n_chars,
       |  list_transform(range(1, length(w) + 1), i -> w[i]) AS s FROM w0),
       |$stages
       |SELECT source, COUNT(*) AS n_words,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(SUM(len(s)) AS BIGINT) AS sum_tokens,
       |  CAST(SUM(len(list_filter(s, x -> length(x) > 1))) AS BIGINT)
       |    AS n_fused
       |FROM c${encodeMerges.size} GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- q116
  /** Streaming enrichment: the event stream inner-joined to a STATIC
    * broadcast dimension (customer segment) before a windowless
    * streaming aggregation — the canonical "enrich the firehose with a
    * slowly-changing dim" shape. A stream-static inner join is
    * STATELESS in Structured Streaming (no watermark, no join state —
    * the static side is re-resolved per micro-batch, broadcast here so
    * each batch is a map-side hash join); the only state is the
    * downstream aggregation's. Oracle: the equivalent batch join.
    * State sized to volume (the q48 rule).
    */
  def q116StreamStaticJoin(s: SparkSession, dir: String): DataFrame = {
    val stream = StreamingOps.eventsStream(s, dir)
    val dim = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    // state-store sizing (q48/q59 rule), ConfScope-forked
    val result = StreamingOps.runToCompletion(
      graft.operators.ConfScope.shufflePartitions(stream, 8)
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(12,2)")).cast("double")
            .as("sum_value")),
      s"stream_enrich_${dir.hashCode.abs}")
    result.orderBy(col("mktsegment"), col("event_type"))
  }

  val q116Sql: String =
    """SELECT c.c_mktsegment AS mktsegment, e.event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q117
  /** Semi-structured sidecar parse: the events table carries a JSON
    * `props` string; `from_json` with an explicit schema parses it
    * IN-SCAN (codegen'd Jackson parse, no UDF) and the census
    * aggregates the extracted field. Scale shape: parse is scan-local —
    * nothing shuffles but the per-type census; at 100 TB the schema'd
    * `from_json` beats schema inference (one pass, no sampling job)
    * and unparsed rows surface as NULLs (counted here) rather than
    * failures. Oracle: DuckDB json_extract_string.
    */
  def q117JsonExtract(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val ev = Tables.load(s, dir, "events")
    val k = from_json(col("props"),
      StructType(Seq(StructField("k", LongType)))).getField("k")
    ev.select(col("event_type"), k.as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))
  }

  val q117Sql: String =
    """WITH p AS (SELECT event_type,
      |  CAST(json_extract_string(props, 'k') AS BIGINT) AS k FROM events)
      |SELECT event_type, COUNT(*) AS n, COUNT(k) AS n_with_k,
      |  CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k
      |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q118
  /** Edit-distance fuzzy join ([[graft.text.Fuzzy.fuzzyPairs]]): pairs
    * of distinct names within Levenshtein 2, found via FastSS
    * deletion-neighborhood blocking (scan-local variant explode + one
    * hash equi-join — never all-pairs) and verified with the exact
    * distance. The name pool unions the word-like part names (variable
    * length, insert/delete regime) with the serial-number supplier
    * names (fixed length, dense substitution neighborhoods). Oracle:
    * DuckDB's levenshtein over the brute-force cross join — exactly
    * the O(n²) plan the blocking exists to avoid, viable only at
    * oracle scale.
    */
  def q118FuzzyJoin(s: SparkSession, dir: String): DataFrame = {
    val names = Tables.load(s, dir, "part").select(col("p_name").as("name"))
      .unionByName(Tables.load(s, dir, "supplier")
        .select(col("s_name").as("name")))
    graft.text.Fuzzy.fuzzyPairs(names, "name", maxDist = 2)
      .groupBy(col("dist"))
      .agg(count(lit(1)).as("n_pairs"),
        min(concat_ws("|", col("name_a"), col("name_b"))).as("min_pair"),
        max(concat_ws("|", col("name_a"), col("name_b"))).as("max_pair"))
      .orderBy(col("dist"))
  }

  val q118Sql: String =
    """WITH n AS (SELECT DISTINCT p_name AS name FROM part
      |  UNION SELECT DISTINCT s_name FROM supplier),
      |p AS (SELECT a.name AS name_a, b.name AS name_b,
      |  levenshtein(a.name, b.name) AS dist
      |  FROM n a, n b WHERE a.name < b.name)
      |SELECT dist, COUNT(*) AS n_pairs,
      |  MIN(name_a || '|' || name_b) AS min_pair,
      |  MAX(name_a || '|' || name_b) AS max_pair
      |FROM p WHERE dist <= 2 GROUP BY dist ORDER BY dist""".stripMargin

  // ---------------------------------------------------------------- q119
  /** GROUPING SETS in one pass (the rollup/cube sibling q90/q94 left
    * out): per-(month, type), per-month, per-type, and grand totals
    * from a single Expand — one scan, one shuffle, instead of four
    * separate aggregations. Null grouping slots are COALESCEd to a
    * sentinel so the oracle compares without relying on engine-specific
    * GROUPING() functions. `month` is derived per-row first; none of
    * the grouped columns are null in the data, so the sentinel is
    * unambiguous.
    */
  def q119GroupingSets(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .withColumn("month", date_format(col("ts"), "yyyy-MM"))
    ev.groupingSets(
        Seq(Seq(col("month"), col("event_type")), Seq(col("month")),
          Seq(col("event_type")), Seq.empty),
        col("month"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
      .select(coalesce(col("month"), lit("ALL")).as("month"),
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        col("n"), col("sum_value"))
      .orderBy(col("month"), col("event_type"))
  }

  val q119Sql: String =
    """WITH e AS (SELECT strftime(ts, '%Y-%m') AS month, event_type,
      |  CAST(value AS DECIMAL(12,2)) AS v FROM events)
      |SELECT COALESCE(month, 'ALL') AS month,
      |  COALESCE(event_type, 'ALL') AS event_type,
      |  COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) AS sum_value
      |FROM e GROUP BY GROUPING SETS ((month, event_type), (month),
      |  (event_type), ())
      |ORDER BY month, event_type""".stripMargin

  // ---------------------------------------------------------------- q120
  /** Table reconciliation ([[graft.operators.Diff.diffCensus]]):
    * documents vs a deterministically perturbed next drop (doc_id % 10:
    * 0 → deleted, 1 → text rewritten, 2 → re-inserted under a shifted
    * id). Each side narrows to (key, md5 fingerprint) IN ITS SCAN, the
    * full-outer join moves only those two columns, and the census is a
    * one-row rollup — the audit that verifies an upsert/CDC application
    * did what it claimed. Oracle replays the perturbation and the
    * status classification.
    */
  def q120TableDiff(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "documents")
    val gate = pmod(col("doc_id"), lit(10L))
    val b = a.filter(gate =!= 0L)
      .withColumn("text",
        when(gate === 1L, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
      .unionByName(a.filter(gate === 2L)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    graft.operators.Diff.diffCensus(a, b, Seq("doc_id"),
      Seq("text", "lang", "source"))
  }

  val q120Sql: String =
    """WITH a AS (SELECT doc_id,
      |  md5(concat_ws(chr(1), COALESCE(text, 'null'),
      |    COALESCE(lang, 'null'), COALESCE(source, 'null'))) AS fa
      |  FROM documents),
      |b0 AS (SELECT doc_id,
      |  CASE WHEN doc_id % 10 = 1 THEN text || ' v2' ELSE text END AS text,
      |  lang, source FROM documents WHERE doc_id % 10 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, text, lang, source FROM documents
      |  WHERE doc_id % 10 = 2),
      |b AS (SELECT doc_id, md5(concat_ws(chr(1), COALESCE(text, 'null'),
      |  COALESCE(lang, 'null'), COALESCE(source, 'null'))) AS fb FROM b0),
      |d AS (SELECT CASE WHEN fa IS NULL THEN 'added'
      |    WHEN fb IS NULL THEN 'removed'
      |    WHEN fa = fb THEN 'unchanged' ELSE 'changed' END AS status
      |  FROM a FULL OUTER JOIN b USING (doc_id))
      |SELECT CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_added,
      |  CAST(SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_removed,
      |  CAST(SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_changed,
      |  CAST(SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_unchanged
      |FROM d""".stripMargin

  // ---------------------------------------------------------------- q121
  /** EXACT set-similarity self-join ([[graft.dedup.SetSimJoin]]):
    * every document pair with token-set Jaccard ≥ 0.6, via prefix
    * filtering (AllPairs/PPJoin) — complete by theorem, verified by
    * exact integer cross-multiplication, in contrast to q32's
    * probabilistic MinHash recall. Census: pair count and exact
    * intersection/union totals per integer Jaccard band. Oracle: the
    * brute-force O(n²) cross join the prefix filter exists to avoid
    * (viable only at oracle scale).
    */
  def q121SetSimJoin(s: SparkSession, dir: String): DataFrame = {
    // deterministic 20% corpus gate (portable md5, the q53 rule): the
    // fixture's dup clusters make qualifying pairs QUADRATIC in cluster
    // size (7.1M pairs at sf0.1 ungated — a 3.5-minute query whose cost
    // is the answer's size, not the algorithm); the gate thins every
    // cluster ~5× so the bench measures the join, not the output volume
    val d = t(s, dir, "documents").filter(
      pmod(Dedup.portableHash60(
        concat(col("doc_id").cast("string"), lit("#ss"))), lit(10000L)) < 2000L)
    graft.dedup.SetSimJoin.similarPairs(d, "text", "doc_id", t100 = 60)
      .withColumn("jac_pct",
        floor(col("n_inter") * 100 / col("n_union")).cast("int"))
      .groupBy(col("jac_pct"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("n_inter").cast("long")).as("sum_inter"),
        sum(col("n_union").cast("long")).as("sum_union"))
      .orderBy(col("jac_pct"))
  }

  val q121Sql: String =
    """WITH g AS (SELECT doc_id, text FROM documents
      |  WHERE text IS NOT NULL
      |    AND CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#ss'),
      |      1, 15)) AS BIGINT) % 10000 < 2000),
      |s AS (SELECT doc_id,
      |  list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))
      |    AS toks
      |  FROM g),
      |p AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
      |  len(list_intersect(a.toks, b.toks)) AS ni,
      |  len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS nu
      |  FROM s a, s b WHERE a.doc_id < b.doc_id),
      |q AS (SELECT CAST(FLOOR(ni * 100.0 / nu) AS INT) AS jac_pct, ni, nu
      |  FROM p WHERE ni * 100 >= nu * 60)
      |SELECT jac_pct, COUNT(*) AS n_pairs,
      |  CAST(SUM(ni) AS BIGINT) AS sum_inter,
      |  CAST(SUM(nu) AS BIGINT) AS sum_union
      |FROM q GROUP BY jac_pct ORDER BY jac_pct""".stripMargin

  // ---------------------------------------------------------------- q122
  /** Robust outlier census ([[graft.operators.Robust.madOutlierCensus]]):
    * per-event-type median + MAD over integer cents, outliers at 3·MAD.
    * Exact percentiles are the oracle surface (`approx_percentile` is
    * the documented 100 TB swap, measured, SURVEY.md round 6
    * ScaleSmoke); the integer cents scaling keeps every interpolated
    * median k/2-representable so the DuckDB quantile_cont comparison is
    * double-exact.
    */
  def q122OutlierMad(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .withColumn("cents", graft.operators.Robust.cents(col("value")))
    graft.operators.Robust.madOutlierCensus(ev, "event_type", "cents", k = 3)
      .select(col("event_type"), col("med"), col("mad"),
        col("n"), col("n_outliers"))
      .orderBy(col("event_type"))
  }

  val q122Sql: String =
    """WITH e AS (SELECT event_type,
      |  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |m AS (SELECT event_type, quantile_cont(cents, 0.5) AS med
      |  FROM e GROUP BY event_type),
      |a AS (SELECT e.event_type, e.cents, m.med,
      |  abs(e.cents - m.med) AS ad FROM e JOIN m USING (event_type)),
      |d AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad
      |  FROM a GROUP BY event_type)
      |SELECT a.event_type, MIN(a.med) AS med, MIN(d.mad) AS mad,
      |  COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN a.ad > 3 * d.mad THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers
      |FROM a JOIN d USING (event_type)
      |GROUP BY a.event_type ORDER BY a.event_type""".stripMargin

  // ---------------------------------------------------------------- q123
  /** PII REDACTION applied (the q52 counterpart that rewrites instead
    * of counting): [[TextAnalysis.redactPii]]'s sequential
    * email→IP→phone regexp_replace chain, censused per source — docs
    * changed, characters removed, masks inserted by kind. Scan-local
    * (three codegen'd regex rewrites in one projection, no UDF); the
    * only shuffle is the census. Oracle replays the same chain (with
    * DuckDB's explicit 'g' flag — its regexp_replace is first-match by
    * default, Spark's is global).
    */
  def q123PiiRedact(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("text").isNotNull)
    d.select(col("source"), col("text"),
        TextAnalysis.redactPii(col("text")).as("red"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("red") =!= col("text"), 1L).otherwise(0L))
          .as("n_changed"),
        sum((length(col("text")) - length(col("red"))).cast("long"))
          .as("sum_delta"),
        sum(regexp_count(col("red"), lit("<EMAIL>")).cast("long"))
          .as("n_email_masks"),
        sum(regexp_count(col("red"), lit("<IP>")).cast("long"))
          .as("n_ip_masks"),
        sum(regexp_count(col("red"), lit("<PHONE>")).cast("long"))
          .as("n_phone_masks"))
      .orderBy(col("source"))
  }

  val q123Sql: String = {
    val em = TextAnalysis.emailPattern
    val ip = TextAnalysis.ipv4Pattern
    val ph = TextAnalysis.phonePattern
    s"""WITH r AS (SELECT source, text,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '$em', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'),
       |    '$ph', '<PHONE>', 'g') AS red
       |  FROM documents WHERE text IS NOT NULL)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN red <> text THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_changed,
       |  CAST(SUM(length(text) - length(red)) AS BIGINT) AS sum_delta,
       |  CAST(SUM(len(regexp_extract_all(red, '<EMAIL>'))) AS BIGINT)
       |    AS n_email_masks,
       |  CAST(SUM(len(regexp_extract_all(red, '<IP>'))) AS BIGINT)
       |    AS n_ip_masks,
       |  CAST(SUM(len(regexp_extract_all(red, '<PHONE>'))) AS BIGINT)
       |    AS n_phone_masks
       |FROM r GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- q124
  /** Full k-means TRAINING (Lloyd iterations, not just the q110
    * assignment step): [[graft.similarity.Centroids.lloyd]] in
    * fixed-point arithmetic — data quantized to an integer grid
    * (`floor(x·4096)`, exact in IEEE double), centroid updates as
    * floor-divided per-dimension means, empty centroids keeping their
    * position, ties to the smaller id. Every quantity in the loop is
    * an integer, so the oracle replays 2 iterations + the final
    * assignment bit-exactly with zero float-summation-order hazard —
    * the property that makes iterative ML training hash-checkable
    * across engines at all. Per iteration the corpus scans once
    * against literal centroids (no join, no corpus shuffle); only the
    * k×(dim+1) map-combined census moves.
    */
  def q124Kmeans(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    graft.similarity.Centroids.lloyd(e, "vec_id", "embedding",
        k = 8, iters = 2)
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("dist_q")).as("sum_dist_q"),
        min(col("vec_id")).as("min_member"))
      .orderBy(col("centroid_id"))
  }

  val q124Sql: String = {
    // one Lloyd step: assignment under c$p, floored-mean update → c$it
    def step(it: Int, p: String): String =
      s"""d$it AS (SELECT q.vec_id, q.qv, c.cid,
         |  list_aggregate(list_transform(range(1, len(q.qv) + 1),
         |    i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])), 'sum') AS dist
         |  FROM q, $p c),
         |a$it AS (SELECT vec_id, qv, cid, dist FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY dist, cid) AS rn FROM d$it) WHERE rn = 1),
         |u$it AS (SELECT cid, UNNEST(range(1, len(qv) + 1)) AS i,
         |    UNNEST(qv) AS x FROM a$it),
         |m$it AS (SELECT cid, i, SUM(x) AS sv, COUNT(*) AS n
         |  FROM u$it GROUP BY cid, i),
         |n$it AS (SELECT cid, list(CAST((sv - ((sv % n) + n) % n) // n
         |    AS BIGINT) ORDER BY i) AS cv
         |  FROM m$it GROUP BY cid),
         |c$it AS (SELECT p.cid, COALESCE(m.cv, p.cv) AS cv
         |  FROM $p p LEFT JOIN n$it m ON p.cid = m.cid)""".stripMargin
    s"""WITH q AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 4096) AS BIGINT)) AS qv
       |  FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, qv AS cv FROM q ORDER BY vec_id LIMIT 8),
       |${step(1, "c0")},
       |${step(2, "c1")},
       |d3 AS (SELECT q.vec_id, c.cid,
       |  list_aggregate(list_transform(range(1, len(q.qv) + 1),
       |    i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])), 'sum') AS dist
       |  FROM q, c2 c),
       |a3 AS (SELECT vec_id, cid, dist FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY dist, cid) AS rn FROM d3) WHERE rn = 1)
       |SELECT cid AS centroid_id, COUNT(*) AS n_members,
       |  CAST(SUM(dist) AS BIGINT) AS sum_dist_q, MIN(vec_id) AS min_member
       |FROM a3 GROUP BY cid ORDER BY cid""".stripMargin
  }

  // ---------------------------------------------------------------- q125
  /** SCD TYPE 2 dimension history ([[graft.operators.Scd2]]) — the
    * history-preserving MERGE the SCD1 family (q93/q98/q99) overwrites
    * away: two successive change batches applied to the customer
    * dimension (batch 1 at t=100: segment rename for a 30% md5 gate,
    * a 10% no-op slice, 5% key inserts; batch 2 at t=200: nation bump
    * for a different 20% gate), then a census over the resulting
    * version set. Closed history never joins (filtered + concatenated
    * back); open rows full-outer-join each batch ONCE and emit their
    * output versions through one exploded projection. Oracle replays
    * both applications as UNION ALL case branches.
    */
  /** The two-batch SCD2 customer dimension shared by q125 (version
    * census) and q131 (temporal join): segment rename for a 30% md5
    * gate + 10% no-ops + 5% inserts at t=100, nation bump for a
    * different 20% gate at t=200.
    */
  private def scd2CustomerDim(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
    def gate(salt: String) = pmod(Dedup.portableHash60(
      concat(col("c_custkey").cast("string"), lit(salt))), lit(100L))
    val dim0 = graft.operators.Scd2.initial(c, 0L)
    val b1 = c.filter(gate("#a") < 30)
      .select(col("c_custkey"),
        concat(col("c_mktsegment"), lit("#1")).as("c_mktsegment"),
        col("c_nationkey"))
      .unionByName(c.filter(gate("#a") >= 30 && gate("#a") < 40))
      .unionByName(c.filter(gate("#a") >= 95)
        .select((col("c_custkey") + 10000000L).as("c_custkey"),
          col("c_mktsegment"), col("c_nationkey")))
    val dim1 = graft.operators.Scd2.apply(dim0, b1, Seq("c_custkey"),
      Seq("c_mktsegment", "c_nationkey"), 100L)
    val b2 = c.filter(gate("#b") < 20)
      .select(col("c_custkey"), col("c_mktsegment"),
        (col("c_nationkey") + 1).as("c_nationkey"))
    graft.operators.Scd2.apply(dim1, b2, Seq("c_custkey"),
      Seq("c_mktsegment", "c_nationkey"), 200L)
  }

  def q125Scd2(s: SparkSession, dir: String): DataFrame = {
    val dim2 = scd2CustomerDim(s, dir)
    dim2.groupBy(col("is_current"),
        col("c_mktsegment").like("%#1").as("with_v1"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("c_custkey")).as("n_keys"),
        sum(col("valid_from")).as("sum_from"),
        sum(coalesce(col("valid_to"), lit(-1L))).as("sum_to"))
      .orderBy(col("is_current"), col("with_v1"))
  }

  /** One SCD2 application as four UNION ALL branches over the
    * open ⟗ batch join (null-safe attribute equality) — shared by the
    * q125 and q130 oracles.
    */
  private def scd2StepSql(openRel: String, batchRel: String, ts: Int,
      outName: String, joinName: String): String =
    s"""$joinName AS (SELECT o.c_custkey, o.c_mktsegment, o.c_nationkey,
       |    o.valid_from, o.valid_to, o.is_current,
       |    c.c_custkey AS ck, c.c_mktsegment AS cm, c.c_nationkey AS cn
       |  FROM $openRel o FULL OUTER JOIN $batchRel c
       |    ON o.c_custkey = c.c_custkey),
       |$outName AS (
       |  SELECT c_custkey, c_mktsegment, c_nationkey,
       |      valid_from, valid_to, is_current
       |    FROM $joinName WHERE c_custkey IS NOT NULL AND (ck IS NULL
       |      OR (c_mktsegment IS NOT DISTINCT FROM cm
       |          AND c_nationkey IS NOT DISTINCT FROM cn))
       |  UNION ALL
       |  SELECT c_custkey, c_mktsegment, c_nationkey,
       |      valid_from, $ts, FALSE
       |    FROM $joinName WHERE c_custkey IS NOT NULL AND ck IS NOT NULL
       |      AND NOT (c_mktsegment IS NOT DISTINCT FROM cm
       |               AND c_nationkey IS NOT DISTINCT FROM cn)
       |  UNION ALL
       |  SELECT c_custkey, cm, cn, $ts, NULL, TRUE
       |    FROM $joinName WHERE c_custkey IS NOT NULL AND ck IS NOT NULL
       |      AND NOT (c_mktsegment IS NOT DISTINCT FROM cm
       |               AND c_nationkey IS NOT DISTINCT FROM cn)
       |  UNION ALL
       |  SELECT ck, cm, cn, $ts, NULL, TRUE
       |    FROM $joinName WHERE c_custkey IS NULL)""".stripMargin

  /** CTE chain building the two-batch SCD2 customer dimension as
    * `dim2` — the oracle twin of [[scd2CustomerDim]], shared by q125
    * and q131.
    */
  private def scd2CustomerDimCtes: String =
    s"""g AS (SELECT c_custkey, c_mktsegment, c_nationkey,
       |    CAST(('0x' || substring(md5(CAST(c_custkey AS VARCHAR) || '#a'),
       |      1, 15)) AS BIGINT) % 100 AS ga,
       |    CAST(('0x' || substring(md5(CAST(c_custkey AS VARCHAR) || '#b'),
       |      1, 15)) AS BIGINT) % 100 AS gb
       |  FROM customer),
       |dim0 AS (SELECT c_custkey, c_mktsegment, c_nationkey,
       |    CAST(0 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to,
       |    TRUE AS is_current FROM g),
       |b1 AS (SELECT c_custkey, c_mktsegment || '#1' AS c_mktsegment,
       |    c_nationkey FROM g WHERE ga < 30
       |  UNION ALL SELECT c_custkey, c_mktsegment, c_nationkey FROM g
       |    WHERE ga >= 30 AND ga < 40
       |  UNION ALL SELECT c_custkey + 10000000, c_mktsegment, c_nationkey
       |    FROM g WHERE ga >= 95),
       |${scd2StepSql("dim0", "b1", 100, "app1", "j1")},
       |dim1 AS (SELECT * FROM app1),
       |b2 AS (SELECT c_custkey, c_mktsegment, c_nationkey + 1 AS c_nationkey
       |  FROM g WHERE gb < 20),
       |${scd2StepSql("(SELECT * FROM dim1 WHERE is_current)", "b2", 200,
          "app2", "j2")},
       |dim2 AS (SELECT * FROM dim1 WHERE NOT is_current
       |  UNION ALL SELECT * FROM app2)""".stripMargin

  val q125Sql: String =
    s"""WITH $scd2CustomerDimCtes
       |SELECT is_current, (c_mktsegment LIKE '%#1') AS with_v1,
       |  COUNT(*) AS n_rows, COUNT(DISTINCT c_custkey) AS n_keys,
       |  CAST(SUM(valid_from) AS BIGINT) AS sum_from,
       |  CAST(SUM(COALESCE(valid_to, -1)) AS BIGINT) AS sum_to
       |FROM dim2 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q126
  /** TIME-WEIGHTED AVERAGE (TWAP/step-function mean) of `value` per
    * event type — the metering/pricing census where each observation
    * holds until the next one, so plain AVG over-weights bursts. All
    * arithmetic is integer: values quantized to cents
    * (`floor(value·100)`, exact), timestamps to epoch seconds of the
    * inter-event gap (floor-div of the micros delta), so the weighted
    * sums and the final floor-divided TWAP are bit-identical across
    * engines — no float-summation-order hazard. Magnitude headroom:
    * |cents| ≤ ~1e5, gap ≤ ~1e6 s ⇒ ≤ 1e11 per segment, ~1e16 summed
    * at sf0.1 — far inside Long. One shuffle (by event_type) + per-key
    * sorted runs; no join. At 100 TB the per-type runs are the skew
    * unit — pre-bucket by (type, coarse time range) and stitch
    * boundaries if a single type outgrows an executor's sort.
    */
  def q126Twap(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.load(s, dir, "events")
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        floor(col("value") * 100).cast("long").as("cents"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("us"), col("event_id"))
    // `div`, not `/`: Spark's `/` on longs goes through DOUBLE, which
    // silently mis-floors once operands pass 2^53; `div` stays integral
    val seg = e.withColumn("nxt", lead(col("us"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .withColumn("dt_s", expr("(nxt - us) div 1000000"))
    seg.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_segments"),
        sum(col("dt_s")).as("total_s"),
        sum(col("cents") * col("dt_s")).as("num_q"))
      .withColumn("twap_cents",
        expr("(num_q - pmod(num_q, total_s)) div total_s"))
      .orderBy(col("event_type"))
  }

  val q126Sql: String =
    """WITH e AS (SELECT event_type, event_id, epoch_ns(ts) // 1000 AS us,
      |    CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
      |w AS (SELECT event_type, cents, us,
      |    LEAD(us) OVER (PARTITION BY event_type
      |      ORDER BY us, event_id) AS nxt FROM e),
      |seg AS (SELECT event_type, cents,
      |    (nxt - us) // 1000000 AS dt_s FROM w WHERE nxt IS NOT NULL),
      |a AS (SELECT event_type, COUNT(*) AS n_segments,
      |    CAST(SUM(dt_s) AS BIGINT) AS total_s,
      |    CAST(SUM(cents * dt_s) AS BIGINT) AS num_q
      |  FROM seg GROUP BY event_type)
      |SELECT event_type, n_segments, total_s, num_q,
      |  CAST((num_q - ((num_q % total_s) + total_s) % total_s) // total_s
      |    AS BIGINT) AS twap_cents
      |FROM a ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q127
  /** COHORT RETENTION matrix — users grouped by first-activity DAY,
    * counted in each later day they return (the product-analytics
    * staple next to funnel q102 / sessions q49; daily grain because
    * the fixture spans one month). ONE user-keyed shuffle computes
    * both the cohort anchor (min day) and the distinct activity days
    * per user (`collect_set`, bounded by the calendar, not the event
    * volume); cells then census in a second tiny shuffle. The oracle
    * takes the textbook two-pass distinct+join form — structurally
    * different plans, identical integer cells.
    */
  def q127CohortRetention(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("d"))
    e.groupBy(col("user_id"))
      .agg(min(col("d")).as("cohort_d"), collect_set(col("d")).as("ds"))
      .select(col("cohort_d"), explode(col("ds")).as("d"))
      .select(col("cohort_d"), (col("d") - col("cohort_d")).as("day_offset"))
      .groupBy(col("cohort_d"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_d"), col("day_offset"))
  }

  val q127Sql: String =
    """WITH e AS (SELECT user_id,
      |    (epoch_ns(ts) // 1000) // 86400000000 AS d FROM events),
      |ud AS (SELECT DISTINCT user_id, d FROM e),
      |f AS (SELECT user_id, MIN(d) AS d0 FROM ud GROUP BY user_id)
      |SELECT f.d0 AS cohort_d, ud.d - f.d0 AS day_offset,
      |  COUNT(*) AS n_users
      |FROM ud JOIN f USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q128
  /** SIMILARITY-GRAPH CENTRALITY: integer PageRank
    * ([[graft.graph.PageRank.rankInt]]) over the 3-NN embedding graph
    * — "which vectors sit in the densest neighborhoods" as a
    * hash-checkable ranking. Edges rank by the same exact integer
    * distance as q124 (quantized grid, ties to the smaller id), and
    * the PR loop is fixed-point floor arithmetic, so 2 unrolled
    * iterations replay bit-for-bit in SQL. The edge build here is the
    * brute-force quantized scan (fine at catalog scale); at corpus
    * scale it swaps for [[Ann.knnGraph]]'s density-sized cell build
    * (q173: 11.1x at 16x growth, measured, SURVEY.md round 7
    * ScaleSmoke) — the PR loop is generator-agnostic.
    */
  def q128Pagerank(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = t(s, dir, "embeddings")
    val q = e.select(col("vec_id"),
      graft.similarity.Centroids.quantizeVec(col("embedding"), 4096L)
        .as("qv"))
    // fan the probe side out: embeddings arrive as one small parquet
    // split, and a broadcast-nested-loop join inherits the stream
    // side's partitioning — without this the 4M-pair distance scan
    // runs on one core (the q118 lesson, pre-join flavor)
    val a = q.select(col("vec_id").as("src"), col("qv").as("qa"))
      .repartition(s.sparkContext.defaultParallelism)
    val b = q.select(col("vec_id").as("dst"), col("qv").as("qb"))
    val pairs = a.crossJoin(b).filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        graft.similarity.Centroids.sqDistLong(col("qa"), col("qb"))
          .as("dist"))
    // nearest-3 via the bounded aggregate (q107's TopKAgg), not a
    // window: the map-side partial keeps ≤3 rows per (src, task), so
    // the 4M scored pairs never shuffle — score −dist is exact in
    // double (dist ≤ 2^38), ties resolve to the smaller dst
    val edges = graft.operators.TopK.topKPerGroup(
        pairs, Seq("src"), -col("dist"), col("dst"), k = 3)
      .select(col("src"), col("id").as("dst"))
    // the ranks come back persisted: the catalog runner's clearCache
    // releases them
    graft.graph.PageRank.rankInt(edges, iters = 2)
      .select(col("id").as("vec_id"), col("pr"))
      .orderBy(col("pr").desc, col("vec_id")).limit(10)
  }

  val q128Sql: String = {
    def iter(prev: String, it: Int): String =
      s"""c$it AS (SELECT e.dst AS id, SUM((p.pr * 85) // (100 * deg.dg)) AS s
         |  FROM e JOIN $prev p ON e.src = p.id
         |  JOIN deg ON e.src = deg.src GROUP BY e.dst),
         |p$it AS (SELECT n.id, 150000 + COALESCE(c$it.s, 0) AS pr
         |  FROM n LEFT JOIN c$it ON n.id = c$it.id)""".stripMargin
    s"""WITH q AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 4096) AS BIGINT)) AS qv
       |  FROM embeddings),
       |d AS (SELECT a.vec_id AS src, b.vec_id AS dst,
       |    list_aggregate(list_transform(range(1, len(a.qv) + 1),
       |      i -> (a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i])), 'sum') AS dist
       |  FROM q a, q b WHERE a.vec_id <> b.vec_id),
       |e AS (SELECT src, dst FROM (SELECT *, row_number() OVER (
       |    PARTITION BY src ORDER BY dist, dst) AS rn FROM d)
       |  WHERE rn <= 3),
       |deg AS (SELECT src, COUNT(*) AS dg FROM e GROUP BY src),
       |n AS (SELECT DISTINCT id FROM
       |  (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
       |p0 AS (SELECT id, CAST(1000000 AS BIGINT) AS pr FROM n),
       |${iter("p0", 1)},
       |${iter("p1", 2)}
       |SELECT id AS vec_id, CAST(pr AS BIGINT) AS pr FROM p2
       |ORDER BY pr DESC, id LIMIT 10""".stripMargin
  }

  // ---------------------------------------------------------------- q129
  /** DATA-QUALITY GATE ([[graft.operators.Integrity]]) — the dbt-test
    * / Deequ suite as one query: PK uniqueness (groupBy census, no
    * self-join), FK orphans (one LEFT ANTI join each), null and
    * domain violations (scan-local) across four tables, unioned as
    * 1-row aggregates into a single job. The fixture intentionally
    * passes clean, so every n_bad is an exact zero both engines must
    * agree on — and the per-check n_total pins that each check really
    * scanned its table.
    */
  def q129Integrity(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Integrity._
    val (cust, ord, li, ev) = (t(s, dir, "customer"), t(s, dir, "orders"),
      t(s, dir, "lineitem"), Tables.load(s, dir, "events"))
    suite(Seq(
      uniqueKey(cust, "customer_pk_unique", Seq("c_custkey")),
      uniqueKey(li, "lineitem_pk_unique", Seq("l_orderkey", "l_linenumber")),
      foreignKey(ord, "orders_custkey_fk", "o_custkey", cust, "c_custkey"),
      foreignKey(li, "lineitem_orderkey_fk", "l_orderkey", ord, "o_orderkey"),
      notNull(ev, "events_user_not_null", "user_id"),
      accepted(ord, "orders_status_domain", "o_orderstatus",
        Seq("F", "O", "P")),
      accepted(ev, "events_type_domain", "event_type",
        Seq("click", "error", "purchase", "signup", "view"))))
  }

  val q129Sql: String =
    """SELECT * FROM (
      |SELECT 'customer_pk_unique' AS check, CAST(COALESCE(SUM(CASE
      |    WHEN n > 1 THEN n END), 0) AS BIGINT) AS n_bad,
      |  CAST(SUM(n) AS BIGINT) AS n_total
      |  FROM (SELECT COUNT(*) AS n FROM customer GROUP BY c_custkey)
      |UNION ALL
      |SELECT 'lineitem_pk_unique', CAST(COALESCE(SUM(CASE
      |    WHEN n > 1 THEN n END), 0) AS BIGINT), CAST(SUM(n) AS BIGINT)
      |  FROM (SELECT COUNT(*) AS n FROM lineitem
      |    GROUP BY l_orderkey, l_linenumber)
      |UNION ALL
      |SELECT 'orders_custkey_fk',
      |  (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
      |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
      |  (SELECT COUNT(*) FROM orders)
      |UNION ALL
      |SELECT 'lineitem_orderkey_fk',
      |  (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
      |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
      |  (SELECT COUNT(*) FROM lineitem)
      |UNION ALL
      |SELECT 'events_user_not_null',
      |  (SELECT COUNT(*) FROM events WHERE user_id IS NULL),
      |  (SELECT COUNT(*) FROM events)
      |UNION ALL
      |SELECT 'orders_status_domain',
      |  (SELECT COUNT(*) FROM orders WHERE o_orderstatus IS NOT NULL
      |    AND o_orderstatus NOT IN ('F', 'O', 'P')),
      |  (SELECT COUNT(*) FROM orders)
      |UNION ALL
      |SELECT 'events_type_domain',
      |  (SELECT COUNT(*) FROM events WHERE event_type IS NOT NULL
      |    AND event_type NOT IN
      |      ('click', 'error', 'purchase', 'signup', 'view')),
      |  (SELECT COUNT(*) FROM events))
      |ORDER BY "check"""".stripMargin

  // ---------------------------------------------------------------- q130
  /** STREAMING CDC → SCD2 ([[StreamingOps.scd2Stream]]): a snapshot
    * batch bootstraps the all-open dimension, then three sequential
    * change batches (file-source micro-batches, explicit replay order)
    * close and reopen versions in place — q99's CDC maintenance with
    * HISTORY instead of overwrite. State is the table; no state store,
    * no watermark. Census matches the q125 shape; oracle replays the
    * three applications through the shared SCD2 step builder.
    */
  def q130StreamScd2(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
    val tmp = graft.tools.Scratch.tempDir("q130")
    val in = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val chunks = (0 to 3).map {
      case 0 => cust.withColumn("version", lit(0L))
      case k => cust
        .filter(pmod(col("c_custkey"), lit(3)) === (k - 1) ||
          pmod(col("c_custkey"), lit(5)) === 0)
        .select(col("c_custkey"),
          concat(col("c_mktsegment"), lit(s"#$k")).as("c_mktsegment"),
          col("c_nationkey"), lit(k * 100L).as("version"))
    }
    stageChunks(chunks, in)
    val schema = s.read.parquet(s"$in/chunk-0.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val table = s"$tmp/table"
    // state-volume sizing (the q48/q59/q99 rule): per-batch joins
    // move a few thousand rows — 8 partitions, ConfScope-forked
    val q = StreamingOps.scd2Stream(
      graft.operators.ConfScope.shufflePartitions(stream, 8),
      table, Seq("c_custkey"),
      Seq("c_mktsegment", "c_nationkey"), "version")
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(table)
      .groupBy(col("is_current"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("c_custkey")).as("n_keys"),
        sum(col("valid_from")).as("sum_from"),
        sum(coalesce(col("valid_to"), lit(-1L))).as("sum_to"))
      .orderBy(col("is_current"))
  }

  val q130Sql: String =
    s"""WITH dim0 AS (SELECT c_custkey, c_mktsegment, c_nationkey,
       |    CAST(0 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to,
       |    TRUE AS is_current FROM customer),
       |b1 AS (SELECT c_custkey, c_mktsegment || '#1' AS c_mktsegment,
       |    c_nationkey FROM customer
       |  WHERE c_custkey % 3 = 0 OR c_custkey % 5 = 0),
       |${scd2StepSql("dim0", "b1", 100, "app1", "j1")},
       |dim1 AS (SELECT * FROM app1),
       |b2 AS (SELECT c_custkey, c_mktsegment || '#2' AS c_mktsegment,
       |    c_nationkey FROM customer
       |  WHERE c_custkey % 3 = 1 OR c_custkey % 5 = 0),
       |${scd2StepSql("(SELECT * FROM dim1 WHERE is_current)", "b2", 200,
          "app2", "j2")},
       |dim2 AS (SELECT * FROM dim1 WHERE NOT is_current
       |  UNION ALL SELECT * FROM app2),
       |b3 AS (SELECT c_custkey, c_mktsegment || '#3' AS c_mktsegment,
       |    c_nationkey FROM customer
       |  WHERE c_custkey % 3 = 2 OR c_custkey % 5 = 0),
       |${scd2StepSql("(SELECT * FROM dim2 WHERE is_current)", "b3", 300,
          "app3", "j3")},
       |dim3 AS (SELECT * FROM dim2 WHERE NOT is_current
       |  UNION ALL SELECT * FROM app3)
       |SELECT is_current, COUNT(*) AS n_rows,
       |  COUNT(DISTINCT c_custkey) AS n_keys,
       |  CAST(SUM(valid_from) AS BIGINT) AS sum_from,
       |  CAST(SUM(COALESCE(valid_to, -1)) AS BIGINT) AS sum_to
       |FROM dim3 GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q131
  /** TEMPORAL (point-in-time) DIMENSION JOIN — the query SCD2 history
    * exists to answer: each fact joined to the dimension VERSION valid
    * at its own event time, not today's. Because SCD2 versions
    * partition each key's timeline, "the version whose interval
    * contains t" equals "the latest valid_from ≤ t" — so the join is
    * [[graft.operators.AsOf.joinAsOf]]'s union + per-key ordered
    * window: ONE key shuffle, ZERO join operators, cost independent of
    * how many versions precede each fact (a BETWEEN range join would
    * fan out per overlapping version). Facts get deterministic times
    * spread across the version epochs (`o_orderkey % 350`); census
    * splits by which segment generation each fact saw. Oracle: the
    * shared dim2 CTEs + the correlated LIMIT 1 lookup (q69's shape).
    */
  def q131TemporalJoin(s: SparkSession, dir: String): DataFrame = {
    val dim = scd2CustomerDim(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"),
        col("valid_from"))
    val facts = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey").as("c_custkey"),
        pmod(col("o_orderkey"), lit(350L)).as("t"))
    graft.operators.AsOf.joinAsOf(facts, dim, Seq("c_custkey"),
        leftTs = "t", rightTs = "valid_from", tieCol = "valid_from",
        payload = Seq("c_mktsegment", "c_nationkey"))
      .groupBy(col("c_mktsegment").like("%#1").as("saw_v1"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("c_custkey")).as("n_custs"),
        sum(col("t")).as("sum_t"),
        sum(col("c_nationkey")).as("sum_nat"))
      .orderBy(col("saw_v1"))
  }

  val q131Sql: String =
    s"""WITH $scd2CustomerDimCtes,
       |f AS (SELECT o_orderkey, o_custkey AS c_custkey,
       |    o_orderkey % 350 AS t FROM orders),
       |m AS (SELECT f.c_custkey, f.t,
       |  (SELECT d.c_mktsegment FROM dim2 d
       |   WHERE d.c_custkey = f.c_custkey AND d.valid_from <= f.t
       |   ORDER BY d.valid_from DESC LIMIT 1) AS c_mktsegment,
       |  (SELECT d.c_nationkey FROM dim2 d
       |   WHERE d.c_custkey = f.c_custkey AND d.valid_from <= f.t
       |   ORDER BY d.valid_from DESC LIMIT 1) AS c_nationkey
       |  FROM f)
       |SELECT (c_mktsegment LIKE '%#1') AS saw_v1,
       |  COUNT(*) AS n_orders, COUNT(DISTINCT c_custkey) AS n_custs,
       |  CAST(SUM(t) AS BIGINT) AS sum_t,
       |  CAST(SUM(c_nationkey) AS BIGINT) AS sum_nat
       |FROM m GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q132
  /** EXACT-k PER-GROUP RESERVOIR — uniform without replacement,
    * deterministic, engine-portable: rank each row by its portable
    * hash (folded to 2^50 so the TopKAgg double score stays exact;
    * ties to the smaller id) and keep the k smallest per source. The
    * q53/q66 family samples by RATE (expected size); this is the
    * exact-count contract (eval sets, per-domain caps) — and it runs
    * as the bounded aggregate, so the shuffle carries ≤ k rows per
    * (group, task), never the group's row set. Oracle replays the
    * identical (hash-fold, id) ranking with a window.
    */
  def q132Reservoir(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        pmod(Dedup.portableHash60(concat(col("doc_id").cast("string"),
          lit("#rv"))), lit(1L << 50)).as("h"))
    graft.operators.TopK.topKPerGroup(d, Seq("source"),
        -col("h"), col("doc_id"), k = 100)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("id")).as("sum_ids"),
        sum((-col("score")).cast("long")).as("sum_h"))
      .orderBy(col("source"))
  }

  val q132Sql: String =
    """WITH d AS (SELECT doc_id, source,
      |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#rv'),
      |      1, 15)) AS BIGINT) % 1125899906842624 AS h
      |  FROM documents),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
      |    ORDER BY h, doc_id) AS rn FROM d)
      |SELECT source, COUNT(*) AS n_kept,
      |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
      |  CAST(SUM(h) AS BIGINT) AS sum_h
      |FROM r WHERE rn <= 100 GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q135
  /** Bigram-LM surprisal census ([[graft.text.LangModel]]): the
    * perplexity-style LM quality gate of LLM data pipelines — train a
    * bigram model on the corpus (two map-side-combined censuses),
    * score every document by its summed integer-log2 conditional cost,
    * and roll up per source with a mean-cost >= 4 novelty flag. All
    * integer arithmetic (the q111 `length(bin(a div b)) - 1` log2), so
    * raw scores hash-match; the oracle replays model training and
    * scoring in staged CTEs.
    */
  def q135LmSurprisal(s: SparkSession, dir: String): DataFrame =
    graft.text.LangModel.withBigramSurprisal(
        t(s, dir, "documents"), "text", "doc_id", Seq("source"))
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("sum_bigrams"),
        sum(col("surprisal")).as("sum_surprisal"),
        max(col("mean_cost")).as("max_mean_cost"),
        sum(when(col("mean_cost") >= 4L, 1L).otherwise(0L)).as("n_flagged"))
      .orderBy(col("source"))

  val q135Sql: String =
    """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS tk
      |  FROM documents WHERE text IS NOT NULL),
      |st AS (SELECT doc_id, source,
      |  unnest(list_transform(range(1, len(tk)), i -> tk[i])) AS w1,
      |  unnest(list_transform(range(1, len(tk)), i -> tk[i+1])) AS w2
      | FROM d),
      |b2 AS (SELECT w1, w2, COUNT(*) AS cnt2 FROM st GROUP BY w1, w2),
      |u1 AS (SELECT w1, COUNT(*) AS cnt1 FROM
      |  (SELECT unnest(tk) AS w1 FROM d) GROUP BY w1),
      |m AS (SELECT b2.w1, b2.w2,
      |  CAST(length(bin(cnt1 // cnt2)) - 1 AS BIGINT) AS cost
      |  FROM b2 JOIN u1 ON b2.w1 = u1.w1),
      |pd AS (SELECT st.doc_id, st.source, COUNT(*) AS n_bigrams,
      |  SUM(cost) AS surprisal
      |  FROM st JOIN m ON st.w1 = m.w1 AND st.w2 = m.w2
      |  GROUP BY st.doc_id, st.source),
      |fd AS (SELECT d.doc_id, d.source,
      |  COALESCE(pd.n_bigrams, 0) AS n_bigrams,
      |  COALESCE(pd.surprisal, 0) AS surprisal,
      |  CASE WHEN COALESCE(pd.n_bigrams, 0) > 0
      |    THEN pd.surprisal // pd.n_bigrams ELSE 0 END AS mean_cost
      |  FROM d LEFT JOIN pd ON d.doc_id = pd.doc_id)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_bigrams) AS BIGINT) AS sum_bigrams,
      |  CAST(SUM(surprisal) AS BIGINT) AS sum_surprisal,
      |  CAST(MAX(mean_cost) AS BIGINT) AS max_mean_cost,
      |  CAST(SUM(CASE WHEN mean_cost >= 4 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_flagged
      |FROM fd GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q136
  /** ANN recall@k evaluation ([[Ann.lshRecallCensus]]): exact top-10
    * (salted [[Ann.knnJoin]]) vs portable-LSH-bucket top-10 for a
    * 1-in-25 probe sample, overlap census + integer recall percent.
    * The eval query every index deployment runs before trusting the
    * approximate path; the oracle replays both sides with the
    * q40-proven fold cosine and the q41/q43 literal-weight bucket.
    */
  def q136AnnRecall(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    Ann.lshRecallCensus(e, "embedding", "vec_id",
      pmod(col("vec_id"), lit(25L)) === 0L, k = 10, dim = dim, numPlanes = 4)
  }

  val q136Sql: String = {
    def cos(x: String, p: String): String =
      s"""(list_aggregate(list_transform(range(1, len($x) + 1),
         |    i -> CAST($x[i] AS DOUBLE) * CAST($p[i] AS DOUBLE)), 'sum') /
         |  (sqrt(list_aggregate(list_transform(range(1, len($x) + 1),
         |    i -> CAST($x[i] AS DOUBLE) * CAST($x[i] AS DOUBLE)), 'sum')) *
         |   sqrt(list_aggregate(list_transform(range(1, len($p) + 1),
         |    i -> CAST($p[i] AS DOUBLE) * CAST($p[i] AS DOUBLE)), 'sum'))))""".stripMargin
    def proj(p: Int): String =
      s"""list_aggregate(list_transform(range(1, len(embedding) + 1),
         |    i -> CAST(embedding[i] AS DOUBLE) *
         |      ((CAST(('0x' || substring(md5('$p|' || (i - 1)), 1, 15)) AS BIGINT)
         |        % 2000 - 1000) / 1000.0)), 'sum')""".stripMargin
    val bucket = (0 until 4).map(p =>
      s"(CASE WHEN ${proj(p)} >= 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""WITH pr AS (SELECT vec_id AS pid, embedding AS pe FROM embeddings
       |  WHERE vec_id % 25 = 0),
       |sc AS (SELECT pid, e.vec_id AS nid, ${cos("e.embedding", "pe")} AS c
       |  FROM embeddings e, pr WHERE e.vec_id <> pid),
       |ex AS (SELECT pid, nid FROM (SELECT pid, nid,
       |  ROW_NUMBER() OVER (PARTITION BY pid ORDER BY c DESC, nid ASC) AS rn
       |  FROM sc) WHERE rn <= 10),
       |bk AS (SELECT vec_id, embedding, ($bucket) AS bucket FROM embeddings),
       |pbk AS (SELECT pr.pid, pr.pe, bk.bucket AS pbucket
       |  FROM pr JOIN bk ON pr.pid = bk.vec_id),
       |ac AS (SELECT pbk.pid, b.vec_id AS nid, ${cos("b.embedding", "pbk.pe")} AS c
       |  FROM pbk JOIN bk b ON b.bucket = pbk.pbucket AND b.vec_id <> pbk.pid),
       |ap AS (SELECT pid, nid FROM (SELECT pid, nid,
       |  ROW_NUMBER() OVER (PARTITION BY pid ORDER BY c DESC, nid ASC) AS rn
       |  FROM ac) WHERE rn <= 10),
       |hits AS (SELECT COUNT(*) AS n_hits
       |  FROM ex JOIN ap ON ex.pid = ap.pid AND ex.nid = ap.nid)
       |SELECT (SELECT COUNT(*) FROM pr) AS n_probes,
       |  (SELECT COUNT(*) FROM ex) AS n_exact,
       |  (SELECT COUNT(*) FROM ap) AS n_approx,
       |  (SELECT n_hits FROM hits) AS n_hits,
       |  (SELECT (100 * n_hits) // (SELECT COUNT(*) FROM ex) FROM hits)
       |    AS recall_pct""".stripMargin
  }

  // ---------------------------------------------------------------- q137
  /** Hard-negative mining ([[Ann.hardNegatives]]): for each 1-in-50
    * anchor, the positive count at cosine >= 0.5 and the top-3 most
    * similar below-threshold vectors — the contrastive-training pair
    * miner (easy random negatives don't move a model; these do). Raw
    * cosine doubles are portable via the q40-proven fold order; ties
    * break on neighbor id.
    */
  def q137HardNegatives(s: SparkSession, dir: String): DataFrame =
    Ann.hardNegatives(t(s, dir, "embeddings"), "embedding", "vec_id",
      pmod(col("vec_id"), lit(50L)) === 0L, posThreshold = 0.5, k = 3)

  val q137Sql: String = {
    def dotExpr(a: String, b: String): String =
      s"""list_aggregate(list_transform(range(1, len($a) + 1),
         |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), 'sum')""".stripMargin
    s"""WITH p AS (SELECT vec_id AS anchor_id, embedding AS pemb
       |  FROM embeddings WHERE vec_id % 50 = 0),
       |sc AS (SELECT p.anchor_id, e.vec_id AS neg_id,
       |  ${dotExpr("e.embedding", "p.pemb")} /
       |  (sqrt(${dotExpr("e.embedding", "e.embedding")}) *
       |   sqrt(${dotExpr("p.pemb", "p.pemb")})) AS cosine
       |  FROM embeddings e CROSS JOIN p WHERE e.vec_id <> p.anchor_id),
       |np AS (SELECT anchor_id, COUNT(*) AS n_pos FROM sc
       |  WHERE cosine >= 0.5 GROUP BY anchor_id),
       |r AS (SELECT anchor_id, neg_id, cosine,
       |  row_number() OVER (PARTITION BY anchor_id
       |    ORDER BY cosine DESC, neg_id ASC) AS rank
       |  FROM sc WHERE cosine < 0.5)
       |SELECT r.anchor_id, r.rank, r.neg_id, r.cosine,
       |  CAST(COALESCE(np.n_pos, 0) AS BIGINT) AS n_positives
       |FROM r LEFT JOIN np ON r.anchor_id = np.anchor_id
       |WHERE r.rank <= 3 ORDER BY r.anchor_id, r.rank""".stripMargin
  }

  // ---------------------------------------------------------------- q138
  /** Streaming drift monitor ([[StreamingOps.driftMonitorStream]]):
    * documents arrive in 3 file-batches; each micro-batch's 256-bucket
    * token histogram is chi-squared against the broadcast src0
    * reference histogram, one drift row per chunk. Terms quantize to
    * integers BEFORE the sum (order-free — raw double sums would be
    * partitioning-dependent), so the streaming output hash-matches the
    * batch SQL replay.
    */
  def q138StreamDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        pmod(col("doc_id"), lit(3L)).as("chunk"))
    val refRows = t(s, dir, "documents")
      .filter(col("text").isNotNull && col("source") === "src0")
      .select(explode(TextAnalysis.tokens(col("text"))).as("__t"))
      .select(pmod(Dedup.portableHash60(col("__t")), lit(256L)).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_ref"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val refTotal = refRows.map(_._2).sum
    val tmp = graft.tools.Scratch.tempDir("q138")
    val in = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    stageChunksTagged(docs.withColumn("__chunk", col("chunk")), 3, in)
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    // per-batch histogram shuffles at 8 (q48/q59 rule), ConfScope-forked
    val q = StreamingOps.driftMonitorStream(
        graft.operators.ConfScope.shufflePartitions(stream, 8),
        "text", "chunk", refRows, refTotal) { (out, _) =>
      out.collect().foreach(r =>
        buf += ((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))))
    }
    try q.processAllAvailable() finally q.stop()
    import s.implicits._
    buf.sortBy(_._1).toSeq
      .toDF("chunk", "n_tokens", "n_buckets", "drift_q")
  }

  val q138Sql: String =
    """WITH d AS (SELECT doc_id % 3 AS chunk, string_split(text, ' ') AS tk
      |  FROM documents WHERE text IS NOT NULL),
      |tok AS (SELECT chunk, unnest(tk) AS token FROM d),
      |bk AS (SELECT chunk,
      |  CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) % 256 AS bucket
      |  FROM tok),
      |hist AS (SELECT chunk, bucket, COUNT(*) AS n_b FROM bk
      |  GROUP BY chunk, bucket),
      |ct AS (SELECT chunk, SUM(n_b) AS tb, COUNT(*) AS n_buckets FROM hist
      |  GROUP BY chunk),
      |rtok AS (SELECT unnest(string_split(text, ' ')) AS token
      |  FROM documents WHERE text IS NOT NULL AND source = 'src0'),
      |ref AS (SELECT
      |  CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) % 256 AS bucket,
      |  COUNT(*) AS n_ref FROM rtok GROUP BY bucket),
      |rt AS (SELECT SUM(n_ref) AS ta FROM ref),
      |grid AS (SELECT ct.chunk, ct.tb, gs.bucket FROM ct
      |  CROSS JOIN (SELECT unnest(range(0, 256)) AS bucket) gs),
      |j AS (SELECT g.chunk, g.tb, g.bucket,
      |  COALESCE(ref.n_ref, 0) AS n_ref, COALESCE(h.n_b, 0) AS n_b
      |  FROM grid g LEFT JOIN ref ON ref.bucket = g.bucket
      |  LEFT JOIN hist h ON h.chunk = g.chunk AND h.bucket = g.bucket),
      |terms AS (SELECT chunk, tb,
      |  CASE WHEN n_ref + n_b = 0 THEN 0 ELSE CAST(FLOOR(
      |    CAST((n_ref * tb - n_b * ta) * (n_ref * tb - n_b * ta) AS DOUBLE)
      |    / CAST((n_ref + n_b) * ta * tb AS DOUBLE) * 1000000) AS BIGINT)
      |  END AS tq
      |  FROM j, rt)
      |SELECT ct.chunk, CAST(ct.tb AS BIGINT) AS n_tokens,
      |  CAST(ct.n_buckets AS BIGINT) AS n_buckets,
      |  CAST(s.drift_q AS BIGINT) AS drift_q
      |FROM ct JOIN (SELECT chunk, SUM(tq) AS drift_q FROM terms
      |  GROUP BY chunk) s ON s.chunk = ct.chunk
      |ORDER BY ct.chunk""".stripMargin

  // ---------------------------------------------------------------- q139
  /** Product-quantization ANN ([[graft.similarity.Pq]]): 2 subspaces
    * x 4-centroid fixed-point codebooks (2 Lloyd iterations each),
    * scan-local encoding, ADC top-40 shortlist for probe vec 0, exact
    * integer rerank to top-10. EVERYTHING — training, codes, LUTs,
    * ADC sums, rerank — is integer arithmetic, so the oracle replays
    * the complete pipeline (both subspace trainings included) and
    * hash-matches bit-for-bit; no other PQ implementation clears that
    * bar. Scale: the query scans the m-long codes, not the embeddings.
    */
  def q139PqAnn(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val probe = e.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val model = graft.similarity.Pq.train(e, "vec_id", "embedding",
      dim = 64, m = 2, k = 4, iters = 2)
    val encoded = graft.similarity.Pq.encode(e, "embedding", model)
    graft.similarity.Pq.adcTopK(encoded, "embedding", "vec_id", model,
      probe, k = 10, overfetch = 4, excludeId = Some(0L))
  }

  // Shared PQ oracle fragments (q139 / q150): integer distance, one
  // fixed-point Lloyd step, and a full subspace (train → code → LUT).
  private def pqIntDist(a: String, b: String): String =
    s"""list_aggregate(list_transform(range(1, len($a) + 1),
       |    i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), 'sum')""".stripMargin

  // one fixed-point Lloyd step for subspace s: assignment under
  // c{it-1}s{s}, floored-mean update → c{it}s{s} (the q124 replay)
  private def pqStep(it: Int, s: Int, prev: String): String =
    s"""d${it}s$s AS (SELECT q.vec_id, q.qv, c.cid,
       |  ${pqIntDist("q.qv", "c.cv")} AS dist
       |  FROM qs$s q, $prev c),
       |a${it}s$s AS (SELECT vec_id, qv, cid FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY dist, cid) AS rn FROM d${it}s$s) WHERE rn = 1),
       |u${it}s$s AS (SELECT cid, UNNEST(range(1, len(qv) + 1)) AS i,
       |    UNNEST(qv) AS x FROM a${it}s$s),
       |m${it}s$s AS (SELECT cid, i, SUM(x) AS sv, COUNT(*) AS n
       |  FROM u${it}s$s GROUP BY cid, i),
       |n${it}s$s AS (SELECT cid, list(CAST((sv - ((sv % n) + n) % n) // n
       |    AS BIGINT) ORDER BY i) AS cv
       |  FROM m${it}s$s GROUP BY cid),
       |c${it}s$s AS (SELECT p.cid, COALESCE(m.cv, p.cv) AS cv
       |  FROM $prev p LEFT JOIN n${it}s$s m ON p.cid = m.cid)""".stripMargin

  // train (2 Lloyd steps) + encode one subspace: qs{s}, c2s{s}, code{s}
  private def pqTrainEncode(s: Int, lo: Int, hi: Int): String =
    s"""qs$s AS (SELECT vec_id, qv[$lo:$hi] AS qv FROM q),
       |c0s$s AS (SELECT vec_id AS cid, qv AS cv FROM qs$s
       |  ORDER BY vec_id LIMIT 4),
       |${pqStep(1, s, s"c0s$s")},
       |${pqStep(2, s, s"c1s$s")},
       |code$s AS (SELECT vec_id, cid AS code FROM (
       |  SELECT q.vec_id, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${pqIntDist("q.qv", "c.cv")}, c.cid) AS rn
       |  FROM qs$s q, c2s$s c) WHERE rn = 1)""".stripMargin

  val q139Sql: String = {
    def intDist(a: String, b: String): String = pqIntDist(a, b)
    def subspace(s: Int, lo: Int, hi: Int): String =
      s"""${pqTrainEncode(s, lo, hi)},
         |lut$s AS (SELECT c.cid, ${intDist("p.qv", "c.cv")} AS d
         |  FROM c2s$s c, (SELECT qv FROM qs$s WHERE vec_id = 0) p),
         |adc$s AS (SELECT code$s.vec_id, lut$s.d
         |  FROM code$s JOIN lut$s ON code$s.code = lut$s.cid)""".stripMargin
    s"""WITH q AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 4096) AS BIGINT)) AS qv
       |  FROM embeddings),
       |${subspace(0, 1, 32)},
       |${subspace(1, 33, 64)},
       |adc AS (SELECT a0.vec_id, a0.d + a1.d AS adc_q
       |  FROM adc0 a0 JOIN adc1 a1 ON a0.vec_id = a1.vec_id),
       |short AS (SELECT vec_id, adc_q FROM adc WHERE vec_id <> 0
       |  ORDER BY adc_q, vec_id LIMIT 40),
       |rer AS (SELECT s.vec_id, s.adc_q, ${intDist("q.qv", "pq.qv")} AS dist_q
       |  FROM short s JOIN q ON q.vec_id = s.vec_id,
       |    (SELECT qv FROM q WHERE vec_id = 0) pq)
       |SELECT vec_id, CAST(adc_q AS BIGINT) AS adc_q,
       |  CAST(dist_q AS BIGINT) AS dist_q
       |FROM rer ORDER BY dist_q, vec_id LIMIT 10""".stripMargin
  }

  // ---------------------------------------------------------------- q140
  /** Dataset card: the release-notes statistics table a training-data
    * drop ships with — GROUPING SETS over (source, lang) rolling up
    * doc counts, token totals/means, quality-gate pass rate, canonical
    * duplicate share, and PII incidence in ONE job. Every fragment is a
    * previously-proven portable form (q34 token counts, q108 canonical
    * key, q52 PII counts, q119 grouping sets); the only shuffles are
    * the narrow canonical-key census + join-back and the Expand
    * aggregation — no row ever carries text past its scan.
    */
  def q140DatasetCard(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("text").isNotNull)
      .withColumn("nt", size(TextAnalysis.tokens(col("text"))))
      .withColumn("ck", md5(TextAnalysis.canonicalize(col("text"))))
      .withColumn("n_pii",
        regexp_count(col("text"), lit(TextAnalysis.emailPattern))
          + regexp_count(col("text"), lit(TextAnalysis.ipv4Pattern))
          + regexp_count(col("text"), lit(TextAnalysis.phonePattern)))
    val dup = d.groupBy(col("ck")).agg(count(lit(1)).as("n_ck"))
    d.select(col("source"), col("lang"), col("nt"), col("ck"), col("n_pii"))
      .join(dup, Seq("ck"))
      .groupingSets(
        Seq(Seq(col("source"), col("lang")), Seq(col("source")),
          Seq(col("lang")), Seq.empty),
        col("source"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("sum_tokens"),
        sum(when(col("nt") >= 8, 1L).otherwise(0L)).as("n_gate_pass"),
        sum(when(col("n_ck") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(when(col("n_pii") > 0, 1L).otherwise(0L)).as("n_pii_docs"))
      .select(coalesce(col("source"), lit("ALL")).as("source"),
        coalesce(col("lang"), lit("ALL")).as("lang"),
        col("n_docs"), col("sum_tokens"),
        expr("sum_tokens div n_docs").as("mean_tokens"),
        col("n_gate_pass"), col("n_dup_docs"), col("n_pii_docs"))
      .orderBy(col("source"), col("lang"))
  }

  val q140Sql: String = {
    def cnt(p: String): String = s"len(regexp_extract_all(text, '$p'))"
    s"""WITH c AS (SELECT source, lang,
       |  len(string_split(text, ' ')) AS nt,
       |  md5(trim(regexp_replace(regexp_replace(lower(text),
       |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS ck,
       |  ${cnt(TextAnalysis.emailPattern)}
       |    + ${cnt(TextAnalysis.ipv4Pattern)}
       |    + ${cnt(TextAnalysis.phonePattern)} AS n_pii
       |  FROM documents WHERE text IS NOT NULL),
       |g AS (SELECT ck, COUNT(*) AS n_ck FROM c GROUP BY ck),
       |j AS (SELECT c.*, g.n_ck FROM c JOIN g ON c.ck = g.ck)
       |SELECT COALESCE(source, 'ALL') AS source,
       |  COALESCE(lang, 'ALL') AS lang,
       |  COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS sum_tokens,
       |  CAST(SUM(nt) // COUNT(*) AS BIGINT) AS mean_tokens,
       |  CAST(SUM(CASE WHEN nt >= 8 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_gate_pass,
       |  CAST(SUM(CASE WHEN n_ck > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dup_docs,
       |  CAST(SUM(CASE WHEN n_pii > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_pii_docs
       |FROM j GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())
       |ORDER BY source, lang""".stripMargin
  }

  // ---------------------------------------------------------------- q141
  /** Exact-total stratified sampling by largest-remainder apportionment
    * ([[graft.operators.Sampling.quotaSample]]): exactly 137 documents,
    * proportionally apportioned over sources with Hamilton bonus seats,
    * rows picked per stratum by the q132 (hash, id) reservoir rule.
    * The census checks the full kept set (ids summed) and the quota
    * arithmetic; the oracle replays apportionment + ranking in SQL.
    */
  def q141QuotaSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.quotaSample(
        t(s, dir, "documents"), "source", "doc_id", totalK = 137)
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_kept"),
        max(col("quota")).as("quota"),
        sum(col("doc_id")).as("sum_ids"))
      .orderBy(col("source"))

  val q141Sql: String =
    """WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
      |t AS (SELECT SUM(n) AS nt, CAST(137 AS BIGINT) AS k FROM c),
      |b AS (SELECT source, n, (n * k) // nt AS q0, (n * k) % nt AS rem
      |  FROM c, t),
      |e AS (SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC)
      |    AS rr FROM b),
      |q AS (SELECT source, n,
      |  least(q0 + CASE WHEN rr <= (SELECT k FROM t)
      |      - (SELECT SUM(q0) FROM b) THEN 1 ELSE 0 END, n) AS quota
      |  FROM e),
      |h AS (SELECT source, doc_id,
      |  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#42'),
      |    1, 15)) AS BIGINT) % 1125899906842624 AS hv
      |  FROM documents),
      |r AS (SELECT source, doc_id, ROW_NUMBER() OVER (
      |    PARTITION BY source ORDER BY hv, doc_id) AS rn FROM h),
      |kept AS (SELECT r.source, r.doc_id FROM r
      |  JOIN q ON r.source = q.source WHERE r.rn <= q.quota)
      |SELECT q.source, CAST(COUNT(kept.doc_id) AS BIGINT) AS n_kept,
      |  CAST(q.quota AS BIGINT) AS quota,
      |  CAST(COALESCE(SUM(kept.doc_id), 0) AS BIGINT) AS sum_ids
      |FROM q JOIN kept ON kept.source = q.source
      |GROUP BY q.source, q.quota ORDER BY q.source""".stripMargin

  // ---------------------------------------------------------------- q142
  /** Streaming incremental stats maintenance
    * ([[StreamingOps.incrementalStatsStream]]): a per-source monoid
    * stats table (docs / tokens / PII-doc counts) merged across 3
    * document micro-batches — the corpus dashboard's materialized view,
    * maintained without re-scanning history. The oracle is the
    * ONE-SHOT census over all documents: incremental ≡ batch is
    * exactly the property the operator must hold.
    */
  def q142StreamStats(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"), col("source"))
    val tmp = graft.tools.Scratch.tempDir("q142")
    val in = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    stageChunksTagged(
      docs.withColumn("__chunk", pmod(col("doc_id"), lit(3))), 3, in)
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val table = s"$tmp/table"
    val nPii = regexp_count(col("text"), lit(TextAnalysis.emailPattern)) +
      regexp_count(col("text"), lit(TextAnalysis.ipv4Pattern)) +
      regexp_count(col("text"), lit(TextAnalysis.phonePattern))
    // per-batch census shuffles at 8 (q48/q59 rule), ConfScope-forked
    val q = StreamingOps.incrementalStatsStream(
      graft.operators.ConfScope.shufflePartitions(stream, 8), "source", Seq(
        "n_docs" -> count(lit(1)),
        "sum_tokens" -> sum(size(TextAnalysis.tokens(col("text"))).cast("long")),
        "n_pii_docs" -> sum(when(nPii > 0, 1L).otherwise(0L))), table)()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(table).orderBy(col("source"))
  }

  val q142Sql: String = {
    def cnt(p: String): String = s"len(regexp_extract_all(text, '$p'))"
    s"""SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
       |  CAST(SUM(CASE WHEN ${cnt(TextAnalysis.emailPattern)}
       |      + ${cnt(TextAnalysis.ipv4Pattern)}
       |      + ${cnt(TextAnalysis.phonePattern)} > 0 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_pii_docs
       |FROM documents WHERE text IS NOT NULL
       |GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- q143
  /** Per-type OLS trend ([[graft.operators.Regression.trendCensus]]):
    * value-cents regressed on event-hour per event_type — exact BIGINT
    * moments in one census, slope from the closed form in
    * deterministic double, quantized. The "is this metric drifting per
    * segment" analytics query as a single map-side-combined pass.
    */
  def q143TrendOls(s: SparkSession, dir: String): DataFrame =
    graft.operators.Regression.trendCensus(
        Tables.load(s, dir, "events"), Seq("event_type"),
        expr("unix_micros(ts) div 3600000000"),
        floor(col("value") * 100))
      .orderBy(col("event_type"))

  val q143Sql: String =
    """WITH e AS (SELECT event_type,
      |  epoch_ns(ts) // 1000 // 3600000000 AS x,
      |  CAST(FLOOR(value * 100) AS BIGINT) AS y FROM events),
      |g AS (SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(x) AS BIGINT) AS sum_x, CAST(SUM(y) AS BIGINT) AS sum_y,
      |  CAST(SUM(x * y) AS BIGINT) AS sum_xy,
      |  CAST(SUM(x * x) AS BIGINT) AS sum_xx
      |  FROM e GROUP BY event_type)
      |SELECT event_type, n, sum_x, sum_y, sum_xy, sum_xx,
      |  CASE WHEN CAST(n AS DOUBLE) * CAST(sum_xx AS DOUBLE)
      |      - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE) = 0 THEN NULL
      |    ELSE CAST(FLOOR((CAST(n AS DOUBLE) * CAST(sum_xy AS DOUBLE)
      |        - CAST(sum_x AS DOUBLE) * CAST(sum_y AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * CAST(sum_xx AS DOUBLE)
      |        - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE))
      |      * 1000000.0) AS BIGINT) END AS slope_q
      |FROM g ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q144
  /** Multi-probe LSH recall curve ([[Ann.lshRecallCurve]]): q136's
    * recall census swept over probe widths 0/1/2 hyperplane flips in
    * one pass — the recall-vs-cost operating-point table. Level sets
    * nest by construction, so recall is monotone in probe width (the
    * spec pins it); the oracle enumerates the same XOR masks.
    */
  def q144RecallCurve(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    Ann.lshRecallCurve(e, "embedding", "vec_id",
      pmod(col("vec_id"), lit(25L)) === 0L, k = 10, dim = dim,
      numPlanes = 4, maxProbeBits = 2)
  }

  val q144Sql: String = {
    def cos(x: String, p: String): String =
      s"""(list_aggregate(list_transform(range(1, len($x) + 1),
         |    i -> CAST($x[i] AS DOUBLE) * CAST($p[i] AS DOUBLE)), 'sum') /
         |  (sqrt(list_aggregate(list_transform(range(1, len($x) + 1),
         |    i -> CAST($x[i] AS DOUBLE) * CAST($x[i] AS DOUBLE)), 'sum')) *
         |   sqrt(list_aggregate(list_transform(range(1, len($p) + 1),
         |    i -> CAST($p[i] AS DOUBLE) * CAST($p[i] AS DOUBLE)), 'sum'))))""".stripMargin
    def proj(p: Int): String =
      s"""list_aggregate(list_transform(range(1, len(embedding) + 1),
         |    i -> CAST(embedding[i] AS DOUBLE) *
         |      ((CAST(('0x' || substring(md5('$p|' || (i - 1)), 1, 15)) AS BIGINT)
         |        % 2000 - 1000) / 1000.0)), 'sum')""".stripMargin
    val bucket = (0 until 4).map(p =>
      s"(CASE WHEN ${proj(p)} >= 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    val masks = Seq((0, 0), (1, 1), (2, 1), (4, 1), (8, 1),
      (3, 2), (5, 2), (6, 2), (9, 2), (10, 2), (12, 2))
      .map { case (m, d) => s"($m, $d)" }.mkString(", ")
    s"""WITH pr AS (SELECT vec_id AS pid, embedding AS pe FROM embeddings
       |  WHERE vec_id % 25 = 0),
       |sc AS (SELECT pid, e.vec_id AS nid, ${cos("e.embedding", "pe")} AS c
       |  FROM embeddings e, pr WHERE e.vec_id <> pid),
       |ex AS (SELECT pid, nid FROM (SELECT pid, nid,
       |  ROW_NUMBER() OVER (PARTITION BY pid ORDER BY c DESC, nid ASC) AS rn
       |  FROM sc) WHERE rn <= 10),
       |bk AS (SELECT vec_id, embedding, ($bucket) AS bucket FROM embeddings),
       |pbk AS (SELECT pr.pid, pr.pe, bk.bucket AS pbucket
       |  FROM pr JOIN bk ON pr.pid = bk.vec_id),
       |mk AS (SELECT * FROM (VALUES $masks) AS t(mask, hd)),
       |cand AS (SELECT pbk.pid, b.vec_id AS nid,
       |  ${cos("b.embedding", "pbk.pe")} AS c, mk.hd
       |  FROM pbk CROSS JOIN mk
       |  JOIN bk b ON b.bucket = xor(pbk.pbucket, CAST(mk.mask AS BIGINT))
       |  WHERE b.vec_id <> pbk.pid),
       |lv AS (SELECT cand.pid, cand.nid, cand.c, gs.l FROM cand
       |  JOIN (VALUES (0), (1), (2)) AS gs(l) ON gs.l >= cand.hd),
       |ap AS (SELECT l, pid, nid FROM (SELECT l, pid, nid,
       |  ROW_NUMBER() OVER (PARTITION BY l, pid ORDER BY c DESC, nid ASC)
       |    AS rn FROM lv) WHERE rn <= 10),
       |hits AS (SELECT l, COUNT(*) AS n_hits FROM ap
       |  JOIN ex ON ap.pid = ex.pid AND ap.nid = ex.nid GROUP BY l),
       |na AS (SELECT l, COUNT(*) AS n_approx FROM ap GROUP BY l)
       |SELECT na.l AS probe_bits,
       |  (SELECT COUNT(*) FROM pr) AS n_probes,
       |  (SELECT COUNT(*) FROM ex) AS n_exact,
       |  na.n_approx, COALESCE(hits.n_hits, 0) AS n_hits,
       |  (100 * COALESCE(hits.n_hits, 0)) // (SELECT COUNT(*) FROM ex)
       |    AS recall_pct
       |FROM na LEFT JOIN hits ON na.l = hits.l ORDER BY na.l""".stripMargin
  }

  // ---------------------------------------------------------------- q145
  /** Multi-touch attribution (position-based / U-shaped): credit each
    * converting user's pre-conversion touches in integer BASIS POINTS
    * — 40% first touch, 40% last, 20% split across middles with floor
    * division and the remainder to the EARLIEST middles (so every
    * journey's credit sums to exactly 10000, the spec invariant;
    * 2-touch journeys degenerate to 50/50 = 5000 each).
    * One user-keyed shuffle: first-conversion argmin, touch ranking,
    * credit arithmetic are all windows over that partitioning.
    */
  def q145Attribution(s: SparkSession, dir: String): DataFrame =
    graft.operators.Attribution.uShapedCredit(
        Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            expr("unix_micros(ts)").as("us")),
        "user_id", "event_id", "event_type", "us")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("credit_bp")).as("credit_bp"))
      .orderBy(col("event_type"))

  val q145Sql: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |  epoch_ns(ts) // 1000 AS us FROM events),
      |cv AS (SELECT user_id, us AS c_us, event_id AS c_id FROM (
      |  SELECT user_id, us, event_id, ROW_NUMBER() OVER (
      |    PARTITION BY user_id ORDER BY us, event_id) AS rn
      |  FROM e WHERE event_type = 'purchase') WHERE rn = 1),
      |t AS (SELECT e.user_id, e.event_id, e.event_type, e.us FROM e
      |  JOIN cv ON e.user_id = cv.user_id
      |  WHERE e.event_type <> 'purchase' AND (e.us < cv.c_us
      |    OR (e.us = cv.c_us AND e.event_id < cv.c_id))),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |    ORDER BY us, event_id) AS r,
      |  COUNT(*) OVER (PARTITION BY user_id) AS n FROM t),
      |cr AS (SELECT event_type, user_id, CASE WHEN n = 1 THEN 10000
      |  WHEN n = 2 THEN 5000
      |  WHEN r = 1 OR r = n THEN 4000
      |  ELSE 2000 // (n - 2)
      |    + CASE WHEN r - 2 < 2000 % (n - 2) THEN 1 ELSE 0 END
      |  END AS credit_bp FROM r)
      |SELECT event_type, COUNT(*) AS n_touches,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  CAST(SUM(credit_bp) AS BIGINT) AS credit_bp
      |FROM cr GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q146
  /** Event-transition (Markov) census: per-user next-event pairs via
    * one lead window, counted per (src, dst) with integer mean gap —
    * the behavioral transition matrix behind journey analytics. One
    * user-keyed shuffle, one census shuffle.
    */
  def q146Transitions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    ev.withColumn("nxt_type", lead(col("event_type"), 1).over(w))
      .withColumn("nxt_us", lead(col("us"), 1).over(w))
      .filter(col("nxt_type").isNotNull)
      .select(col("event_type").as("src"), col("nxt_type").as("dst"),
        expr("(nxt_us div 1000000) - (us div 1000000)").as("gap_s"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n"), sum(col("gap_s")).as("sum_gap_s"))
      .withColumn("mean_gap_s", expr("sum_gap_s div n"))
      .orderBy(col("src"), col("dst"))
  }

  val q146Sql: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |  epoch_ns(ts) // 1000 AS us FROM events),
      |w AS (SELECT event_type AS src,
      |  LEAD(event_type) OVER (PARTITION BY user_id
      |    ORDER BY us, event_id) AS dst,
      |  LEAD(us) OVER (PARTITION BY user_id
      |    ORDER BY us, event_id) AS nxt_us, us FROM e),
      |p AS (SELECT src, dst,
      |  (nxt_us // 1000000) - (us // 1000000) AS gap_s
      |  FROM w WHERE dst IS NOT NULL)
      |SELECT src, dst, COUNT(*) AS n,
      |  CAST(SUM(gap_s) AS BIGINT) AS sum_gap_s,
      |  CAST(SUM(gap_s) // COUNT(*) AS BIGINT) AS mean_gap_s
      |FROM p GROUP BY src, dst ORDER BY src, dst""".stripMargin

  // ---------------------------------------------------------------- q147
  /** Stream-stream LEFT OUTER interval join
    * ([[StreamingOps.intervalJoinOuter]]): purchases with their
    * lookback clicks, purchases with NO click emitting null on
    * watermark expiry — the shape the inner q59 silently drops. The
    * census cuts at max_ts − 2h (comfortably inside the 1h watermark)
    * so it never depends on eviction edge semantics; the oracle
    * replays the batch left join under the same cutoff.
    */
  def q147StreamOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val maxUs = Tables.load(s, dir, "events")
      .agg(max(expr("unix_micros(ts)"))).head().getLong(0)
    val ev = StreamingOps.eventsStream(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"), col("event_id").as("c_id"))
    val joined = StreamingOps.intervalJoinOuter(purchases, clicks,
      "user_id", "p_ts", "c_ts", lookback = "30 minutes")
    // state-store sizing (q48/q59 rule), ConfScope-forked
    val result = StreamingOps.runToCompletionAppend(
      graft.operators.ConfScope.shufflePartitions(joined, 8),
      s"stream_oj_${dir.hashCode.abs}")
    result.filter(expr("unix_micros(p_ts)") < maxUs - 7200000000L)
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("c_id").isNotNull, 1L).otherwise(0L)).as("n_matched_pairs"),
        sum(when(col("c_id").isNull, 1L).otherwise(0L)).as("n_unmatched"),
        countDistinct(when(col("c_id").isNotNull, col("p_id")))
          .as("n_purchases_matched"),
        coalesce(sum(expr("(unix_micros(p_ts) div 1000000)" +
          " - (unix_micros(c_ts) div 1000000)")), lit(0L)).as("sum_lag_sec"))
  }

  val q147Sql: String =
    """WITH mx AS (SELECT MAX(epoch_ns(ts) // 1000) AS m FROM events),
      |p AS (SELECT event_id AS p_id, user_id, epoch_ns(ts) // 1000 AS p_us
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT event_id AS c_id, user_id, epoch_ns(ts) // 1000 AS c_us
      |  FROM events WHERE event_type = 'click'),
      |j AS (SELECT p.p_id, p.p_us, c.c_id, c.c_us FROM p
      |  LEFT JOIN c ON p.user_id = c.user_id
      |    AND c.c_us >= p.p_us - 1800000000 AND c.c_us <= p.p_us),
      |f AS (SELECT * FROM j, mx WHERE p_us < m - 7200000000)
      |SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN c_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
      |    AS n_matched_pairs,
      |  CAST(SUM(CASE WHEN c_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_unmatched,
      |  COUNT(DISTINCT CASE WHEN c_id IS NOT NULL THEN p_id END)
      |    AS n_purchases_matched,
      |  CAST(COALESCE(SUM((p_us // 1000000) - (c_us // 1000000)), 0)
      |    AS BIGINT) AS sum_lag_sec
      |FROM f""".stripMargin

  // ---------------------------------------------------------------- q148
  /** Phrase search served FROM the positional index
    * ([[graft.text.Search.phraseViaIndex]]): postings of the phrase
    * terms joined on the document with shifted-position intersection —
    * the serving path that reads only two terms' postings instead of
    * scanning the corpus. The oracle is the CORPUS-SCAN formulation
    * (q88's gram census): two different algorithms, one truth.
    */
  def q148PhraseViaIndex(s: SparkSession, dir: String): DataFrame = {
    val idx = graft.text.Search.positionalIndex(
      t(s, dir, "documents"), "text", "doc_id")
    graft.text.Search.phraseViaIndex(idx, "doc_id",
      phrase = Seq("value", "fast"), k = 15)
  }

  val q148Sql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk
      |  FROM documents WHERE text IS NOT NULL),
      |g AS (SELECT doc_id,
      |    array_to_string(list_slice(tk, pos, pos + 1), ' ') AS gram
      |  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS pos
      |        FROM d WHERE len(tk) >= 2))
      |SELECT doc_id, COUNT(*) AS occurrences
      |FROM g WHERE gram = 'value fast'
      |GROUP BY doc_id ORDER BY occurrences DESC, doc_id LIMIT 15""".stripMargin

  // ---------------------------------------------------------------- q149
  /** Apriori frequent token pairs ([[graft.text.Itemsets]]): pairs
    * co-occurring in >= 20% of documents, pruned to frequent unigrams
    * before the per-document quadratic step (anti-monotonicity), top-20
    * by (support desc, pair asc). The oracle replays the census,
    * pruning, and nested pair generation.
    */
  def q149FrequentPairs(s: SparkSession, dir: String): DataFrame =
    graft.text.Itemsets.frequentPairs(t(s, dir, "documents"),
      "text", "doc_id", minSupFrac = 0.2, k = 20)

  val q149Sql: String =
    """WITH d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk
      |  FROM documents WHERE text IS NOT NULL),
      |ms AS (SELECT CAST(CEIL(0.2 * COUNT(*)) AS BIGINT) AS minsup FROM d),
      |u AS (SELECT tok, COUNT(*) AS df FROM
      |  (SELECT doc_id, unnest(tk) AS tok FROM d) GROUP BY tok),
      |f AS (SELECT list(tok ORDER BY tok) AS fts FROM u, ms
      |  WHERE df >= minsup),
      |pt AS (SELECT doc_id, list_sort(list_intersect(tk, fts)) AS ft
      |  FROM d, f),
      |pairs AS (SELECT unnest(flatten(list_transform(
      |    range(1, len(ft) + 1), i -> list_transform(
      |      range(i + 1, len(ft) + 1), j -> ft[i] || '|' || ft[j]))))
      |    AS pair FROM pt),
      |pc AS (SELECT pair, COUNT(*) AS n FROM pairs GROUP BY pair)
      |SELECT pair, n FROM pc, ms WHERE n >= minsup
      |ORDER BY n DESC, pair ASC LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q150
  /** Streaming ANN-index maintenance: PQ codebooks trained once
    * (frozen literals), then embeddings STREAM through the scan-local
    * [[graft.similarity.Pq.encode]] projection into an append-only
    * codes table — the "index stays fresh while the corpus ingests"
    * path, exactly-once via the checkpointed parquet sink, no
    * foreachBatch and no state store (encoding is stateless). Census:
    * the (code_0, code_1) cell histogram; the oracle replays training
    * + encoding over the full table (incremental ≡ batch again).
    */
  def q150StreamIndexMaint(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val model = graft.similarity.Pq.train(e, "vec_id", "embedding",
      dim = 64, m = 2, k = 4, iters = 2)
    val tmp = graft.tools.Scratch.tempDir("q150")
    val in = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    stageChunksTagged(
      e.withColumn("__chunk", pmod(col("vec_id"), lit(3))), 3, in)
    val stream = s.readStream.schema(e.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val enc = graft.similarity.Pq.encode(stream, "embedding", model)
      .select(col("vec_id"), col("code_0"), col("code_1"))
    val codes = StreamingOps.runToParquet(enc, s"$tmp/codes", s"$tmp/ckpt")
    codes.groupBy(col("code_0"), col("code_1"))
      .agg(count(lit(1)).as("n"), min(col("vec_id")).as("min_vec"))
      .orderBy(col("code_0"), col("code_1"))
  }

  val q150Sql: String =
    s"""WITH q AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 4096) AS BIGINT)) AS qv
       |  FROM embeddings),
       |${pqTrainEncode(0, 1, 32)},
       |${pqTrainEncode(1, 33, 64)},
       |j AS (SELECT c0.vec_id, c0.code AS code_0, c1.code AS code_1
       |  FROM code0 c0 JOIN code1 c1 ON c0.vec_id = c1.vec_id)
       |SELECT code_0, code_1, COUNT(*) AS n, MIN(vec_id) AS min_vec
       |FROM j GROUP BY code_0, code_1 ORDER BY code_0, code_1""".stripMargin

  // ---------------------------------------------------------------- q151
  /** Contrastive POSITIVES — the other half of q137's miner: embedding
    * near-dup pairs (q43's portable-LSH blocking + cosine >= 0.4
    * verify) closed into components ([[graft.dedup.Components]]), then
    * each cluster emits star pairs (min-id anchor, member) — the
    * positive training pairs a paraphrase/near-dup cluster yields.
    * Oracle: q43's pair replay + q68's recursive closure.
    */
  def q151ContrastivePositives(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    val b = e.select(col("vec_id"), col("embedding"),
      graft.functions.VecMath.norm(col("embedding")).as("__n"),
      Ann.lshBucketPortable(col("embedding"), dim, numPlanes = 4).as("bucket"))
      .cache()
    val a1 = b.select(col("bucket"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("__n").as("__na"))
    val b1 = b.select(col("bucket").as("bucket_b"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), col("__n").as("__nb"))
    val edges = a1.join(b1,
        col("bucket") === col("bucket_b") && col("id_a") < col("id_b"))
      .filter(graft.functions.VecMath.cosinePre(
        col("emb_a"), col("emb_b"), col("__na") * col("__nb")) >= 0.4)
      .select(col("id_a"), col("id_b"))
    // edge-sized closure shuffles (q68 rule), ConfScope-forked
    val mapping =
      try graft.dedup.Components.connectedComponents(
        graft.operators.ConfScope.shufflePartitions(edges, 8))
      finally b.unpersist()
    mapping.filter(col("id") =!= col("rep"))
      .select(col("rep").as("anchor_id"), col("id").as("pos_id"))
      .orderBy(col("anchor_id"), col("pos_id"))
  }

  val q151Sql: String = {
    def cos(x: String, p: String): String =
      s"""(list_aggregate(list_transform(range(1, len($x) + 1),
         |    i -> CAST($x[i] AS DOUBLE) * CAST($p[i] AS DOUBLE)), 'sum') /
         |  (sqrt(list_aggregate(list_transform(range(1, len($x) + 1),
         |    i -> CAST($x[i] AS DOUBLE) * CAST($x[i] AS DOUBLE)), 'sum')) *
         |   sqrt(list_aggregate(list_transform(range(1, len($p) + 1),
         |    i -> CAST($p[i] AS DOUBLE) * CAST($p[i] AS DOUBLE)), 'sum'))))""".stripMargin
    def proj(p: Int): String =
      s"""list_aggregate(list_transform(range(1, len(embedding) + 1),
         |    i -> CAST(embedding[i] AS DOUBLE) *
         |      ((CAST(('0x' || substring(md5('$p|' || (i - 1)), 1, 15)) AS BIGINT)
         |        % 2000 - 1000) / 1000.0)), 'sum')""".stripMargin
    val bucket = (0 until 4).map(p =>
      s"(CASE WHEN ${proj(p)} >= 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""WITH RECURSIVE bk AS (SELECT vec_id, embedding, ($bucket) AS bucket
       |  FROM embeddings),
       |ver AS (SELECT a.vec_id AS ia, b.vec_id AS ib
       |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  WHERE ${cos("a.embedding", "b.embedding")} >= 0.4),
       |sym AS (SELECT ia AS a, ib AS b FROM ver
       |  UNION SELECT ib AS a, ia AS b FROM ver),
       |reach(a, b) AS (SELECT a, b FROM sym
       |  UNION SELECT r.a, s2.b FROM reach r JOIN sym s2 ON r.b = s2.a),
       |rp AS (SELECT a AS vec_id, LEAST(a, MIN(b)) AS rep
       |  FROM reach GROUP BY a)
       |SELECT rep AS anchor_id, vec_id AS pos_id FROM rp
       |WHERE vec_id <> rep ORDER BY anchor_id, pos_id""".stripMargin
  }

  // ---------------------------------------------------------------- q152
  /** ORC round-trip: documents written as ORC and read back through a
    * filtered census — the other columnar format Spark ships in-box
    * (ORC scans support predicate pushdown and column pruning exactly
    * like parquet; the plan pin asserts the filter reaches the ORC
    * scan). Oracle: the same census over the parquet source — format
    * round-trips must be value-neutral.
    */
  def q152OrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.tools.Scratch.tempDir("q152")
    t(s, dir, "documents").write.mode("overwrite").orc(s"$tmp/docs")
    s.read.orc(s"$tmp/docs")
      .filter(col("n_chars") >= 100L)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"))
      .orderBy(col("source"))
  }

  val q152Sql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(doc_id) AS min_doc
      |FROM documents WHERE n_chars >= 100
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q153
  /** Weighted moving average (telemetry smoothing): per event_type,
    * the 8/4/2/1-weighted mean of the current + previous 3 values in
    * integer cents, integer-divided by the REALIZED weight sum so
    * series heads are exact — lag windows with literal integer
    * weights, one type-keyed shuffle, nothing sequential. Censused
    * per type (the smoothed stream itself is data-sized).
    */
  def q153WeightedMa(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("us"), col("event_id"))
    val e = Tables.load(s, dir, "events")
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(ts)").as("us"),
        floor(col("value") * 100).cast("long").as("cents"))
    val lags = Seq(8L -> 0, 4L -> 1, 2L -> 2, 1L -> 3)
    val num = lags.map { case (wt, l) =>
      coalesce(lag(col("cents"), l).over(w) * wt, lit(0L))
    }.reduce(_ + _)
    val den = lags.map { case (wt, l) =>
      when(lag(col("cents"), l).over(w).isNotNull, lit(wt)).otherwise(lit(0L))
    }.reduce(_ + _)
    e.withColumn("__n", num).withColumn("__d", den)
      .withColumn("wma", expr("__n div __d"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("wma")).as("sum_wma"),
        min(col("wma")).as("min_wma"), max(col("wma")).as("max_wma"))
      .orderBy(col("event_type"))
  }

  val q153Sql: String =
    """WITH e AS (SELECT event_type, event_id, epoch_ns(ts) // 1000 AS us,
      |  CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
      |l AS (SELECT event_type, event_id, us, cents,
      |  LAG(cents, 1) OVER w AS c1, LAG(cents, 2) OVER w AS c2,
      |  LAG(cents, 3) OVER w AS c3
      |  FROM e WINDOW w AS (PARTITION BY event_type ORDER BY us, event_id)),
      |m AS (SELECT event_type,
      |  (8 * cents + COALESCE(4 * c1, 0) + COALESCE(2 * c2, 0)
      |    + COALESCE(1 * c3, 0))
      |  // (8 + CASE WHEN c1 IS NULL THEN 0 ELSE 4 END
      |    + CASE WHEN c2 IS NULL THEN 0 ELSE 2 END
      |    + CASE WHEN c3 IS NULL THEN 0 ELSE 1 END) AS wma FROM l)
      |SELECT event_type, COUNT(*) AS n, CAST(SUM(wma) AS BIGINT) AS sum_wma,
      |  MIN(wma) AS min_wma, MAX(wma) AS max_wma
      |FROM m GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Query-vector construction shared by q154's engine and oracle
    * sides: the hashing-trick embedding (64 md5 buckets, term counts).
    */
  private val ragTerms = Seq("table", "scan", "fast", "join", "merge", "dup")
  private val ragBuckets = 64
  private[queries] val ragQueryVec: Seq[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val qv = Array.fill(ragBuckets)(0L)
    ragTerms.foreach { t =>
      val hex = md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      qv((java.lang.Long.parseLong(hex.substring(0, 15), 16) % ragBuckets).toInt) += 1L
    }
    qv.toSeq
  }

  // ---------------------------------------------------------------- q154
  /** RAG retrieval capstone: the serving pipeline as ONE query —
    * sliding-window chunking ([[graft.text.Chunking]], the q84 shape)
    * → hashing-trick chunk embedding (64 md5 buckets; the classic
    * feature-hashing vectorizer, integer counts so the dot product is
    * exact) → query-vector scoring as a scan-local literal-array fold
    * (score = Σ qv[bucket(token)], which IS the sparse dot product) →
    * top-10 chunks by (score, doc, chunk). No shuffle before the
    * TakeOrdered; the chunk explode pipelines inside the scan.
    */
  def q154RagRetrieval(s: SparkSession, dir: String): DataFrame = {
    val chunks = graft.text.Chunking.chunk(
      t(s, dir, "documents"), "text", "doc_id", chunkSize = 32, stride = 24)
    val score = aggregate(
      transform(TextAnalysis.tokens(col("chunk_text")),
        tkn => element_at(typedLit(ragQueryVec),
          (pmod(Dedup.portableHash60(tkn), lit(ragBuckets.toLong)) + 1L)
            .cast("int"))),
      lit(0L), (acc, v) => acc + v)
    chunks.withColumn("score", score)
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id"), col("chunk_idx"))
      .limit(10)
      .select(col("doc_id"), col("chunk_idx"), col("score"))
  }

  val q154Sql: String = {
    val qvLit = ragQueryVec.mkString("[", ", ", "]")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk
       |  FROM documents WHERE text IS NOT NULL),
       |c AS (SELECT doc_id, tk, len(tk) AS n,
       |  unnest(generate_series(0, CASE WHEN len(tk) <= 32 THEN 0
       |    ELSE (len(tk) - 32 + 23) // 24 END)) AS chunk_idx FROM d),
       |s AS (SELECT doc_id, chunk_idx, chunk_idx * 24 + 1 AS chunk_start,
       |  least(chunk_idx * 24 + 32, n) AS chunk_end, tk FROM c),
       |qvl AS (SELECT $qvLit AS qv),
       |ct AS (SELECT doc_id, chunk_idx,
       |  unnest(list_slice(tk, chunk_start, chunk_end)) AS tok FROM s),
       |sc AS (SELECT doc_id, chunk_idx,
       |  SUM(qv[CAST(CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT)
       |    % 64 AS INT) + 1]) AS score
       |  FROM ct, qvl GROUP BY doc_id, chunk_idx)
       |SELECT doc_id, chunk_idx, CAST(score AS BIGINT) AS score FROM sc
       |WHERE score > 0
       |ORDER BY score DESC, doc_id, chunk_idx LIMIT 10""".stripMargin
  }

  // ---------------------------------------------------------------- q155
  /** Bag set operators, explicitly: customers active in 1995
    * INTERSECT / EXCEPT those active in 1996 (distinct semantics, the
    * SQL standard's), censused. Spark plans these as hash semi/anti
    * joins over the distinct sets — worth having as named operators in
    * the catalog, not only as the join shapes that imply them.
    */
  def q155SetOps(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    def active(y: Int) = o.filter(year(col("o_orderdate")) === y)
      .select(col("o_custkey"))
    val a = active(1995)
    val b = active(1996)
    a.intersect(b).agg(count(lit(1)).as("n_both"))
      .crossJoin(a.except(b).agg(count(lit(1)).as("n_only_1995")))
      .crossJoin(b.except(a).agg(count(lit(1)).as("n_only_1996")))
  }

  val q155Sql: String =
    """WITH a AS (SELECT o_custkey FROM orders
      |  WHERE EXTRACT(year FROM o_orderdate) = 1995),
      |b AS (SELECT o_custkey FROM orders
      |  WHERE EXTRACT(year FROM o_orderdate) = 1996)
      |SELECT
      |  (SELECT COUNT(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b))
      |    AS n_both,
      |  (SELECT COUNT(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b))
      |    AS n_only_1995,
      |  (SELECT COUNT(*) FROM (SELECT * FROM b EXCEPT SELECT * FROM a))
      |    AS n_only_1996""".stripMargin

  // ---------------------------------------------------------------- q156
  /** Null-aware NOT IN — SQL's three-valued-logic corner: a NOT IN
    * subquery containing a NULL matches NOTHING (every comparison is
    * UNKNOWN), while the same subquery without the NULL anti-joins
    * normally. Both legs censused side by side; engines that "fix"
    * NOT IN into a plain anti join get the first leg wrong.
    */
  def q156NotIn(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    o.createOrReplaceTempView("q156_orders")
    val c = Tables.load(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    c.createOrReplaceTempView("q156_bld")
    s.sql(
      """SELECT
        |  (SELECT COUNT(*) FROM q156_orders WHERE o_custkey NOT IN
        |    (SELECT c_custkey FROM q156_bld)) AS n_not_building,
        |  (SELECT COUNT(*) FROM q156_orders WHERE o_custkey NOT IN
        |    (SELECT c_custkey FROM q156_bld
        |     UNION ALL SELECT CAST(NULL AS BIGINT))) AS n_with_null
        |""".stripMargin)
  }

  val q156Sql: String =
    """SELECT
      |  (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN
      |    (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'))
      |    AS n_not_building,
      |  (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN
      |    (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |     UNION ALL SELECT CAST(NULL AS BIGINT))) AS n_with_null""".stripMargin

  // ---------------------------------------------------------------- q157
  /** Reproducibility manifest: per training shard (the q74 hash-shard
    * rule), row count + ORDER-FREE content checksum — `bit_xor` of the
    * 60-bit content hashes plus their sum, both partitioning-invariant
    * integer folds, so two independently-produced copies of a dataset
    * release can be compared shard by shard without any sorting. The
    * artifact every dataset card links next to the stats table.
    */
  def q157ShardManifest(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").filter(col("text").isNotNull)
      .select(pmod(Dedup.portableHash60(concat(col("doc_id").cast("string"),
          lit("#shard"))), lit(8L)).as("shard"),
        Dedup.portableHash60(col("text")).as("h"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        expr("bit_xor(h)").as("xor_h"),
        // modular sum (mod 2^32): order-free and overflow-safe up to
        // 2^31 rows per shard; xor + mod-sum together make collisions
        // on BOTH checksums practically impossible
        pmod(sum(pmod(col("h"), lit(4294967296L))), lit(4294967296L))
          .as("sum_h"))
      .orderBy(col("shard"))

  val q157Sql: String =
    """WITH d AS (SELECT
      |  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#shard'),
      |    1, 15)) AS BIGINT) % 8 AS shard,
      |  CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h
      |  FROM documents WHERE text IS NOT NULL)
      |SELECT shard, COUNT(*) AS n_docs,
      |  CAST(bit_xor(h) AS BIGINT) AS xor_h,
      |  CAST(SUM(h % 4294967296) % 4294967296 AS BIGINT) AS sum_h
      |FROM d GROUP BY shard ORDER BY shard""".stripMargin

  /** Shared roundtrip census: per source, counts + a modular content
    * checksum over the text — any format round-trip must reproduce it
    * byte-for-byte (the q157 checksum rule).
    */
  private def roundtripCensus(d: DataFrame): DataFrame =
    d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("text").isNull, 1L).otherwise(0L)).as("n_null_text"),
        sum(col("n_chars")).as("sum_chars"),
        pmod(sum(pmod(Dedup.portableHash60(coalesce(col("text"),
            lit("<NULL>"))), lit(4294967296L))), lit(4294967296L))
          .as("sum_h"))
      .orderBy(col("source"))

  private val roundtripCensusSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_null_text,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(SUM(CAST(('0x' || substr(md5(COALESCE(text, '<NULL>')), 1, 15))
      |      AS BIGINT) % 4294967296) % 4294967296 AS BIGINT) AS sum_h
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q158
  /** CSV sink/source round-trip (S2/S1 as one query): documents written
    * with header + quoting, re-read under an EXPLICIT schema (never
    * inferSchema at scale — one extra full read just to guess types),
    * content-checksummed per source against the parquet original.
    */
  def q158CsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
    val tmp = graft.tools.Scratch.tempDir("q158")
    d.write.mode("overwrite").option("header", "true").csv(s"$tmp/docs")
    roundtripCensus(
      s.read.option("header", "true").schema(d.schema).csv(s"$tmp/docs"))
  }

  val q158Sql: String = roundtripCensusSql

  // ---------------------------------------------------------------- q159
  /** JSON-lines sink/source round-trip: same contract as q158 through
    * the self-describing format (nulls survive natively; schema still
    * explicit on read).
    */
  def q159JsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
    val tmp = graft.tools.Scratch.tempDir("q159")
    d.write.mode("overwrite").json(s"$tmp/docs")
    roundtripCensus(s.read.schema(d.schema).json(s"$tmp/docs"))
  }

  val q159Sql: String = roundtripCensusSql

  // ---------------------------------------------------------------- q160
  /** `binaryFile` source → multimodal decode: the synthesized PNGs are
    * written as REAL FILES, ingested through Spark's binary-file
    * source (path, length, content — the production shape for media
    * lakes), the media id parsed from the filename, and the decoded
    * pixel census must equal q44's in-memory path — proving the
    * file-ingestion route is content-identical. (Files land on local
    * tmp here; at scale the same code points at a DFS directory.)
    */
  def q160BinarySource(s: SparkSession, dir: String): DataFrame = {
    val ids = t(s, dir, "documents").select(col("doc_id"))
    val media = Multimodal.synthesizePngs(ids, "doc_id", w = 8, h = 8)
    val tmp = graft.tools.Scratch.tempDir("q160")
    media.select(col("media_id"), col("content"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        it.foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$tmp/img-${r.getLong(0)}.png"),
            r.getAs[Array[Byte]](1))
        }
      }
    val bin = s.read.format("binaryFile")
      .option("pathGlobFilter", "*.png").load(tmp)
      .select(regexp_extract(col("path"), "img-(\\d+)\\.png", 1)
        .cast("long").as("media_id"), col("content"))
    Multimodal.decodeImageStats(bin).agg(
      count(lit(1)).as("n_images"),
      sum(col("width").cast("long")).as("sum_width"),
      sum(col("height").cast("long")).as("sum_height"),
      sum(col("sum_red")).as("sum_red"),
      sum(col("sum_green")).as("sum_green"),
      sum(col("sum_blue")).as("sum_blue"))
  }

  val q160Sql: String = q44Sql

  // ---------------------------------------------------------------- q161
  /** Checkpoint recovery / exactly-once: a filtered projection stream
    * runs over chunk 0, is STOPPED (simulated crash), two more chunks
    * land, and a NEW query resumes from the same checkpoint into the
    * same sink — the recovered output must equal the one-shot batch
    * census, no row lost, no row doubled. This is the operational
    * property every production stream leans on; the oracle is the
    * batch replay.
    */
  def q161StreamRecovery(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val tmp = graft.tools.Scratch.tempDir("q161")
    val in = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    def land(kk: Int): Unit = {
      val stage = s"$tmp/stage$kk"
      docs.filter(pmod(col("doc_id"), lit(3)) === kk).coalesce(1)
        .write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$in/chunk-$kk.parquet"))
    }
    def run(): Unit = {
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      val q = stream.writeStream.outputMode("append").format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt").start()
      try q.processAllAvailable() finally q.stop()
    }
    land(0)
    run() // processes chunk 0, then "crashes"
    land(1); land(2)
    run() // recovery: resumes from the checkpoint, drains chunks 1-2
    s.read.parquet(s"$tmp/out")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
        sum(col("doc_id")).as("sum_ids"))
      .orderBy(col("source"))
  }

  val q161Sql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
      |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
      |FROM documents WHERE text IS NOT NULL
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q162
  /** Forward fill (gap-fill) — the time-series staple: a deterministic
    * third of readings is masked null, then LAST_VALUE IGNORE NULLS
    * over the per-type ordered window carries the most recent
    * observation forward (leading nulls stay null). Censused per type
    * with the q157 modular checksum over the filled series.
    */
  def q162ForwardFill(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(s, dir, "events")
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(ts)").as("us"),
        when(pmod(col("event_id"), lit(3)) === 0, lit(null).cast("long"))
          .otherwise(floor(col("value") * 100).cast("long")).as("cents"))
      .withColumn("filled", last(col("cents"), ignoreNulls = true).over(w))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("cents").isNull && col("filled").isNotNull, 1L)
          .otherwise(0L)).as("n_filled"),
        sum(when(col("filled").isNull, 1L).otherwise(0L)).as("n_leading_null"),
        pmod(sum(pmod(coalesce(col("filled"), lit(0L)), lit(4294967296L))),
          lit(4294967296L)).as("sum_filled_mod"))
      .orderBy(col("event_type"))
  }

  val q162Sql: String =
    """WITH e AS (SELECT event_type, event_id, epoch_ns(ts) // 1000 AS us,
      |  CASE WHEN event_id % 3 = 0 THEN NULL
      |    ELSE CAST(FLOOR(value * 100) AS BIGINT) END AS cents
      |  FROM events),
      |f AS (SELECT event_type, cents,
      |  LAST_VALUE(cents IGNORE NULLS) OVER (PARTITION BY event_type
      |    ORDER BY us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      |  FROM e)
      |SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN cents IS NULL AND filled IS NOT NULL
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
      |  CAST(SUM(CASE WHEN filled IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_leading_null,
      |  CAST(SUM(((COALESCE(filled, 0) % 4294967296) + 4294967296)
      |    % 4294967296) % 4294967296 AS BIGINT)
      |    AS sum_filled_mod
      |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q163
  /** Per-type Pearson correlation ([[graft.operators.Regression
    * .corrCensus]]) between value-cents and hour-of-day — exact BIGINT
    * moments, deterministic-double closed form, quantized; null on
    * zero variance. The segment-level "are these two metrics related"
    * census in one map-side-combined pass.
    */
  def q163CorrCensus(s: SparkSession, dir: String): DataFrame =
    graft.operators.Regression.corrCensus(
        Tables.load(s, dir, "events"), Seq("event_type"),
        expr("(unix_micros(ts) div 3600000000) % 24"),
        floor(col("value") * 100))
      .orderBy(col("event_type"))

  val q163Sql: String =
    """WITH e AS (SELECT event_type,
      |  (epoch_ns(ts) // 1000 // 3600000000) % 24 AS x,
      |  CAST(FLOOR(value * 100) AS BIGINT) AS y FROM events),
      |g AS (SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(x) AS BIGINT) AS sum_x, CAST(SUM(y) AS BIGINT) AS sum_y,
      |  CAST(SUM(x * y) AS BIGINT) AS sum_xy,
      |  CAST(SUM(x * x) AS BIGINT) AS sum_xx,
      |  CAST(SUM(y * y) AS BIGINT) AS sum_yy
      |  FROM e GROUP BY event_type)
      |SELECT event_type, n, sum_x, sum_y, sum_xy, sum_xx, sum_yy,
      |  CASE WHEN CAST(n AS DOUBLE) * CAST(sum_xx AS DOUBLE)
      |      - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE) <= 0
      |    OR CAST(n AS DOUBLE) * CAST(sum_yy AS DOUBLE)
      |      - CAST(sum_y AS DOUBLE) * CAST(sum_y AS DOUBLE) <= 0 THEN NULL
      |  ELSE CAST(FLOOR((CAST(n AS DOUBLE) * CAST(sum_xy AS DOUBLE)
      |      - CAST(sum_x AS DOUBLE) * CAST(sum_y AS DOUBLE))
      |    / sqrt((CAST(n AS DOUBLE) * CAST(sum_xx AS DOUBLE)
      |        - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE))
      |      * (CAST(n AS DOUBLE) * CAST(sum_yy AS DOUBLE)
      |        - CAST(sum_y AS DOUBLE) * CAST(sum_y AS DOUBLE)))
      |    * 1000000.0) AS BIGINT) END AS corr_q
      |FROM g ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q164
  /** EXACT rolling distinct — 7-day rolling unique users per day, the
    * metric sliding windows cannot express with an aggregate (distinct
    * does not decompose): each DISTINCT (user, activity-day) pair
    * replays into the <= 7 target days whose window covers it (a
    * scan-local sequence explode), then one COUNT DISTINCT per target
    * day. Cost: 7x the distinct-pair stream — linear, no per-day
    * rescan, no quadratic day x day join; the HLL sketch union is the
    * approximate swap when 7x is too much.
    */
  def q164RollingDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6L)).as("target_day"))
      .groupBy(col("target_day"))
      .agg(countDistinct(col("user_id")).as("n_users_7d"))
      .orderBy(col("target_day"))

  val q164Sql: String =
    """WITH a AS (SELECT DISTINCT user_id,
      |  epoch_ns(ts) // 1000 // 86400000000 AS day FROM events),
      |x AS (SELECT user_id, day + d AS target_day FROM a,
      |  unnest(range(0, 7)) AS t(d))
      |SELECT target_day, COUNT(DISTINCT user_id) AS n_users_7d
      |FROM x GROUP BY target_day ORDER BY target_day""".stripMargin

  // ---------------------------------------------------------------- q165
  /** Trailing-window anomaly detection: each day's event count scored
    * against its OWN type's previous 7 observed days (z-score from
    * exact integer trailing sums, deterministic double closed form,
    * quantized) — the ops alert behind "this source's volume just
    * spiked". Non-scorable days (fewer than 2 trailing, zero
    * variance) are censused, not silently dropped.
    */
  def q165AnomalyZscore(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.load(s, dir, "events")
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-7, -1)
    val scored = daily
      .withColumn("tn", count(col("c")).over(w))
      .withColumn("ts", sum(col("c")).over(w))
      .withColumn("tss", sum(col("c") * col("c")).over(w))
    val tn = col("tn").cast("double")
    val vn = (tn * col("tss").cast("double")
      - col("ts").cast("double") * col("ts").cast("double")) /
      (tn * (tn - 1.0))
    val z = (col("c").cast("double") - col("ts").cast("double") / tn) /
      sqrt(vn)
    scored.withColumn("z_q",
        when(col("tn") < 2 || vn <= 0.0, lit(null).cast("long"))
          .otherwise(floor(z * 1000000.0).cast("long")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("z_q").isNotNull, 1L).otherwise(0L)).as("n_scored"),
        sum(when(abs(col("z_q")) >= 2000000L, 1L).otherwise(0L))
          .as("n_anomalous"),
        min(col("z_q")).as("min_z_q"), max(col("z_q")).as("max_z_q"))
      .orderBy(col("event_type"))
  }

  val q165Sql: String =
    """WITH daily AS (SELECT event_type,
      |  epoch_ns(ts) // 1000 // 86400000000 AS day, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |t AS (SELECT event_type, day, c,
      |  COUNT(c) OVER w AS tn, SUM(c) OVER w AS ts, SUM(c * c) OVER w AS tss
      |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
      |z AS (SELECT event_type,
      |  CASE WHEN tn < 2 OR (CAST(tn AS DOUBLE) * CAST(tss AS DOUBLE)
      |      - CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE))
      |      / (CAST(tn AS DOUBLE) * (CAST(tn AS DOUBLE) - 1.0)) <= 0
      |    THEN NULL
      |    ELSE CAST(FLOOR((CAST(c AS DOUBLE) - CAST(ts AS DOUBLE)
      |        / CAST(tn AS DOUBLE))
      |      / sqrt((CAST(tn AS DOUBLE) * CAST(tss AS DOUBLE)
      |          - CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE))
      |        / (CAST(tn AS DOUBLE) * (CAST(tn AS DOUBLE) - 1.0)))
      |      * 1000000.0) AS BIGINT) END AS z_q
      |  FROM t)
      |SELECT event_type, COUNT(*) AS n_days,
      |  CAST(SUM(CASE WHEN z_q IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_scored,
      |  CAST(SUM(CASE WHEN abs(z_q) >= 2000000 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_anomalous,
      |  MIN(z_q) AS min_z_q, MAX(z_q) AS max_z_q
      |FROM z GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q166
  /** Schema evolution: an old shard written WITHOUT `n_chars` and a
    * new shard WITH it, unioned by name with missing columns nulled
    * (`unionByName(allowMissingColumns)`) — the read path every
    * long-lived lake needs when a column is added mid-corpus. Census
    * proves old rows surface with nulls and new rows keep values.
    */
  def q166SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val tmp = graft.tools.Scratch.tempDir("q166")
    d.filter(pmod(col("doc_id"), lit(2)) === 0)
      .select(col("doc_id"), col("source"))
      .write.mode("overwrite").parquet(s"$tmp/v1")
    d.filter(pmod(col("doc_id"), lit(2)) === 1)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$tmp/v2")
    s.read.parquet(s"$tmp/v1")
      .unionByName(s.read.parquet(s"$tmp/v2"), allowMissingColumns = true)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_chars").isNull, 1L).otherwise(0L)).as("n_old_rows"),
        sum(coalesce(col("n_chars"), lit(0L))).as("sum_chars_new"))
      .orderBy(col("source"))
  }

  val q166Sql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_old_rows,
      |  CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE 0 END)
      |    AS BIGINT) AS sum_chars_new
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q167
  /** Winsorized census ([[graft.operators.Robust.winsorizedCensus]]):
    * per-type value-cents clipped at the exact quartiles — the
    * outlier-taming robust mean next to q122's outlier flagging.
    * Dyadic percentiles keep the interpolation and the clipped sum
    * bit-exact cross-engine (see the operator's scaladoc).
    */
  def q167Winsorize(s: SparkSession, dir: String): DataFrame =
    graft.operators.Robust.winsorizedCensus(
        Tables.load(s, dir, "events")
          .withColumn("cents", graft.operators.Robust.cents(col("value"))),
        "event_type", "cents")
      .orderBy(col("event_type"))

  val q167Sql: String =
    """WITH e AS (SELECT event_type,
      |  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |t AS (SELECT event_type, quantile_cont(cents, 0.25) AS plo,
      |  quantile_cont(cents, 0.75) AS phi FROM e GROUP BY event_type)
      |SELECT e.event_type, MIN(t.plo) AS p_lo, MIN(t.phi) AS p_hi,
      |  COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN CAST(e.cents AS DOUBLE) < t.plo
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
      |  CAST(SUM(CASE WHEN CAST(e.cents AS DOUBLE) > t.phi
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
      |  CAST(SUM(CAST(greatest(t.plo, least(t.phi,
      |    CAST(e.cents AS DOUBLE))) * 4 AS BIGINT)) AS BIGINT)
      |    AS sum_winsorized_q
      |FROM e JOIN t USING (event_type)
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin

  // ---------------------------------------------------------------- q168
  /** Statistical MODE per group with a deterministic tie-break (ties
    * to the smallest value): value-counts census, then a pure argmax
    * aggregate — `max(struct(n, -cents))` picks highest count / lowest
    * cents without a window, so the per-group state is one struct and
    * the shuffle stays two map-side-combined passes.
    */
  def q168Mode(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .withColumn("cents", graft.operators.Robust.cents(col("value")))
      .groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("event_type"))
      .agg(max(struct(col("n"), (-col("cents")).as("nc"))).as("__m"),
        count(lit(1)).as("n_distinct_values"))
      .select(col("event_type"), (-col("__m.nc")).as("mode_cents"),
        col("__m.n").as("mode_n"), col("n_distinct_values"))
      .orderBy(col("event_type"))

  val q168Sql: String =
    """WITH e AS (SELECT event_type,
      |  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |c AS (SELECT event_type, cents, COUNT(*) AS n FROM e GROUP BY 1, 2),
      |r AS (SELECT event_type, cents, n, ROW_NUMBER() OVER (
      |  PARTITION BY event_type ORDER BY n DESC, cents ASC) AS rn FROM c),
      |d AS (SELECT event_type, COUNT(*) AS n_distinct_values FROM c
      |  GROUP BY event_type)
      |SELECT r.event_type, r.cents AS mode_cents, r.n AS mode_n,
      |  d.n_distinct_values
      |FROM r JOIN d ON r.event_type = d.event_type
      |WHERE r.rn = 1 ORDER BY r.event_type""".stripMargin

  // ---------------------------------------------------------------- q169
  /** Ordered string aggregation (LISTAGG): per region, the
    * comma-joined ordered nation list — the report-formatting
    * aggregate. Engine: `array_join(array_sort(collect_list))` — the
    * collect is bounded (a dimension's members), the sort is
    * per-group-local, deterministic; the fingerprint column keeps
    * arbitrarily long strings hash-comparable.
    */
  def q169StringAgg(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "nation")
      .join(Tables.load(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_nations"),
        array_join(array_sort(collect_list(col("n_name"))), ",")
          .as("nations"))
      .withColumn("nations_md5", md5(col("nations")))
      .orderBy(col("r_name"))

  val q169Sql: String =
    """SELECT r.r_name, COUNT(*) AS n_nations,
      |  string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
      |  md5(string_agg(n.n_name, ',' ORDER BY n.n_name)) AS nations_md5
      |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
      |GROUP BY r.r_name ORDER BY r.r_name""".stripMargin

  // ---------------------------------------------------------------- q172
  /** Small-file compaction end-to-end ([[graft.operators.Compact]]):
    * run q99's CDC maintenance (three micro-batch merges leave each
    * touched source partition as a directory of per-task small files),
    * compact every partition directory in place, and prove the
    * contract both ways — the census is IDENTICAL to q99's replayable
    * oracle (compaction moves bytes, never rows), and the layout
    * assertions hold (exactly one file per partition afterwards at
    * this volume, and the file count did not grow). At 100 TB this is
    * exactly the documented per-partition-directory maintenance mode:
    * each partition compacts as an independent unit, so the driver
    * loop parallelizes trivially and closed partitions never rewrite
    * twice.
    */
  def q172Compaction(s: SparkSession, dir: String): DataFrame = {
    val table = cdcMaintainedTable(s, dir)
    def parquetCount(d: java.io.File): Int =
      d.listFiles().count(f => f.isFile && f.getName.endsWith(".parquet"))
    val partDirs = new java.io.File(table).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("source="))
      .sortBy(_.getName)
    val filesBefore = partDirs.map(parquetCount).sum
    // partitions compact independently — run the per-directory jobs
    // concurrently (each is one small read+write; serially the driver
    // loop dominates: 20 job round-trips ≈ 6.7 s vs ~2 s pooled)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(partDirs.toSeq.map(d =>
        scala.concurrent.Future {
          graft.operators.Compact.compact(s, d.getPath, 128L * 1024 * 1024)
        })),
      scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
    val filesAfter = partDirs.map(parquetCount).sum
    s.read.parquet(table).agg(
      count(lit(1)).as("n_rows"),
      sum(when(pmod(col("doc_id"), lit(7)) === 0, 1L).otherwise(0L))
        .as("n_hot"),
      sum(col("version").cast("long")).as("sum_version"),
      sum(pmod(Dedup.portableHash60(
          concat(col("doc_id").cast("string"), lit("|"),
            coalesce(col("text"), lit("<null>")))),
        lit(1000003L))).as("content_hash_sum"),
      lit(partDirs.length).cast("long").as("n_partitions"),
      lit(if (filesAfter == partDirs.length) 1L else 0L)
        .as("one_file_per_partition"),
      lit(if (filesAfter <= filesBefore) 1L else 0L)
        .as("files_not_increased"))
  }

  val q172Sql: String =
    """WITH fin AS (SELECT doc_id,
      |  CASE WHEN doc_id % 7 = 0 THEN text || ' u2'
      |       ELSE text || ' v' || CAST(doc_id % 3 AS VARCHAR) END AS text
      |  FROM documents)
      |SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_hot,
      |  (SELECT CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN 21
      |    ELSE (doc_id % 3) * 10 END) AS BIGINT) FROM documents)
      |    AS sum_version,
      |  CAST(SUM(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|' ||
      |    COALESCE(text, '<null>')), 1, 15)) AS BIGINT) % 1000003) AS BIGINT)
      |    AS content_hash_sum,
      |  (SELECT COUNT(DISTINCT source) FROM documents) AS n_partitions,
      |  CAST(1 AS BIGINT) AS one_file_per_partition,
      |  CAST(1 AS BIGINT) AS files_not_increased
      |FROM fin""".stripMargin

  // ---------------------------------------------------------------- q173
  /** Approximate kNN GRAPH ([[Ann.knnGraph]]) — the corpus-scale edge
    * build behind q128's PageRank and SemDeDup-style clustering: every
    * vector's top-3 same-cell neighbors under the PORTABLE 4-plane LSH
    * cells (pinned plane count so the oracle replays the exact cell
    * structure, the q76 rule; production uses the AutoPlanes default).
    * The per-node top-k reduces through the bounded TopK aggregate —
    * never a hot-node window — and the full (src, rank, dst, cosine)
    * edge table hash-checks against a DuckDB replay of bucket
    * assignment + same-cell pairs + windowed top-3 (the q41 bucket
    * arithmetic and the q82 left-to-right cosine).
    */
  def q173KnnGraph(s: SparkSession, dir: String): DataFrame =
    graft.similarity.Ann.knnGraph(t(s, dir, "embeddings"),
        "embedding", "vec_id", k = 3, numPlanes = 4,
        probeBits = 0) // pinned: the oracle replays single-probe cells
      .withColumn("rank", col("rank").cast("long"))
      .orderBy(col("src"), col("rank"))

  /** Shared DuckDB replay of [[graft.similarity.Ann.knnGraph]]'s
    * pinned 4-plane edge set — CTEs `b` (buckets), `sc` (same-cell
    * cosines), `r` (per-src rank). q173 selects the edge table from
    * it; q185 censuses its structure.
    */
  private def knnEdgeCtes: String = {
    def dotExpr(a: String, b: String): String =
      s"""list_aggregate(list_transform(range(1, len($a) + 1),
         |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), 'sum')""".stripMargin
    def proj(p: Int): String =
      s"""list_aggregate(list_transform(range(1, len(embedding) + 1),
         |    i -> CAST(embedding[i] AS DOUBLE) *
         |      ((CAST(('0x' || substring(md5('$p|' || (i - 1)), 1, 15)) AS BIGINT)
         |        % 2000 - 1000) / 1000.0)), 'sum')""".stripMargin
    val bucket = (0 until 4).map(p =>
      s"(CASE WHEN ${proj(p)} >= 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""WITH b AS (SELECT vec_id, embedding, ($bucket) AS bucket
       |  FROM embeddings),
       |sc AS (SELECT a.vec_id AS src, c.vec_id AS dst,
       |  ${dotExpr("a.embedding", "c.embedding")} /
       |  (sqrt(${dotExpr("a.embedding", "a.embedding")}) *
       |   sqrt(${dotExpr("c.embedding", "c.embedding")})) AS cosine
       |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id),
       |r AS (SELECT src, dst, cosine, row_number() OVER (
       |    PARTITION BY src ORDER BY cosine DESC, dst ASC) AS rank
       |  FROM sc)""".stripMargin
  }

  val q173Sql: String =
    s"""$knnEdgeCtes
       |SELECT src, rank, dst, cosine FROM r WHERE rank <= 3
       |ORDER BY src, rank""".stripMargin

  // ---------------------------------------------------------------- q180
  /** Gopher-rule quality census ([[TextAnalysis.withGopherSignals]]):
    * per source, how many documents fail each of the four public
    * Gopher heuristics (mean word length band, length band, stopword
    * floor, top-token repetition) and how many pass all — the
    * rule-level accounting a corpus curation run reports before
    * gating (q77's funnel applies a different, pass/fail-only rule
    * set). Scan-local signals, one ~|sources|-group aggregation.
    */
  def q180GopherRules(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.withGopherSignals(t(s, dir, "documents"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("g_fail_mwl"), 1L).otherwise(0L)).as("n_fail_mwl"),
        sum(when(col("g_fail_len"), 1L).otherwise(0L)).as("n_fail_len"),
        sum(when(col("g_fail_stop"), 1L).otherwise(0L)).as("n_fail_stop"),
        sum(when(col("g_fail_rep"), 1L).otherwise(0L)).as("n_fail_rep"),
        sum(when(!col("g_fail_mwl") && !col("g_fail_len") &&
          !col("g_fail_stop") && !col("g_fail_rep"), 1L).otherwise(0L))
          .as("n_pass"))
      .orderBy(col("source"))

  val q180Sql: String = {
    val en = TextAnalysis.stopwords.toMap.apply("en")
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH g AS (SELECT source,
       |  len(string_split(text, ' ')) AS n_words,
       |  list_aggregate(list_transform(string_split(text, ' '),
       |    w -> len(w)), 'sum') AS sum_chars,
       |  len(list_filter(string_split(text, ' '),
       |    x -> list_contains($en, x))) AS stop_hits,
       |  list_aggregate(list_transform(list_distinct(string_split(text, ' ')),
       |    t -> len(list_filter(string_split(text, ' '), x -> x = t))),
       |    'max') AS top_cnt
       |  FROM documents),
       |f AS (SELECT source,
       |  (sum_chars < 3 * n_words OR sum_chars > 10 * n_words) AS fail_mwl,
       |  (n_words < 50 OR n_words > 100000) AS fail_len,
       |  (stop_hits < 2) AS fail_stop,
       |  (top_cnt * 5 > n_words) AS fail_rep
       |  FROM g)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN fail_mwl THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_mwl,
       |  CAST(SUM(CASE WHEN fail_len THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_len,
       |  CAST(SUM(CASE WHEN fail_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_stop,
       |  CAST(SUM(CASE WHEN fail_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_rep,
       |  CAST(SUM(CASE WHEN NOT (fail_mwl OR fail_len OR fail_stop OR fail_rep)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
       |FROM f GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- q184
  /** OHLC resampling ([[graft.operators.Resample.ohlc]]): hourly
    * open/high/low/close bars per event type over integer cents, with
    * open/close picked by a deterministic (ts, event_id) total order —
    * one partial-aggregated shuffle, no window, no per-group sort
    * (min_by/max_by carry one struct of state through the map-side
    * combine even when one series dominates the hour).
    */
  def q184Ohlc(s: SparkSession, dir: String): DataFrame =
    graft.operators.Resample.ohlc(
      Tables.load(s, dir, "events")
        .withColumn("cents", graft.operators.Robust.cents(col("value"))),
      "event_type", "ts", "event_id", "cents", "hour")

  val q184Sql: String =
    """WITH e AS (SELECT event_type,
      |  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS window_start,
      |  ts, event_id, CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |o AS (SELECT *,
      |  row_number() OVER (PARTITION BY event_type, window_start
      |    ORDER BY ts, event_id) AS rn_a,
      |  row_number() OVER (PARTITION BY event_type, window_start
      |    ORDER BY ts DESC, event_id DESC) AS rn_d
      |  FROM e)
      |SELECT event_type, window_start, COUNT(*) AS n,
      |  MIN(cents) AS low, MAX(cents) AS high,
      |  CAST(MIN(CASE WHEN rn_a = 1 THEN cents END) AS BIGINT) AS open,
      |  CAST(MIN(CASE WHEN rn_d = 1 THEN cents END) AS BIGINT) AS close,
      |  CAST(SUM(cents) AS BIGINT) AS sum_value
      |FROM o GROUP BY event_type, window_start
      |ORDER BY event_type, window_start""".stripMargin

  // ---------------------------------------------------------------- q186
  /** Gap-linear interpolation census ([[graft.operators.Interpolate
    * .withLinearFill]]): q162's injected-null series filled on the
    * line between surrounding observations instead of carried
    * forward — same one-sort window shape, same modular checksum, so
    * the two fill policies are directly comparable. Exactness bound:
    * |Δcents| · group-size stays far below 2^53 on this fixture, so
    * the subtract-mod floor division is bit-exact (operator scaladoc).
    */
  def q186LinearInterp(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(ts)").as("us"),
        when(pmod(col("event_id"), lit(3)) === 0, lit(null).cast("long"))
          .otherwise(floor(col("value") * 100).cast("long")).as("cents"))
    graft.operators.Interpolate
      .withLinearFill(e, "event_type", Seq(col("us"), col("event_id")), "cents")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("cents").isNull && col("li_filled").isNotNull, 1L)
          .otherwise(0L)).as("n_interp"),
        sum(when(col("li_filled").isNull, 1L).otherwise(0L)).as("n_edge_null"),
        pmod(sum(pmod(coalesce(col("li_filled"), lit(0L)), lit(4294967296L))),
          lit(4294967296L)).as("sum_filled_mod"))
      .orderBy(col("event_type"))
  }

  val q186Sql: String =
    """WITH e AS (SELECT event_type, event_id, epoch_ns(ts) // 1000 AS us,
      |  CASE WHEN event_id % 3 = 0 THEN NULL
      |    ELSE CAST(FLOOR(value * 100) AS BIGINT) END AS cents
      |  FROM events),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
      |  ORDER BY us, event_id) AS rn FROM e),
      |w AS (SELECT event_type, cents, rn,
      |  LAST_VALUE(CASE WHEN cents IS NOT NULL THEN rn END IGNORE NULLS)
      |    OVER wp AS prev_rn,
      |  LAST_VALUE(cents IGNORE NULLS) OVER wp AS prev_v,
      |  FIRST_VALUE(CASE WHEN cents IS NOT NULL THEN rn END IGNORE NULLS)
      |    OVER wn AS next_rn,
      |  FIRST_VALUE(cents IGNORE NULLS) OVER wn AS next_v
      |  FROM r
      |  WINDOW wp AS (PARTITION BY event_type ORDER BY rn
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |  wn AS (PARTITION BY event_type ORDER BY rn
      |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
      |f AS (SELECT event_type, cents,
      |  COALESCE(cents, CASE WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
      |    THEN prev_v + ((next_v - prev_v) * (rn - prev_rn)
      |      - ((((next_v - prev_v) * (rn - prev_rn)) % (next_rn - prev_rn)
      |          + (next_rn - prev_rn)) % (next_rn - prev_rn)))
      |      // (next_rn - prev_rn)
      |    END) AS filled FROM w)
      |SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN cents IS NULL AND filled IS NOT NULL
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_interp,
      |  CAST(SUM(CASE WHEN filled IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_edge_null,
      |  CAST(SUM(((COALESCE(filled, 0) % 4294967296) + 4294967296)
      |    % 4294967296) % 4294967296 AS BIGINT)
      |    AS sum_filled_mod
      |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q185
  /** kNN-graph structure census ([[graft.graph.GraphOps
    * .degreeReciprocityCensus]]) over the same pinned 4-plane edge set
    * q173 freezes: reciprocity, in-degree concentration and isolated
    * nodes — the health check that runs before q128 spends iterations
    * on the graph. One reversed-key self-join of the k·n edge table
    * plus two count aggregations; the n² pair space is never touched.
    */
  def q185KnnGraphCensus(s: SparkSession, dir: String): DataFrame =
    graft.graph.GraphOps.degreeReciprocityCensus(
      graft.similarity.Ann.knnGraph(t(s, dir, "embeddings"),
        "embedding", "vec_id", k = 3, numPlanes = 4,
        probeBits = 0)) // pinned: the oracle replays single-probe cells

  val q185Sql: String =
    s"""$knnEdgeCtes,
       |e AS (SELECT src AS s, dst AS d FROM r WHERE rank <= 3),
       |nodes AS (SELECT COUNT(DISTINCT v) AS n_nodes FROM
       |  (SELECT s AS v FROM e UNION ALL SELECT d FROM e)),
       |cnt AS (SELECT COUNT(*) AS n_edges FROM e),
       |recip AS (SELECT COUNT(*) AS n_reciprocal FROM e
       |  WHERE EXISTS (SELECT 1 FROM e r2 WHERE r2.s = e.d AND r2.d = e.s)),
       |indeg AS (SELECT CAST(COALESCE(MAX(c), 0) AS BIGINT) AS max_in_degree,
       |  COUNT(*) AS n_receiving FROM
       |  (SELECT d, COUNT(*) AS c FROM e GROUP BY d))
       |SELECT n_nodes, n_edges, n_reciprocal, max_in_degree, n_receiving,
       |  n_nodes - n_receiving AS n_isolated
       |FROM nodes, cnt, recip, indeg""".stripMargin

  // ---------------------------------------------------------------- q195
  /** COMPLETE SimHash near-dup pairs
    * ([[Dedup.simhashNearDuplicatesComplete]], the Manku–Jain–Sarma
    * pigeonhole block scheme): every pair within Hamming 3 of the
    * portable 60-bit signature, found through 4 per-block equi-joins
    * with first-shared-block exactly-once emission — never the n² pair
    * space. The oracle is the SEMANTIC spec, not a plan replay: DuckDB
    * brute-forces all pairs with `bit_count(xor) <= 3`, so a hash
    * match PROVES the block scheme's completeness guarantee on this
    * corpus (the prefix-bucket q37 census has no such guarantee — any
    * pair differing inside the prefix window is silently absent).
    */
  def q195SimhashComplete(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDuplicatesComplete(
        t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"),
            Dedup.simhashPortable(col("text")).as("sig")),
        "doc_id", maxDistance = 3, bits = 60)
      .orderBy(col("id_a"), col("id_b"))

  val q195Sql: String = {
    val votes =
      """list_aggregate(list_transform(th, h ->
        |    CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END), 'sum')""".stripMargin
    s"""WITH tok AS (SELECT doc_id,
       |  list_transform(string_split(text, ' '),
       |    t -> CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT)) AS th
       |  FROM documents WHERE text IS NOT NULL),
       |sig AS (SELECT doc_id,
       |  list_aggregate(list_transform(range(0, 60), b ->
       |    CASE WHEN $votes > 0
       |    THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END), 'sum') AS sg
       |  FROM tok)
       |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
       |  CAST(bit_count(xor(x.sg, y.sg)) AS INTEGER) AS distance
       |FROM sig x JOIN sig y ON x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.sg, y.sg)) <= 3
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ---------------------------------------------------------------- q194
  /** Streaming incremental perceptual dedup
    * ([[graft.streaming.StreamingOps.perceptualDedupStream]]): the
    * grouped-PNG corpus arrives as 4 file-source micro-batches
    * (doc_id mod 4, mtime-ordered — q106's staging shape); each batch
    * decodes, aHashes, anti-joins the checkpointed hash history,
    * collapses within-batch duplicates to the min id, and appends the
    * new hashes. Across the stream every distinct perceptual image
    * survives exactly once at its FIRST arrival — the oracle replays
    * that as min-batch-then-min-id arithmetic over the formula hashes.
    */
  def q194StreamPerceptualDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = t(s, dir, "documents").select(col("doc_id"))
    val media = Multimodal.synthesizeGroupedPngs(ids, "doc_id", groups = 16)
    val tmp = graft.tools.Scratch.tempDir("q194")
    val in = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    // one-pass staging matters doubly here: the per-chunk filter loop
    // re-ran the PNG synthesis mapPartitions for EVERY chunk (the
    // filter sits above the synth), 4× the encode work
    stageChunksTagged(
      media.withColumn("__chunk", pmod(col("media_id"), lit(4))), 4, in)
    val stream = s.readStream.schema(media.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    var nBatches = 0L
    var nSurvivors = 0L
    var idSum = 0L
    val q = StreamingOps.perceptualDedupStream(stream, s"$tmp/history") {
      (sv, _) =>
        nBatches += 1
        val r = sv.agg(count(lit(1)),
          coalesce(sum(col("media_id")), lit(0L))).head()
        nSurvivors += r.getLong(0)
        idSum += r.getLong(1)
    }
    try q.processAllAvailable() finally q.stop()
    Seq((nSurvivors, idSum, nBatches))
      .toDF("n_survivors", "survivor_id_sum", "n_batches")
  }

  val q194Sql: String =
    """WITH px AS (SELECT doc_id, ys.y * 8 + xs.x AS i,
      |  ((CASE WHEN xs.x = 0 AND ys.y = 0
      |    THEN ((doc_id % 16) * 37 + (xs.x // 2) * 53 + ys.y * 29 + doc_id % 5)
      |    ELSE ((doc_id % 16) * 37 + (xs.x // 2) * 53 + ys.y * 29) END) % 256
      |   + ((doc_id % 16) * 91 + (xs.x // 2) * 17 + ys.y * 43) % 256
      |   + ((doc_id % 16) * 53 + (xs.x // 2) * 11 + ys.y * 7) % 256) AS gray
      |  FROM documents, range(0, 8) xs(x), range(0, 8) ys(y)),
      |tt AS (SELECT doc_id, SUM(gray) AS total FROM px GROUP BY doc_id),
      |bits AS (SELECT px.doc_id, px.i FROM px JOIN tt ON px.doc_id = tt.doc_id
      |  WHERE px.gray * 64 > tt.total),
      |h AS (SELECT d.doc_id,
      |  CAST(COALESCE(SUM(CASE WHEN b.i >= 32
      |    THEN (1::BIGINT << (b.i - 32)) END), 0) AS BIGINT) AS hi,
      |  CAST(COALESCE(SUM(CASE WHEN b.i < 32
      |    THEN (1::BIGINT << b.i) END), 0) AS BIGINT) AS lo
      |  FROM documents d LEFT JOIN bits b ON b.doc_id = d.doc_id
      |  GROUP BY d.doc_id),
      |hb AS (SELECT doc_id, hi, lo, doc_id % 4 AS bt FROM h),
      |fs AS (SELECT hi, lo, MIN(bt) AS f FROM hb GROUP BY hi, lo),
      |sv AS (SELECT hb.hi, hb.lo, MIN(hb.doc_id) AS sid FROM hb JOIN fs
      |  ON hb.hi = fs.hi AND hb.lo = fs.lo AND hb.bt = fs.f
      |  GROUP BY hb.hi, hb.lo)
      |SELECT COUNT(*) AS n_survivors,
      |  CAST(COALESCE(SUM(sid), 0) AS BIGINT) AS survivor_id_sum,
      |  CAST(4 AS BIGINT) AS n_batches
      |FROM sv""".stripMargin

  // ---------------------------------------------------------------- q193
  /** Video keyframe dedup ([[Multimodal.withVideoKeyframeHash]] +
    * [[Multimodal.perceptualDedup]]): container parse → decode FRAME 0
    * ONLY (cost independent of video length — the other frames' bytes
    * are skipped) → the shared aHash columns → the q191/q192 census.
    * Completes the perceptual-dedup triple: one closure, three
    * modalities. The oracle replays the frame-0 pixel formula through
    * the same hash/census/closure SQL.
    */
  def q193VideoKeyframe(s: SparkSession, dir: String): DataFrame =
    perceptualCensus(
      Multimodal.withVideoKeyframeHash(
        Multimodal.synthesizeVideos(
          t(s, dir, "documents").select(col("doc_id")), "doc_id")),
      "n_videos", "n_hashes")

  val q193Sql: String =
    """WITH RECURSIVE px AS (SELECT doc_id, ys.y * 8 + xs.x AS i,
      |  ((doc_id * 31 + xs.x * 7 + ys.y * 13) % 256
      |   + (doc_id * 17 + xs.x * 3 + ys.y * 5) % 256
      |   + (doc_id * 11 + xs.x + ys.y) % 256) AS gray
      |  FROM documents, range(0, 8) xs(x), range(0, 8) ys(y)),
      |tt AS (SELECT doc_id, SUM(gray) AS total FROM px GROUP BY doc_id),
      |bits AS (SELECT px.doc_id, px.i FROM px JOIN tt ON px.doc_id = tt.doc_id
      |  WHERE px.gray * 64 > tt.total),
      |h AS (SELECT d.doc_id,
      |  CAST(COALESCE(SUM(CASE WHEN b.i >= 32
      |    THEN (1::BIGINT << (b.i - 32)) END), 0) AS BIGINT) AS hi,
      |  CAST(COALESCE(SUM(CASE WHEN b.i < 32
      |    THEN (1::BIGINT << b.i) END), 0) AS BIGINT) AS lo
      |  FROM documents d LEFT JOIN bits b ON b.doc_id = d.doc_id
      |  GROUP BY d.doc_id),
      |g2 AS (SELECT hi, lo, COUNT(*) AS c, MIN(doc_id) AS gid
      |  FROM h GROUP BY hi, lo),
      |census AS (SELECT CAST(SUM(c) AS BIGINT) AS n_videos,
      |  COUNT(*) AS n_hashes,
      |  CAST(COALESCE(SUM(c * (c - 1) // 2), 0) AS BIGINT) AS n_pairs_exact
      |  FROM g2),
      |e1 AS (SELECT a.gid AS ga, b.gid AS gb FROM g2 a JOIN g2 b
      |  ON bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) = 1),
      |ec AS (SELECT COUNT(*) // 2 AS n_edges_h1 FROM e1),
      |walk(gid, rep) AS (
      |  SELECT gid, gid FROM g2
      |  UNION
      |  SELECT e1.gb, walk.rep FROM walk JOIN e1 ON e1.ga = walk.gid),
      |lbl AS (SELECT gid, MIN(rep) AS rep FROM walk GROUP BY gid),
      |sv AS (SELECT COUNT(DISTINCT rep) AS n_survivors_h1 FROM lbl)
      |SELECT n_videos, n_hashes, n_pairs_exact, n_edges_h1,
      |  n_hashes AS n_survivors_h0, n_survivors_h1
      |FROM census, ec, sv""".stripMargin

  // ---------------------------------------------------------------- q192
  /** Audio fingerprint dedup ([[Multimodal.withAudioFingerprint]] +
    * [[Multimodal.perceptualDedup]]): REAL WAV decode → 63-bit
    * energy-delta fingerprint (16-sample windows, strict integer
    * comparisons, two BIGINT halves) over the synthetic PCM corpus,
    * then the SAME dedup census machinery q191 runs for images —
    * shared column convention, shared closure. The oracle replays the
    * sample formula, window energies, delta bits, group arithmetic,
    * Hamming-1 probe census and the recursive component closure.
    */
  /** Shared perceptual-dedup census over any (media_id, ahash_hi,
    * ahash_lo) fingerprint frame — the q191/q192/q193 body: hash ONCE,
    * cache (four consumers), group-arithmetic pair counts, Hamming-1
    * probe edge census, survivors at Hamming 0/1, result row built
    * eagerly, cache released.
    *
    * PRECONDITION: `media_id` must be unique per fingerprint row. The
    * n_survivors_h0 = n_hashes shortcut below counts one survivor per
    * DISTINCT hash; duplicate ids within a hash group would have made
    * the old d=0 dedup count diverge from it. True for q191/q192/q193
    * (ids are source primary keys); a future caller with non-unique
    * ids must run the d=0 pass instead.
    */
  private def perceptualCensus(fp0: DataFrame, nRowsName: String,
      nHashesName: String): DataFrame = {
    val s = fp0.sparkSession
    import s.implicits._
    val fp = fp0.cache()
    try {
      val c = fp.groupBy(col("ahash_hi"), col("ahash_lo"))
        .agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(col("c")), lit(0L)).as("n_rows"),
          count(lit(1)).as("n_hashes"),
          // integer-exact c·(c−1)/2 (shift, not double division — the
          // Blocking.pairs rule: exact to ~3e9 rows per hash)
          coalesce(sum(shiftright(col("c") * (col("c") - 1L), 1)),
            lit(0L)).as("n_pairs_exact"))
        .head()
      val g = fp.select(col("ahash_hi"), col("ahash_lo")).distinct()
      val masks = (0 until 32).map(j => (0L, 1L << j)) ++
        (0 until 32).map(j => (1L << j, 0L))
      val maskDf = broadcast(masks.toDF("__mhi", "__mlo"))
      val nEdges = g.crossJoin(maskDf)
        .select(col("ahash_hi"), col("ahash_lo"),
          col("ahash_hi").bitwiseXOR(col("__mhi")).as("__phi"),
          col("ahash_lo").bitwiseXOR(col("__mlo")).as("__plo"))
        .join(g.select(col("ahash_hi").as("__phi"),
          col("ahash_lo").as("__plo")), Seq("__phi", "__plo"))
        .filter(col("ahash_hi") < col("__phi") ||
          (col("ahash_hi") === col("__phi") && col("ahash_lo") < col("__plo")))
        .agg(count(lit(1)).as("n_edges_h1"))
        .head().getLong(0)
      def survivors(d: Int): Long = {
        val r = Multimodal.perceptualDedup(fp, "media_id", maxHamming = d)
        try r.survivors.count() finally r.close()
      }
      // Hamming-0 survivors = one per DISTINCT hash = n_hashes, already
      // counted above (the d=0 dedup collapses exact-hash groups to
      // their min id — its survivor count is the group count by
      // definition, and the oracle asserts the same identity:
      // `n_fp AS n_survivors_h0`). Running the full groupBy+anti-join
      // dedup a second time to re-derive it was pure recompute; only
      // the d=1 closure — the computation the census actually tests —
      // still runs.
      Seq((c.getLong(0), c.getLong(1), c.getLong(2), nEdges,
          c.getLong(1), survivors(1)))
        .toDF(nRowsName, nHashesName, "n_pairs_exact", "n_edges_h1",
          "n_survivors_h0", "n_survivors_h1")
    } finally fp.unpersist()
  }

  def q192AudioFingerprint(s: SparkSession, dir: String): DataFrame =
    perceptualCensus(
      Multimodal.withAudioFingerprint(
        Multimodal.synthesizeWavs(
          t(s, dir, "documents").select(col("doc_id")), "doc_id"),
        windowSamples = 16),
      "n_audio", "n_fp")

  val q192Sql: String =
    """WITH RECURSIVE d AS (SELECT doc_id, 1000 + (doc_id % 7) * 100 AS n
      |  FROM documents),
      |s AS (SELECT doc_id, i.i AS i,
      |    (doc_id * 31 + i.i * 7) % 2003 - 1001 AS v
      |  FROM d, range(0, 1600) i(i) WHERE i.i < n),
      |w AS (SELECT doc_id, i // 16 AS w, SUM(ABS(v)) AS e
      |  FROM s GROUP BY doc_id, i // 16),
      |delta AS (SELECT a.doc_id, a.w AS i,
      |  CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
      |  FROM w a JOIN w b ON b.doc_id = a.doc_id AND b.w = a.w + 1
      |  WHERE a.w <= 62),
      |h AS (SELECT d.doc_id,
      |  CAST(COALESCE(SUM(CASE WHEN dl.i >= 32
      |    THEN dl.bit * (1::BIGINT << (dl.i - 32)) END), 0) AS BIGINT) AS hi,
      |  CAST(COALESCE(SUM(CASE WHEN dl.i < 32
      |    THEN dl.bit * (1::BIGINT << dl.i) END), 0) AS BIGINT) AS lo
      |  FROM d LEFT JOIN delta dl ON dl.doc_id = d.doc_id
      |  GROUP BY d.doc_id),
      |g2 AS (SELECT hi, lo, COUNT(*) AS c, MIN(doc_id) AS gid
      |  FROM h GROUP BY hi, lo),
      |census AS (SELECT CAST(SUM(c) AS BIGINT) AS n_audio,
      |  COUNT(*) AS n_fp,
      |  CAST(COALESCE(SUM(c * (c - 1) // 2), 0) AS BIGINT) AS n_pairs_exact
      |  FROM g2),
      |e1 AS (SELECT a.gid AS ga, b.gid AS gb FROM g2 a JOIN g2 b
      |  ON bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) = 1),
      |ec AS (SELECT COUNT(*) // 2 AS n_edges_h1 FROM e1),
      |walk(gid, rep) AS (
      |  SELECT gid, gid FROM g2
      |  UNION
      |  SELECT e1.gb, walk.rep FROM walk JOIN e1 ON e1.ga = walk.gid),
      |lbl AS (SELECT gid, MIN(rep) AS rep FROM walk GROUP BY gid),
      |sv AS (SELECT COUNT(DISTINCT rep) AS n_survivors_h1 FROM lbl)
      |SELECT n_audio, n_fp, n_pairs_exact, n_edges_h1,
      |  n_fp AS n_survivors_h0, n_survivors_h1
      |FROM census, ec, sv""".stripMargin

  // ---------------------------------------------------------------- q191
  /** Perceptual image dedup ([[Multimodal.withAverageHash]] +
    * [[Multimodal.perceptualDedup]]): REAL PNG decode → 64-bit average
    * hash (strict integer multiply-compare, split into two 32-bit
    * BIGINT halves) over the grouped synthetic corpus (16 visual
    * groups whose members differ only in one corner pixel), then the
    * dedup census: hash-group pair arithmetic (Σc(c−1)/2 — zero pairs
    * materialized), the Hamming-1 edge count over DISTINCT hashes (64
    * single-bit XOR probes), and survivor counts at Hamming 0 and 1 —
    * the d=1 closure runs in hash space via connected components. The
    * oracle replays everything from the pixel formula, including the
    * component closure as a recursive label-propagation CTE, so the
    * whole chain — decode fidelity, hash bits, probe join, closure —
    * is hash-checked.
    */
  def q191PerceptualDedup(s: SparkSession, dir: String): DataFrame =
    perceptualCensus(
      Multimodal.withAverageHash(
        Multimodal.synthesizeGroupedPngs(
          t(s, dir, "documents").select(col("doc_id")), "doc_id",
          groups = 16)),
      "n_images", "n_hashes")

  val q191Sql: String =
    """WITH RECURSIVE px AS (SELECT doc_id, ys.y * 8 + xs.x AS i,
      |  ((CASE WHEN xs.x = 0 AND ys.y = 0
      |    THEN ((doc_id % 16) * 37 + (xs.x // 2) * 53 + ys.y * 29 + doc_id % 5)
      |    ELSE ((doc_id % 16) * 37 + (xs.x // 2) * 53 + ys.y * 29) END) % 256
      |   + ((doc_id % 16) * 91 + (xs.x // 2) * 17 + ys.y * 43) % 256
      |   + ((doc_id % 16) * 53 + (xs.x // 2) * 11 + ys.y * 7) % 256) AS gray
      |  FROM documents, range(0, 8) xs(x), range(0, 8) ys(y)),
      |tt AS (SELECT doc_id, SUM(gray) AS total FROM px GROUP BY doc_id),
      |bits AS (SELECT px.doc_id, px.i FROM px JOIN tt ON px.doc_id = tt.doc_id
      |  WHERE px.gray * 64 > tt.total),
      |h AS (SELECT d.doc_id,
      |  CAST(COALESCE(SUM(CASE WHEN b.i >= 32
      |    THEN (1::BIGINT << (b.i - 32)) END), 0) AS BIGINT) AS hi,
      |  CAST(COALESCE(SUM(CASE WHEN b.i < 32
      |    THEN (1::BIGINT << b.i) END), 0) AS BIGINT) AS lo
      |  FROM documents d LEFT JOIN bits b ON b.doc_id = d.doc_id
      |  GROUP BY d.doc_id),
      |g2 AS (SELECT hi, lo, COUNT(*) AS c, MIN(doc_id) AS gid
      |  FROM h GROUP BY hi, lo),
      |census AS (SELECT CAST(SUM(c) AS BIGINT) AS n_images,
      |  COUNT(*) AS n_hashes,
      |  CAST(COALESCE(SUM(c * (c - 1) // 2), 0) AS BIGINT) AS n_pairs_exact
      |  FROM g2),
      |e1 AS (SELECT a.gid AS ga, b.gid AS gb FROM g2 a JOIN g2 b
      |  ON bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) = 1),
      |ec AS (SELECT COUNT(*) // 2 AS n_edges_h1 FROM e1),
      |walk(gid, rep) AS (
      |  SELECT gid, gid FROM g2
      |  UNION
      |  SELECT e1.gb, walk.rep FROM walk JOIN e1 ON e1.ga = walk.gid),
      |lbl AS (SELECT gid, MIN(rep) AS rep FROM walk GROUP BY gid),
      |sv AS (SELECT COUNT(DISTINCT rep) AS n_survivors_h1 FROM lbl)
      |SELECT n_images, n_hashes, n_pairs_exact, n_edges_h1,
      |  n_hashes AS n_survivors_h0, n_survivors_h1
      |FROM census, ec, sv""".stripMargin

  // ---------------------------------------------------------------- q190
  /** Multi-probe semantic near-dup pairs
    * ([[graft.similarity.SemDedup.nearDuplicatePairs]] with
    * `probeBits = 1`): the recall lever q189 selects for the kNN graph,
    * applied to SemDeDup candidate generation — near-dup pairs
    * straddling ONE hyperplane sit in sign-adjacent cells and the
    * single-cell candidate join misses them; each vector additionally
    * probes its planes Hamming-1 cells. The oracle replays the XOR
    * mask fan-out, so the no-duplicate-pairs claim (a pair surfaces
    * only from the smaller id probing the larger id's single home
    * cell) is hash-checked, not argued.
    */
  def q190SemdedupProbe(s: SparkSession, dir: String): DataFrame =
    graft.similarity.SemDedup.nearDuplicatePairs(
        t(s, dir, "embeddings"), "embedding", "vec_id",
        threshold = 0.3, numPlanes = 4, probeBits = 1)
      .orderBy(col("id_a"), col("id_b"))

  val q190Sql: String = {
    def cos(x: String, p: String): String =
      s"""(list_aggregate(list_transform(range(1, len($x) + 1),
         |    i -> CAST($x[i] AS DOUBLE) * CAST($p[i] AS DOUBLE)), 'sum') /
         |  (sqrt(list_aggregate(list_transform(range(1, len($x) + 1),
         |    i -> CAST($x[i] AS DOUBLE) * CAST($x[i] AS DOUBLE)), 'sum')) *
         |   sqrt(list_aggregate(list_transform(range(1, len($p) + 1),
         |    i -> CAST($p[i] AS DOUBLE) * CAST($p[i] AS DOUBLE)), 'sum'))))""".stripMargin
    def proj(p: Int): String =
      s"""list_aggregate(list_transform(range(1, len(embedding) + 1),
         |    i -> CAST(embedding[i] AS DOUBLE) *
         |      ((CAST(('0x' || substring(md5('$p|' || (i - 1)), 1, 15)) AS BIGINT)
         |        % 2000 - 1000) / 1000.0)), 'sum')""".stripMargin
    val bucket = (0 until 4).map(p =>
      s"(CASE WHEN ${proj(p)} >= 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""WITH b AS (SELECT vec_id, embedding, ($bucket) AS bucket
       |  FROM embeddings),
       |mk AS (SELECT * FROM (VALUES (0), (1), (2), (4), (8)) AS t(mask)),
       |l AS (SELECT b.vec_id AS id_a, b.embedding AS ea,
       |  xor(b.bucket, CAST(mk.mask AS BIGINT)) AS probe FROM b, mk)
       |SELECT l.id_a, r.vec_id AS id_b,
       |  ${cos("r.embedding", "l.ea")} AS cosine
       |FROM l JOIN b r ON r.bucket = l.probe AND l.id_a < r.vec_id
       |WHERE ${cos("r.embedding", "l.ea")} >= 0.3
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ---------------------------------------------------------------- q189
  /** Recall-targeted probe selection + resulting-graph census
    * ([[Ann.autoProbe]] → [[Ann.knnGraph]] →
    * [[graft.graph.GraphOps.degreeReciprocityCensus]]): the closed
    * recall loop for the kNN graph. autoProbe sweeps q144's recall
    * curve (pinned 4-plane sketch, 1-in-25 probe sample) and picks the
    * smallest probe width with estimated recall ≥ 40%; the graph is
    * then built AT that width and health-censused. One row:
    * chosen_probe_bits, its recall estimate, and the q185 structure
    * metrics of the auto-probed edge set. The oracle replays the whole
    * chain — curve, argmin selection, multi-probe edge build, census —
    * so the selection logic itself is hash-checked, not just the
    * curve.
    */
  def q189AutoProbe(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val (bits, curve) = Ann.autoProbe(e, "embedding", "vec_id", k = 10,
      probeGate = pmod(col("vec_id"), lit(25L)) === 0L,
      targetRecallPct = 40L, numPlanes = 4, maxProbeBits = 2)
    val sel = curve.filter(col("probe_bits") === bits)
      .select(col("probe_bits").cast("long").as("chosen_probe_bits"),
        col("recall_pct"))
    val census = graft.graph.GraphOps.degreeReciprocityCensus(
      Ann.knnGraph(e, "embedding", "vec_id", k = 3,
        numPlanes = 4, probeBits = bits))
    sel.crossJoin(census)
  }

  val q189Sql: String = {
    def cos(x: String, p: String): String =
      s"""(list_aggregate(list_transform(range(1, len($x) + 1),
         |    i -> CAST($x[i] AS DOUBLE) * CAST($p[i] AS DOUBLE)), 'sum') /
         |  (sqrt(list_aggregate(list_transform(range(1, len($x) + 1),
         |    i -> CAST($x[i] AS DOUBLE) * CAST($x[i] AS DOUBLE)), 'sum')) *
         |   sqrt(list_aggregate(list_transform(range(1, len($p) + 1),
         |    i -> CAST($p[i] AS DOUBLE) * CAST($p[i] AS DOUBLE)), 'sum'))))""".stripMargin
    def proj(p: Int): String =
      s"""list_aggregate(list_transform(range(1, len(embedding) + 1),
         |    i -> CAST(embedding[i] AS DOUBLE) *
         |      ((CAST(('0x' || substring(md5('$p|' || (i - 1)), 1, 15)) AS BIGINT)
         |        % 2000 - 1000) / 1000.0)), 'sum')""".stripMargin
    val bucket = (0 until 4).map(p =>
      s"(CASE WHEN ${proj(p)} >= 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    val masks = Seq((0, 0), (1, 1), (2, 1), (4, 1), (8, 1),
      (3, 2), (5, 2), (6, 2), (9, 2), (10, 2), (12, 2))
      .map { case (m, d) => s"($m, $d)" }.mkString(", ")
    s"""WITH b AS (SELECT vec_id, embedding, ($bucket) AS bucket
       |  FROM embeddings),
       |pr AS (SELECT vec_id AS pid, embedding AS pe FROM embeddings
       |  WHERE vec_id % 25 = 0),
       |sc AS (SELECT pid, e.vec_id AS nid, ${cos("e.embedding", "pe")} AS c
       |  FROM embeddings e, pr WHERE e.vec_id <> pid),
       |ex AS (SELECT pid, nid FROM (SELECT pid, nid,
       |  ROW_NUMBER() OVER (PARTITION BY pid ORDER BY c DESC, nid ASC) AS rn
       |  FROM sc) WHERE rn <= 10),
       |pbk AS (SELECT pr.pid, pr.pe, b.bucket AS pbucket
       |  FROM pr JOIN b ON pr.pid = b.vec_id),
       |mk AS (SELECT * FROM (VALUES $masks) AS t(mask, hd)),
       |cand AS (SELECT pbk.pid, bb.vec_id AS nid,
       |  ${cos("bb.embedding", "pbk.pe")} AS c, mk.hd
       |  FROM pbk CROSS JOIN mk
       |  JOIN b bb ON bb.bucket = xor(pbk.pbucket, CAST(mk.mask AS BIGINT))
       |  WHERE bb.vec_id <> pbk.pid),
       |lv AS (SELECT cand.pid, cand.nid, cand.c, gs.l FROM cand
       |  JOIN (VALUES (0), (1), (2)) AS gs(l) ON gs.l >= cand.hd),
       |ap AS (SELECT l, pid, nid FROM (SELECT l, pid, nid,
       |  ROW_NUMBER() OVER (PARTITION BY l, pid ORDER BY c DESC, nid ASC)
       |    AS rn FROM lv) WHERE rn <= 10),
       |hits AS (SELECT l, COUNT(*) AS n_hits FROM ap
       |  JOIN ex ON ap.pid = ex.pid AND ap.nid = ex.nid GROUP BY l),
       |curve AS (SELECT gs.l,
       |  (100 * COALESCE(hits.n_hits, 0)) // (SELECT COUNT(*) FROM ex)
       |    AS recall_pct
       |  FROM (VALUES (0), (1), (2)) AS gs(l)
       |  LEFT JOIN hits ON hits.l = gs.l),
       |ch AS (SELECT COALESCE(MIN(CASE WHEN recall_pct >= 40 THEN l END), 2)
       |  AS chosen FROM curve),
       |sel AS (SELECT CAST(c.l AS BIGINT) AS chosen_probe_bits, c.recall_pct
       |  FROM curve c JOIN ch ON c.l = ch.chosen),
       |np AS (SELECT n.vec_id AS src, n.embedding AS se,
       |  xor(n.bucket, CAST(mk.mask AS BIGINT)) AS probe
       |  FROM b n, mk, ch WHERE mk.hd <= ch.chosen),
       |ec AS (SELECT np.src, t3.vec_id AS dst,
       |  ${cos("t3.embedding", "np.se")} AS cosine
       |  FROM np JOIN b t3 ON t3.bucket = np.probe AND t3.vec_id <> np.src),
       |er AS (SELECT src, dst, ROW_NUMBER() OVER (
       |  PARTITION BY src ORDER BY cosine DESC, dst ASC) AS rank FROM ec),
       |e2 AS (SELECT src AS s2, dst AS d2 FROM er WHERE rank <= 3),
       |nodes AS (SELECT COUNT(DISTINCT v) AS n_nodes FROM
       |  (SELECT s2 AS v FROM e2 UNION ALL SELECT d2 FROM e2)),
       |cnt AS (SELECT COUNT(*) AS n_edges FROM e2),
       |recip AS (SELECT COUNT(*) AS n_reciprocal FROM e2
       |  WHERE EXISTS (SELECT 1 FROM e2 r2 WHERE r2.s2 = e2.d2 AND r2.d2 = e2.s2)),
       |indeg AS (SELECT CAST(COALESCE(MAX(cc), 0) AS BIGINT) AS max_in_degree,
       |  COUNT(*) AS n_receiving FROM
       |  (SELECT d2, COUNT(*) AS cc FROM e2 GROUP BY d2))
       |SELECT chosen_probe_bits, recall_pct, n_nodes, n_edges, n_reciprocal,
       |  max_in_degree, n_receiving, n_nodes - n_receiving AS n_isolated
       |FROM sel, nodes, cnt, recip, indeg""".stripMargin
  }

  // ---------------------------------------------------------------- q188
  /** Blocking self-recall census — the evidence behind
    * [[graft.candidates.CandidateGenerator.auto]]'s recall gate
    * ([[graft.candidates.LshBlockingGenerator.selfRecallCensus]]),
    * replayed with a PORTABLE truth gate so DuckDB can hash-check it:
    * gated documents (doc_id % 50 = 0) each paired with a copy whose
    * text lost its last token, band keys from the shared 4-hash
    * minhash (mh0#mh1 / mh2#mh3 — q31/q32's sketch), covered = truth
    * pairs sharing ≥ 1 band key through
    * [[graft.candidates.Blocking.orPairCompleteness]]. The library
    * method's xxhash64 TakeOrdered sample is engine-specific, so the
    * catalog variant swaps only the sampling step; sketch,
    * perturbation and census arithmetic are identical.
    */
  def q188SelfRecall(s: SparkSession, dir: String): DataFrame = {
    val g = t(s, dir, "documents")
      .filter(col("text").isNotNull && pmod(col("doc_id"), lit(50)) === 0)
      .select(col("doc_id").as("tru"), col("text"))
    val both = g.select(col("tru"), (col("tru") * 2).as("pid"), col("text"))
      .unionByName(g.select(col("tru"), (col("tru") * 2 + 1).as("pid"),
        regexp_replace(col("text"), "\\s+\\S+$", "").as("text")))
    val Seq(bk0, bk1) = Dedup.bandKeyCols(col("__sig"), 2, 2)
    val keyed = both.select(col("tru"), col("pid"), MinHashSignature(col("text"), 4).as("__sig"))
      .select(col("tru"), col("pid"), bk0.as("bk0"), bk1.as("bk1"))
    graft.candidates.Blocking.orPairCompleteness(
      keyed, Seq("bk0", "bk1"), "tru", "pid")
  }

  val q188Sql: String =
    """WITH g AS (SELECT doc_id AS tru, text FROM documents
      |  WHERE text IS NOT NULL AND doc_id % 50 = 0),
      |b AS (SELECT tru, tru*2 AS pid, text FROM g
      |  UNION ALL
      |  SELECT tru, tru*2+1, regexp_replace(text, '\s+\S+$', '') FROM g),
      |tk AS (SELECT pid, tru, text, string_split(text, ' ') AS tkl FROM b),
      |shc AS (SELECT pid, tru, CASE WHEN len(tkl) >= 3
      |  THEN list_transform(range(1, len(tkl) - 1),
      |    i -> tkl[i] || ' ' || tkl[i+1] || ' ' || tkl[i+2])
      |  ELSE [text] END AS sh FROM tk),
      |sig AS (SELECT pid, tru,
      |  list_aggregate(list_transform(sh, x -> md5('0|' || x)), 'min') AS h0,
      |  list_aggregate(list_transform(sh, x -> md5('1|' || x)), 'min') AS h1,
      |  list_aggregate(list_transform(sh, x -> md5('2|' || x)), 'min') AS h2,
      |  list_aggregate(list_transform(sh, x -> md5('3|' || x)), 'min') AS h3
      |  FROM shc),
      |k AS (SELECT pid, tru, 0 AS band, h0 || '#' || h1 AS key FROM sig
      |  UNION ALL SELECT pid, tru, 1, h2 || '#' || h3 FROM sig),
      |n AS (SELECT COUNT(*) AS n_rows FROM b),
      |tp AS (SELECT CAST(COALESCE(SUM(c*(c-1)//2), 0) AS BIGINT) AS truth_pairs
      |  FROM (SELECT COUNT(*) AS c FROM b GROUP BY tru)),
      |cv AS (SELECT COUNT(*) AS covered_matches FROM
      |  (SELECT DISTINCT a.tru, a.pid, x.pid AS pid2 FROM k a JOIN k x
      |    ON a.tru = x.tru AND a.pid < x.pid
      |    AND a.band = x.band AND a.key = x.key))
      |SELECT n_rows, truth_pairs, covered_matches,
      |  CASE WHEN truth_pairs = 0 THEN 0 ELSE CAST(FLOOR(
      |    CAST(covered_matches AS DOUBLE) / CAST(truth_pairs AS DOUBLE)
      |    * 1e9) AS BIGINT) END AS pair_completeness_q
      |FROM n, tp, cv""".stripMargin

  // ---------------------------------------------------------------- q196
  /** End-to-end training-data pipeline COMPOSITION: the funnel a real
    * corpus build runs — exact dedup → MinHash near-dup → semantic
    * dedup → Gopher quality gate → benchmark decontamination → mix
    * sampling → sequence packing — chained over the REAL operator
    * surfaces (each proven alone by q30/q32/q76/q180/q58/q53/q71),
    * with a per-stage survivor ledger (stage, n_in, n_out). Every
    * stage uses its portable formulation (md5 hashes, pinned 4-plane
    * cells, md5 sampling gates), so the DuckDB oracle replays the
    * WHOLE funnel stage by stage — the hash match proves the
    * operators COMPOSE (stage N's exact survivor set feeds stage
    * N+1), not just that each works in isolation.
    *
    * Scale shape: the composition inherits each stage's own posture —
    * one md5-key shuffle, banded LSH buckets + edge-sized closure,
    * pinned-plane cells + edge-sized closure, scan-local quality
    * gates, a broadcast benchmark-gram semi-join, a scan-local hash
    * gate, and per-(lang) window packing. Nothing materializes pairs
    * outside a bucket and nothing reaches the driver but the seven
    * ledger counts.
    */
  def q196PipelineFunnel(s: SparkSession, dir: String): DataFrame =
    pipelineFunnel(s, t(s, dir, "documents"),
      t(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
      semPlanes = 4, semProbe = 0) // pinned: the oracle replays the cells

  /** The q196 funnel over caller-supplied frames — the same body the
    * catalog query and the composition growth leg ran (4.6 at 16×,
    * measured, SURVEY.md round 9 ScaleSmoke), so that measurement
    * exercised the exact chained plan the oracle hash-checks. `docs`
    * needs (doc_id, text, lang, source); `embs`
    * (vec_id, embedding) with vec_id aligned to doc_id.
    *
    * `semPlanes`/`semProbe` set the semantic-dedup cell geometry: the
    * catalog query pins (4, 0) so the DuckDB oracle replays the exact
    * cells, but pinned planes are a REPLAY artifact, not a scale
    * posture — fixed cell count means 16× corpus growth makes every
    * cell 16× denser and the within-cell verify quadratic (the
    * 27.7× funnel leg at 16×, measured, SURVEY.md round 9 ScaleSmoke,
    * vs linear once the leg passes
    * AutoPlanes — production callers should leave the default).
    */
  def pipelineFunnel(s: SparkSession, docs: DataFrame, embs: DataFrame,
      semPlanes: Int = graft.similarity.SemDedup.AutoPlanes,
      semProbe: Int = 1): DataFrame = {
    import s.implicits._
    // Inter-stage checkpoints: each stage's survivor set is consumed
    // by its own count AND by every downstream stage's action, so an
    // unpinned chain re-executes stage k once per downstream stage —
    // O(stages²) recompute (measured: 15.1 s → ~2× less with pins at
    // sf0.1). Pins and the two dedup handles are released before
    // return, exception or not (the ledger is a local Seq by then); a
    // disk-backed pipeline would write intermediate tables here
    // instead, same idea.
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = { pinned += df.cache(); df }
    val handles = scala.collection.mutable.ArrayBuffer.empty[AutoCloseable]
    try {
      val d0 = pin(docs.filter(col("text").isNotNull))
      val n0 = d0.count()
      // 1. exact dedup (q30): min doc_id survives its md5(text) group
      val d1 = pin(d0.join(Dedup.exactSurvivors(d0, "text", "doc_id")
        .select(col("doc_id")), Seq("doc_id"), "left_semi"))
      val n1 = d1.count()
      // 2+3. the two closure stages run their edge-sized shuffles at 8
      // partitions (the q68/q76 sizing rule — duplicate-pair edge sets
      // are orders of magnitude below the corpus; each closure round is
      // ~6 shuffles, so the default-partition overhead multiplies).
      // Scoped via ConfScope's forked session, NOT a session-conf
      // mutation: a concurrent query planned while these stages run
      // keeps the caller's own width.
      val d1s = graft.operators.ConfScope.shufflePartitions(d1, 8)
      // 2. MinHash near-dup deletion (q32 candidates, q68 closure)
      val r2 = Dedup.dropNearDuplicates(d1s, "text", "doc_id",
        threshold = 0.7)
      handles += r2
      // 3. semantic dedup over the joined embedding column
      //    (geometry from semPlanes/semProbe — the catalog query
      //    pins q76's 4-plane single-probe cells for replay)
      val r3 = graft.similarity.SemDedup.dropEmbeddingNearDuplicates(
        r2.survivors.join(embs, col("doc_id") === col("vec_id")),
        "embedding", "doc_id", threshold = 0.5, numPlanes = semPlanes,
        probeBits = semProbe)
      handles += r3
      // scope exit: survivors re-bind to the caller's session so the
      // downstream corpus-scale stages plan at the caller's width
      val d2 = pin(graft.operators.ConfScope.bindTo(r2.survivors, s))
      val n2 = d2.count()
      // losers anti-join, NOT r3.survivors: the semdedup input is the
      // embedding INNER join, so a doc with no embedding row is absent
      // from r3.survivors — but it cannot be a semantic near-dup and
      // must pass through (the oracle's d3 = d2 minus losers semantic)
      val d3 = pin(d2.join(r3.losers, Seq("doc_id"), "left_anti"))
      val n3 = d3.count()
      // 4. Gopher quality gate (q180's four rules)
      val d4 = pin(TextAnalysis.withGopherSignals(d3)
        .filter(!col("g_fail_mwl") && !col("g_fail_len") &&
          !col("g_fail_stop") && !col("g_fail_rep"))
        .select(d3.columns.map(col).toIndexedSeq: _*))
      val n4 = d4.count()
      // 5. decontamination (q58's ANY-shared rule via the
      //    Decontaminate module): drop the benchmark source itself
      //    plus any survivor sharing a distinct 5-gram with it (grams
      //    from the RAW corpus — contamination is against the
      //    benchmark as published, not its deduped remnant)
      val bGrams = graft.text.Decontaminate.gramSet(
        d0.filter(col("source") === "src19"), "text", 5)
      val train = d4.filter(col("source") =!= "src19")
      val contaminated = graft.text.Decontaminate.contaminatedAnyShared(
        train, "text", "doc_id", bGrams, 5)
      val d5 = pin(train.join(contaminated, Seq("doc_id"), "left_anti"))
      val n5 = d5.count()
      // 6. mix sampling (q53's md5 gate)
      val d6 = pin(TextAnalysis.mixSample(d5, "source", "doc_id",
        funnelMixRates))
      val n6 = d6.count()
      // 7. sequence packing (q71): 512-token chunks per lang; the
      //    ledger's final n_out is the CHUNK count the funnel emits
      val nChunks = graft.operators.Packing.packingCensus(
          d6.select(col("lang"), col("doc_id"),
            size(split(col("text"), " ")).as("sz")),
          Seq("lang"), "doc_id", "sz", budget = 512)
        .agg(coalesce(sum(col("n_chunks")), lit(0L))).head().getLong(0)
      Seq(
        (1, "exact_dedup", n0, n1),
        (2, "neardup_minhash", n1, n2),
        (3, "semdedup", n2, n3),
        (4, "gopher_quality", n3, n4),
        (5, "decontaminate", n4, n5),
        (6, "mix_sample", n5, n6),
        (7, "pack_512", n6, nChunks))
        .toDF("stage", "stage_name", "n_in", "n_out")
        .orderBy(col("stage"))
    } finally {
      handles.foreach(_.close())
      pinned.foreach(_.unpersist(false))
    }
  }

  /** Funnel mix rates: every non-benchmark source enumerated (absent
    * strata drop to 0 under [[TextAnalysis.mixSample]]), every third
    * source downsampled — the oversampled-crawl-snapshot shape.
    */
  val funnelMixRates: Map[String, Double] =
    (0 to 18).map(i => s"src$i" -> (if (i % 3 == 0) 0.5 else 1.0)).toMap

  val q196Sql: String = {
    val en = TextAnalysis.stopwords.toMap.apply("en")
      .map(w => s"'$w'").mkString("[", ", ", "]")
    def proj(p: Int): String =
      s"""list_aggregate(list_transform(range(1, len(e.embedding) + 1),
         |    i -> CAST(e.embedding[i] AS DOUBLE) *
         |      ((CAST(('0x' || substring(md5('$p|' || (i - 1)), 1, 15)) AS BIGINT)
         |        % 2000 - 1000) / 1000.0)), 'sum')""".stripMargin
    val bucket = (0 until 4).map(p =>
      s"(CASE WHEN ${proj(p)} >= 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    val gram5 =
      """CASE WHEN len(tkl) >= 5
        |  THEN list_transform(range(1, len(tkl) - 3),
        |    i -> tkl[i] || ' ' || tkl[i+1] || ' ' || tkl[i+2] || ' ' || tkl[i+3] || ' ' || tkl[i+4])
        |  ELSE [text] END""".stripMargin
    val rate = funnelMixRates.toSeq.sortBy(_._1).map { case (sc, r) =>
      s"WHEN '$sc' THEN CAST($r AS DOUBLE)"
    }.mkString(" ")
    s"""WITH RECURSIVE
       |d0 AS (SELECT doc_id, text, lang, source, n_chars FROM documents
       |  WHERE text IS NOT NULL),
       |ex AS (SELECT MIN(doc_id) AS doc_id FROM d0 GROUP BY md5(text)),
       |d1 AS (SELECT d0.* FROM d0 JOIN ex USING (doc_id)),
       |sh2 AS (SELECT doc_id, CASE WHEN len(tkl) >= 3
       |    THEN list_transform(range(1, len(tkl) - 1),
       |      i -> tkl[i] || ' ' || tkl[i+1] || ' ' || tkl[i+2])
       |    ELSE [text] END AS sh
       |  FROM (SELECT doc_id, text, string_split(text, ' ') AS tkl FROM d1)),
       |sg2 AS (SELECT doc_id, sh,
       |  list_aggregate(list_transform(sh, x -> md5('0|' || x)), 'min') AS h0,
       |  list_aggregate(list_transform(sh, x -> md5('1|' || x)), 'min') AS h1,
       |  list_aggregate(list_transform(sh, x -> md5('2|' || x)), 'min') AS h2,
       |  list_aggregate(list_transform(sh, x -> md5('3|' || x)), 'min') AS h3
       |  FROM sh2),
       |k2 AS (SELECT doc_id, 0 AS band, h0 || '#' || h1 AS key FROM sg2
       |  UNION ALL SELECT doc_id, 1, h2 || '#' || h3 FROM sg2),
       |cd2 AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
       |  FROM k2 a JOIN k2 b
       |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |vr2 AS (SELECT ia, ib FROM cd2
       |  JOIN (SELECT doc_id, list_distinct(sh) AS sha FROM sg2) x ON x.doc_id = ia
       |  JOIN (SELECT doc_id, list_distinct(sh) AS shb FROM sg2) y ON y.doc_id = ib
       |  WHERE CAST(len(list_intersect(sha, shb)) AS DOUBLE) /
       |    CAST(len(list_distinct(list_concat(sha, shb))) AS DOUBLE) >= 0.7),
       |sy2 AS (SELECT ia AS a, ib AS b FROM vr2
       |  UNION SELECT ib, ia FROM vr2),
       |rc2(a, b) AS (SELECT a, b FROM sy2
       |  UNION SELECT r.a, s2.b FROM rc2 r JOIN sy2 s2 ON r.b = s2.a),
       |lo2 AS (SELECT a AS doc_id FROM
       |  (SELECT a, LEAST(a, MIN(b)) AS rep FROM rc2 GROUP BY a)
       |  WHERE a <> rep),
       |d2 AS (SELECT * FROM d1
       |  WHERE doc_id NOT IN (SELECT doc_id FROM lo2)),
       |bk3 AS (SELECT e.vec_id, e.embedding, ($bucket) AS bucket
       |  FROM embeddings e JOIN d2 ON d2.doc_id = e.vec_id),
       |e3 AS (SELECT a.vec_id AS ia, b.vec_id AS ib
       |  FROM bk3 a JOIN bk3 b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  WHERE list_aggregate(list_transform(range(1, len(a.embedding) + 1),
       |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum') /
       |  (sqrt(list_aggregate(list_transform(range(1, len(a.embedding) + 1),
       |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), 'sum')) *
       |   sqrt(list_aggregate(list_transform(range(1, len(b.embedding) + 1),
       |    i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum')))
       |    >= 0.5),
       |sy3 AS (SELECT ia AS a, ib AS b FROM e3
       |  UNION SELECT ib, ia FROM e3),
       |rc3(a, b) AS (SELECT a, b FROM sy3
       |  UNION SELECT r.a, s3.b FROM rc3 r JOIN sy3 s3 ON r.b = s3.a),
       |lo3 AS (SELECT a AS doc_id FROM
       |  (SELECT a, LEAST(a, MIN(b)) AS rep FROM rc3 GROUP BY a)
       |  WHERE a <> rep),
       |d3 AS (SELECT * FROM d2
       |  WHERE doc_id NOT IN (SELECT doc_id FROM lo3)),
       |g4 AS (SELECT doc_id, text, lang, source, n_chars,
       |  len(tkl) AS nw,
       |  list_aggregate(list_transform(tkl, w -> len(w)), 'sum') AS sc,
       |  len(list_filter(tkl, x -> list_contains($en, x))) AS sth,
       |  list_max(list_transform(list_distinct(tkl),
       |    t2 -> len(list_filter(tkl, x -> x = t2)))) AS topc
       |  FROM (SELECT d3.*, string_split(text, ' ') AS tkl FROM d3)),
       |d4 AS (SELECT doc_id, text, lang, source, n_chars FROM g4
       |  WHERE NOT (sc < 3 * nw OR sc > 10 * nw)
       |    AND NOT (nw < 50 OR nw > 100000)
       |    AND NOT (sth < 2) AND NOT (topc * 5 > nw)),
       |bg5 AS (SELECT DISTINCT gram FROM
       |  (SELECT unnest(list_distinct($gram5)) AS gram FROM
       |    (SELECT text, string_split(text, ' ') AS tkl FROM d0
       |     WHERE source = 'src19'))),
       |tr5 AS (SELECT * FROM d4 WHERE source <> 'src19'),
       |ct5 AS (SELECT DISTINCT doc_id FROM
       |  (SELECT doc_id, unnest(list_distinct($gram5)) AS gram FROM
       |    (SELECT doc_id, text, string_split(text, ' ') AS tkl FROM tr5)) gg
       |  JOIN bg5 ON gg.gram = bg5.gram),
       |d5 AS (SELECT * FROM tr5
       |  WHERE doc_id NOT IN (SELECT doc_id FROM ct5)),
       |d6 AS (SELECT * FROM d5
       |  WHERE (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
       |      AS BIGINT) % 10000)
       |    < (CASE source $rate ELSE CAST(0.0 AS DOUBLE) END) * 10000),
       |c7 AS (SELECT lang, sz, SUM(sz) OVER (PARTITION BY lang
       |    ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM
       |  (SELECT lang, doc_id, len(string_split(text, ' ')) AS sz FROM d6)),
       |a7 AS (SELECT lang, CASE WHEN sz > 0 THEN (cum - 1) // 512
       |    ELSE (cum - sz) // 512 END AS ce FROM c7),
       |pk AS (SELECT CAST(COALESCE(SUM(mx + 1), 0) AS BIGINT) AS n_chunks
       |  FROM (SELECT MAX(ce) AS mx FROM a7 GROUP BY lang))
       |SELECT * FROM (
       |  SELECT 1 AS stage, 'exact_dedup' AS stage_name,
       |    (SELECT COUNT(*) FROM d0) AS n_in,
       |    (SELECT COUNT(*) FROM d1) AS n_out
       |  UNION ALL SELECT 2, 'neardup_minhash',
       |    (SELECT COUNT(*) FROM d1), (SELECT COUNT(*) FROM d2)
       |  UNION ALL SELECT 3, 'semdedup',
       |    (SELECT COUNT(*) FROM d2), (SELECT COUNT(*) FROM d3)
       |  UNION ALL SELECT 4, 'gopher_quality',
       |    (SELECT COUNT(*) FROM d3), (SELECT COUNT(*) FROM d4)
       |  UNION ALL SELECT 5, 'decontaminate',
       |    (SELECT COUNT(*) FROM d4), (SELECT COUNT(*) FROM d5)
       |  UNION ALL SELECT 6, 'mix_sample',
       |    (SELECT COUNT(*) FROM d5), (SELECT COUNT(*) FROM d6)
       |  UNION ALL SELECT 7, 'pack_512',
       |    (SELECT COUNT(*) FROM d6), (SELECT n_chunks FROM pk)
       |) ORDER BY stage""".stripMargin
  }

  // ---------------------------------------------------------------- q197
  /** Incremental near-dup corpus maintenance
    * ([[Dedup.incrementalNearDuplicates]]): the corpus splits at the
    * doc_id midpoint into an established HISTORY (deduped first, the
    * state a production corpus carries) and a new BATCH; the batch
    * then deduplicates against history incrementally — batch×batch
    * LSH plus batch×history band-key probes, history×history never
    * rescanned. Output: the surviving batch doc_ids.
    *
    * The oracle is the SEMANTIC CONTRACT, not an implementation
    * replay: DuckDB runs the full near-dup closure over
    * (history-survivors ∪ batch) and restricts to the batch — so the
    * hash match PROVES the incremental path computes exactly the full
    * replay's answer at batch-driven cost (the only affordable shape
    * when history is 100 TB and the batch is a day's crawl).
    */
  def q197IncrementalNearDup(s: SparkSession, dir: String): DataFrame = {
    val d0 = t(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val r = d0.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .head()
    val split = Math.floorDiv(r.getLong(0) + r.getLong(1), 2L)
    val history = d0.filter(col("doc_id") <= split)
    val batch = d0.filter(col("doc_id") > split)
    // r12: ONE history sketch pass. The old body sketched history twice
    // — dropNearDuplicates internally, then incrementalNearDuplicates's
    // own lshBandKeys(histSurv) — and the md5-min signature fold is the
    // query's dominant per-row work. The band keys are now computed
    // once, persisted, consumed by the history dedup AND (filtered to
    // survivors — identical keys, band scheme unchanged) by the batch
    // probe join through the historyKeys seam. Results identical:
    // survivors' band keys ARE the persisted keys' survivor subset.
    val keysH = Dedup.lshBandKeys(history, "text", "doc_id").persist()
    try {
      val hr = Dedup.dropNearDuplicatesFromKeys(history, keysH, "text",
        "doc_id", threshold = 0.7)
      val survKeys = keysH.join(hr.survivors.select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      val out = Dedup.incrementalNearDuplicates(hr.survivors, batch,
          "text", "doc_id", threshold = 0.7, historyKeys = Some(survKeys))
        .survivors.select(col("doc_id")).orderBy(col("doc_id"))
      // incrementalNearDuplicates is internally eager (losers are
      // materialized), so the returned frame depends only on batch +
      // its pinned loser set — the history-side pins release here
      hr.close()
      out
    } finally keysH.unpersist(false)
  }

  /** The portable MinHash(4)/2-band near-dup closure as a reusable CTE
    * chain: emits `<p>sh … <p>surv` reading (doc_id, text) rows from
    * CTE `src`; `<p>surv` is the survivor rows of `src`. The same
    * machinery q196's funnel inlines, factored because q197 needs it
    * twice (history pass, then the full-replay contract).
    */
  private def minhashDedupCtes(p: String, src: String,
      threshold: Double): String =
    s"""${p}sh AS (SELECT doc_id, CASE WHEN len(tkl) >= 3
       |    THEN list_transform(range(1, len(tkl) - 1),
       |      i -> tkl[i] || ' ' || tkl[i+1] || ' ' || tkl[i+2])
       |    ELSE [text] END AS sh
       |  FROM (SELECT doc_id, text, string_split(text, ' ') AS tkl FROM $src)),
       |${p}sg AS (SELECT doc_id, sh,
       |  list_aggregate(list_transform(sh, x -> md5('0|' || x)), 'min') AS h0,
       |  list_aggregate(list_transform(sh, x -> md5('1|' || x)), 'min') AS h1,
       |  list_aggregate(list_transform(sh, x -> md5('2|' || x)), 'min') AS h2,
       |  list_aggregate(list_transform(sh, x -> md5('3|' || x)), 'min') AS h3
       |  FROM ${p}sh),
       |${p}k AS (SELECT doc_id, 0 AS band, h0 || '#' || h1 AS key FROM ${p}sg
       |  UNION ALL SELECT doc_id, 1, h2 || '#' || h3 FROM ${p}sg),
       |${p}cd AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
       |  FROM ${p}k a JOIN ${p}k b
       |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |${p}vr AS (SELECT ia, ib FROM ${p}cd
       |  JOIN (SELECT doc_id, list_distinct(sh) AS sha FROM ${p}sg) x ON x.doc_id = ia
       |  JOIN (SELECT doc_id, list_distinct(sh) AS shb FROM ${p}sg) y ON y.doc_id = ib
       |  WHERE CAST(len(list_intersect(sha, shb)) AS DOUBLE) /
       |    CAST(len(list_distinct(list_concat(sha, shb))) AS DOUBLE) >= $threshold),
       |${p}sy AS (SELECT ia AS a, ib AS b FROM ${p}vr
       |  UNION SELECT ib, ia FROM ${p}vr),
       |${p}rc(a, b) AS (SELECT a, b FROM ${p}sy
       |  UNION SELECT r.a, s.b FROM ${p}rc r JOIN ${p}sy s ON r.b = s.a),
       |${p}lo AS (SELECT a AS doc_id FROM
       |  (SELECT a, LEAST(a, MIN(b)) AS rep FROM ${p}rc GROUP BY a)
       |  WHERE a <> rep),
       |${p}surv AS (SELECT * FROM $src
       |  WHERE doc_id NOT IN (SELECT doc_id FROM ${p}lo))""".stripMargin

  val q197Sql: String =
    s"""WITH RECURSIVE
       |d0 AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
       |bnd AS (SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS split FROM d0),
       |h0 AS (SELECT d0.* FROM d0, bnd WHERE doc_id <= split),
       |${minhashDedupCtes("h", "h0", 0.7)},
       |u0 AS (SELECT * FROM hsurv
       |  UNION ALL SELECT d0.* FROM d0, bnd WHERE doc_id > split),
       |${minhashDedupCtes("u", "u0", 0.7)}
       |SELECT doc_id FROM usurv, bnd WHERE doc_id > split
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q198
  /** Incremental SEMANTIC dedup
    * ([[graft.similarity.SemDedup.incrementalEmbeddingNearDuplicates]])
    * — the embedding-space twin of q197: history (vec_id ≤ midpoint)
    * is semantically deduped first under the q76 pinned portable cell
    * scheme (4 md5-hyperplanes, single-probe), then the batch
    * deduplicates against it incrementally — batch×batch cells plus
    * history-probe×batch-home joins, history×history never
    * re-verified. Output: surviving batch vec_ids. The oracle is the
    * full-replay semantic contract (dedup over history-survivors ∪
    * batch, restricted to the batch), exactly like q197's.
    */
  def q198IncrementalSemDedup(s: SparkSession, dir: String): DataFrame = {
    val e0 = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val r = e0.agg(min(col("vec_id")).as("lo"), max(col("vec_id")).as("hi"))
      .head()
    val split = Math.floorDiv(r.getLong(0) + r.getLong(1), 2L)
    val history = e0.filter(col("vec_id") <= split)
    val batch = e0.filter(col("vec_id") > split)
    // closure shuffles are edge-sized — the q68/q76 sizing rule,
    // ConfScope-forked, never the caller's conf
    val histSurv = graft.similarity.SemDedup.dropEmbeddingNearDuplicates(
      graft.operators.ConfScope.shufflePartitions(history, 8),
      "embedding", "vec_id", threshold = 0.3, numPlanes = 4,
      probeBits = 0).survivors
    graft.similarity.SemDedup.incrementalEmbeddingNearDuplicates(
        histSurv, graft.operators.ConfScope.shufflePartitions(batch, 8),
        "embedding", "vec_id", threshold = 0.3,
        numPlanes = 4, probeBits = 0)
      .survivors.select(col("vec_id")).orderBy(col("vec_id"))
  }

  /** Portable 4-plane semantic-dedup closure as a reusable CTE chain
    * (the q196 bk3/e3/rc3 machinery, factored): emits
    * `<p>bk … <p>surv` reading (vec_id, embedding) rows from CTE
    * `src`.
    */
  private def semDedupCtes(p: String, src: String,
      threshold: Double): String = {
    def proj(pl: Int): String =
      s"""list_aggregate(list_transform(range(1, len(e.embedding) + 1),
         |    i -> CAST(e.embedding[i] AS DOUBLE) *
         |      ((CAST(('0x' || substring(md5('$pl|' || (i - 1)), 1, 15)) AS BIGINT)
         |        % 2000 - 1000) / 1000.0)), 'sum')""".stripMargin
    val bucket = (0 until 4).map(pl =>
      s"(CASE WHEN ${proj(pl)} >= 0 THEN CAST(${1L << pl} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""${p}bk AS (SELECT e.vec_id, e.embedding, ($bucket) AS bucket
       |  FROM $src e),
       |${p}ed AS (SELECT a.vec_id AS ia, b.vec_id AS ib
       |  FROM ${p}bk a JOIN ${p}bk b
       |  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  WHERE list_aggregate(list_transform(range(1, len(a.embedding) + 1),
       |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum') /
       |  (sqrt(list_aggregate(list_transform(range(1, len(a.embedding) + 1),
       |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), 'sum')) *
       |   sqrt(list_aggregate(list_transform(range(1, len(b.embedding) + 1),
       |    i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum')))
       |    >= $threshold),
       |${p}sy AS (SELECT ia AS a, ib AS b FROM ${p}ed
       |  UNION SELECT ib, ia FROM ${p}ed),
       |${p}rc(a, b) AS (SELECT a, b FROM ${p}sy
       |  UNION SELECT r.a, s.b FROM ${p}rc r JOIN ${p}sy s ON r.b = s.a),
       |${p}lo AS (SELECT a AS vec_id FROM
       |  (SELECT a, LEAST(a, MIN(b)) AS rep FROM ${p}rc GROUP BY a)
       |  WHERE a <> rep),
       |${p}surv AS (SELECT * FROM $src
       |  WHERE vec_id NOT IN (SELECT vec_id FROM ${p}lo))""".stripMargin
  }

  val q198Sql: String =
    s"""WITH RECURSIVE
       |e0 AS (SELECT vec_id, embedding FROM embeddings),
       |bnd AS (SELECT (MIN(vec_id) + MAX(vec_id)) // 2 AS split FROM e0),
       |h0 AS (SELECT e0.* FROM e0, bnd WHERE vec_id <= split),
       |${semDedupCtes("h", "h0", 0.3)},
       |u0 AS (SELECT * FROM hsurv
       |  UNION ALL SELECT e0.* FROM e0, bnd WHERE vec_id > split),
       |${semDedupCtes("u", "u0", 0.3)}
       |SELECT vec_id FROM usurv, bnd WHERE vec_id > split
       |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q199
  /** Fraction-threshold decontamination census
    * ([[graft.text.Decontaminate.overlapCensus]]): for every train doc
    * sharing at least one distinct 3-gram with the src19 benchmark,
    * its (n_grams, n_matched, overlap_q) — the production decontam
    * rule (contaminated when ≥ minFrac of the doc's distinct grams hit
    * the benchmark set), vs q58's maximal-safety ANY-shared rule. At
    * sf0.01: 375 docs have hits but only 17 exceed 10% overlap — the
    * fraction rule is what keeps a corpus from losing every doc that
    * quotes a common phrase. overlap_q is 1e-9-quantized integer, so
    * the threshold boundary hash-matches the oracle exactly.
    */
  def q199DecontamFraction(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("text").isNotNull)
    val bg = graft.text.Decontaminate.gramSet(
      d.filter(col("source") === "src19"), "text", 3)
    graft.text.Decontaminate.overlapCensus(
        d.filter(col("source") =!= "src19"), "text", "doc_id", bg, 3)
      .orderBy(col("doc_id"))
  }

  val q199Sql: String =
    """WITH d AS (SELECT doc_id, source, text, string_split(text, ' ') AS tk
      |  FROM documents WHERE text IS NOT NULL),
      |g AS (SELECT doc_id, source, unnest(list_distinct(
      |    CASE WHEN len(tk) >= 3
      |      THEN list_transform(range(1, len(tk) - 1),
      |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
      |      ELSE [text] END)) AS g FROM d),
      |bg AS (SELECT DISTINCT g FROM g WHERE source = 'src19'),
      |tg AS (SELECT doc_id, g FROM g WHERE source <> 'src19'),
      |pd AS (SELECT doc_id, COUNT(*) AS n_grams FROM tg GROUP BY doc_id),
      |mt AS (SELECT doc_id, COUNT(*) AS n_matched FROM tg
      |  JOIN bg USING (g) GROUP BY doc_id)
      |SELECT pd.doc_id, n_grams, n_matched,
      |  CAST(FLOOR(CAST(n_matched AS DOUBLE) / CAST(n_grams AS DOUBLE)
      |    * 1e9) AS BIGINT) AS overlap_q
      |FROM pd JOIN mt USING (doc_id) ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q200
  /** The decontamination DROP surface
    * ([[graft.text.Decontaminate.dropContaminated]]) end-to-end at the
    * 5% threshold (50000000 quantized — 161 of the 375 gram-sharing
    * docs at sf0.01): survivors of the q199 census rule, as the
    * per-source ledger (source, n_in, n_out) so the hash pins which
    * sources lost how much — the number a pipeline operator actually
    * watches after a decontam pass.
    */
  def q200DecontamDrop(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("text").isNotNull)
    val bg = graft.text.Decontaminate.gramSet(
      d.filter(col("source") === "src19"), "text", 3)
    val train = d.filter(col("source") =!= "src19")
    val kept = graft.text.Decontaminate.dropContaminated(
      train, "text", "doc_id", bg, 3, minFracQ = 50000000L)
    train.groupBy(col("source")).agg(count(lit(1)).as("n_in"))
      .join(kept.groupBy(col("source")).agg(count(lit(1)).as("n_out")),
        Seq("source"), "left")
      .select(col("source"), col("n_in"),
        coalesce(col("n_out"), lit(0L)).as("n_out"))
      .orderBy(col("source"))
  }

  val q200Sql: String =
    """WITH d AS (SELECT doc_id, source, text, string_split(text, ' ') AS tk
      |  FROM documents WHERE text IS NOT NULL),
      |g AS (SELECT doc_id, source, unnest(list_distinct(
      |    CASE WHEN len(tk) >= 3
      |      THEN list_transform(range(1, len(tk) - 1),
      |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
      |      ELSE [text] END)) AS g FROM d),
      |bg AS (SELECT DISTINCT g FROM g WHERE source = 'src19'),
      |tg AS (SELECT doc_id, g FROM g WHERE source <> 'src19'),
      |ov AS (SELECT tg.doc_id, COUNT(*) AS n_grams,
      |    COUNT(bg.g) AS n_matched
      |  FROM tg LEFT JOIN bg ON tg.g = bg.g GROUP BY tg.doc_id),
      |bad AS (SELECT doc_id FROM ov WHERE n_matched > 0 AND
      |  CAST(FLOOR(CAST(n_matched AS DOUBLE) / CAST(n_grams AS DOUBLE)
      |    * 1e9) AS BIGINT) >= 50000000),
      |tr AS (SELECT * FROM d WHERE source <> 'src19')
      |SELECT source, COUNT(*) AS n_in,
      |  CAST(SUM(CASE WHEN doc_id NOT IN (SELECT doc_id FROM bad)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_out
      |FROM tr GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q201
  /** FIRST-ARRIVAL incremental near-dup
    * ([[Dedup.incrementalNearDuplicates]] with `historyWins = true`) —
    * the streaming-ingest semantic: history is the ODD doc_ids
    * (deduped first), the batch the EVEN ones, so ids INTERLEAVE and
    * the min-id rule would wrongly let a small-id batch doc evict an
    * established history doc. Under first-arrival the established
    * corpus is stable: a batch doc dies whenever its component touches
    * history, else the min batch id survives its batch-only component.
    * Output: surviving batch doc_ids. The oracle replays the closure
    * over (history-survivors ∪ batch) and applies the same
    * per-component rule — has-history kills, min-batch survives.
    */
  def q201FirstArrivalDedup(s: SparkSession, dir: String): DataFrame = {
    val d0 = t(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val history = d0.filter(pmod(col("doc_id"), lit(2L)) === 1L)
    val batch = d0.filter(pmod(col("doc_id"), lit(2L)) === 0L)
    // r12: one history sketch pass via the persisted-band-keys seam —
    // the q197 restructure applied verbatim (see there for the
    // equivalence argument); first-arrival survivorship unchanged
    val keysH = Dedup.lshBandKeys(history, "text", "doc_id").persist()
    try {
      val hr = Dedup.dropNearDuplicatesFromKeys(history, keysH, "text",
        "doc_id", threshold = 0.7)
      val survKeys = keysH.join(hr.survivors.select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      val out = Dedup.incrementalNearDuplicates(hr.survivors, batch,
          "text", "doc_id", threshold = 0.7, historyKeys = Some(survKeys),
          historyWins = true)
        .survivors.select(col("doc_id")).orderBy(col("doc_id"))
      hr.close()
      out
    } finally keysH.unpersist(false)
  }

  val q201Sql: String =
    s"""WITH RECURSIVE
       |d0 AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
       |h0 AS (SELECT * FROM d0 WHERE doc_id % 2 = 1),
       |${minhashDedupCtes("h", "h0", 0.7)},
       |u0 AS (SELECT * FROM hsurv
       |  UNION ALL SELECT * FROM d0 WHERE doc_id % 2 = 0),
       |${minhashDedupCtes("u", "u0", 0.7)},
       |urep AS (SELECT a AS id, LEAST(a, MIN(b)) AS rep FROM urc GROUP BY a),
       |rep2 AS (SELECT u0.doc_id AS id, COALESCE(urep.rep, u0.doc_id) AS rep
       |  FROM u0 LEFT JOIN urep ON u0.doc_id = urep.id),
       |agg AS (SELECT rep,
       |    MAX(CASE WHEN id % 2 = 1 THEN 1 ELSE 0 END) AS has_hist,
       |    MIN(CASE WHEN id % 2 = 0 THEN id END) AS min_batch
       |  FROM rep2 GROUP BY rep)
       |SELECT r.id AS doc_id FROM rep2 r JOIN agg USING (rep)
       |WHERE r.id % 2 = 0 AND agg.has_hist = 0 AND r.id = agg.min_batch
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q202
  /** Streaming incremental SEMANTIC dedup
    * ([[StreamingOps.semDedupStream]]): the embeddings table arrives
    * as 4 mtime-ordered micro-batches split by vec_id QUARTILE
    * (ntile over ordered ids), each deduplicating against the
    * emitted-survivor history under the q76 pinned portable cell
    * geometry (4 md5-hyperplanes, single-probe, cosine ≥ 0.4) with
    * first-arrival survivorship and the batch_id-partitioned
    * exactly-once history commit. Ids are ordered ACROSS batches, so
    * first-arrival coincides with min-id and the oracle replays the
    * staged composition: dedup(b1) → dedup(survivors ∪ b2) → … — the
    * q198 full-replay contract applied per micro-batch. Output: every
    * emitted survivor id, ordered.
    */
  def q202StreamSemDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val staged = e.withColumn("__q", ntile(4).over(
      org.apache.spark.sql.expressions.Window.orderBy(col("vec_id"))))
    val tmp = graft.tools.Scratch.tempDir("q202")
    val in = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    stageChunksTagged(
      staged.withColumn("__chunk", col("__q") - 1).drop("__q"), 4, in)
    val stream = s.readStream.schema(e.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    // per-batch closure shuffles at 8 (q48/q59 rule), ConfScope-forked
    val q = StreamingOps.semDedupStream(
        graft.operators.ConfScope.shufflePartitions(stream, 8),
        "embedding", "vec_id", s"$tmp/history", threshold = 0.4,
        numPlanes = 4, probeBits = 0) { (sv, _) =>
      ids ++= sv.select(col("vec_id")).collect().map(_.getLong(0))
    }
    try q.processAllAvailable() finally q.stop()
    ids.toSeq.sorted.toDF("vec_id")
  }

  val q202Sql: String =
    s"""WITH RECURSIVE
       |e0 AS (SELECT vec_id, embedding,
       |  ntile(4) OVER (ORDER BY vec_id) AS q FROM embeddings),
       |b1 AS (SELECT vec_id, embedding FROM e0 WHERE q = 1),
       |b2 AS (SELECT vec_id, embedding FROM e0 WHERE q = 2),
       |b3 AS (SELECT vec_id, embedding FROM e0 WHERE q = 3),
       |b4 AS (SELECT vec_id, embedding FROM e0 WHERE q = 4),
       |${semDedupCtes("a", "b1", 0.4)},
       |m1 AS (SELECT * FROM asurv),
       |u2 AS (SELECT * FROM m1 UNION ALL SELECT * FROM b2),
       |${semDedupCtes("c", "u2", 0.4)},
       |m2 AS (SELECT * FROM m1 UNION ALL
       |  SELECT s.* FROM csurv s JOIN b2 USING (vec_id)),
       |u3 AS (SELECT * FROM m2 UNION ALL SELECT * FROM b3),
       |${semDedupCtes("d", "u3", 0.4)},
       |m3 AS (SELECT * FROM m2 UNION ALL
       |  SELECT s.* FROM dsurv s JOIN b3 USING (vec_id)),
       |u4 AS (SELECT * FROM m3 UNION ALL SELECT * FROM b4),
       |${semDedupCtes("f", "u4", 0.4)},
       |m4 AS (SELECT * FROM m3 UNION ALL
       |  SELECT s.* FROM fsurv s JOIN b4 USING (vec_id))
       |SELECT vec_id FROM m4 ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q203
  /** Decontamination at reference-realistic gram size — n = 13, the
    * GPT-3 appendix-C window (q58/q199/q200 exercise the machinery at
    * n = 3..5): the benchmark is a corpus SLICE (doc_id % 29 — an eval
    * suite published from corpus passages, the shape that actually
    * contaminates at 13-gram granularity; cross-source 13-gram hits
    * don't exist in this corpus and wouldn't in any non-contaminated
    * one), the train side is everything else, and the drop rule is
    * overlap_q ≥ 50% of a doc's distinct 13-grams. Documents shorter
    * than 13 tokens contribute their whole text (the gramSet
    * degenerate case, exercised — the corpus has sub-13-token docs).
    * Output: the full hit census with each doc's quantized overlap and
    * its drop verdict under [[graft.text.Decontaminate]]'s threshold
    * rule (overlap_q ≥ minFracQ), and the integer-quantized threshold
    * compare makes the ≥ boundary (an exactly-50% doc exists at sf0.1)
    * hash-exact against the oracle.
    *
    * r11 optimization note: the verdict column used to come from a
    * second [[graft.text.Decontaminate.dropContaminated]] pass joined
    * back against the census. `dropContaminated` IS
    * `overlapCensus(...).filter(overlap_q ≥ minFracQ)` + anti-join —
    * the same code path — so the join proved agreement that holds by
    * construction while running the full 13-gram explode+join a second
    * time (the query's dominant CPU). The verdict is now the rule
    * applied to the one census, exactly as the oracle computes it;
    * output is unchanged (hash-checked).
    */
  def q203DecontamGram13(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("text").isNotNull)
    val bench = d.filter(pmod(col("doc_id"), lit(29L)) === 0L)
    val train = d.filter(pmod(col("doc_id"), lit(29L)) =!= 0L)
    val bg = graft.text.Decontaminate.gramSet(bench, "text", 13)
    val census = graft.text.Decontaminate.overlapCensus(
      train, "text", "doc_id", bg, 13)
    census
      .select(col("doc_id"), col("n_grams"), col("n_matched"),
        col("overlap_q"),
        when(col("overlap_q") >= lit(500000000L), 1L).otherwise(0L)
          .as("dropped"))
      .orderBy(col("doc_id"))
  }

  val q203Sql: String = {
    val g13 = (1 to 12).foldLeft("tk[i]")((acc, j) => s"$acc || ' ' || tk[i+$j]")
    s"""WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS tk,
       |    doc_id % 29 = 0 AS isb
       |  FROM documents WHERE text IS NOT NULL),
       |g AS (SELECT doc_id, isb, unnest(list_distinct(
       |    CASE WHEN len(tk) >= 13
       |      THEN list_transform(range(1, len(tk) - 11), i -> $g13)
       |      ELSE [text] END)) AS g FROM d),
       |bg AS (SELECT DISTINCT g FROM g WHERE isb),
       |tg AS (SELECT doc_id, g FROM g WHERE NOT isb),
       |pd AS (SELECT doc_id, COUNT(*) AS n_grams FROM tg GROUP BY doc_id),
       |mt AS (SELECT doc_id, COUNT(*) AS n_matched FROM tg
       |  JOIN bg USING (g) GROUP BY doc_id)
       |SELECT pd.doc_id, n_grams, n_matched,
       |  CAST(FLOOR(CAST(n_matched AS DOUBLE) / CAST(n_grams AS DOUBLE)
       |    * 1e9) AS BIGINT) AS overlap_q,
       |  CAST(CASE WHEN CAST(FLOOR(CAST(n_matched AS DOUBLE)
       |      / CAST(n_grams AS DOUBLE) * 1e9) AS BIGINT) >= 500000000
       |    THEN 1 ELSE 0 END AS BIGINT) AS dropped
       |FROM pd JOIN mt USING (doc_id) ORDER BY pd.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q204
  /** Streaming benchmark decontamination
    * ([[StreamingOps.decontaminateStream]]): the train side of the
    * documents table (everything off the doc_id % 17 benchmark slice)
    * arrives as 4 mtime-ordered micro-batches split by doc_id % 4;
    * each batch drops its docs whose distinct-5-gram overlap with the
    * STATIC benchmark gram set reaches 1/3 (333333333 quantized) and
    * emits survivors. Decontamination is per-doc against a frozen set
    * — stateless — so the staged composition must equal the one-shot
    * batch rule doc-for-doc; the output pins one row PER MICRO-BATCH
    * (row count 4 = the staging actually streamed) with the batch's
    * survivor count and id sum, and the oracle replays the rule with
    * batch_id recovered as doc_id % 4 (micro-batch k holds exactly
    * that residue class, in mtime order; the oracle recovers it
    * sign-safely as (doc_id % 4 + 4) % 4 — Spark's pmod is always
    * non-negative while DuckDB's % keeps the dividend's sign, so the
    * bare % form would diverge on negative ids).
    */
  def q204StreamDecontam(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = t(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val bench = d.filter(pmod(col("doc_id"), lit(17L)) === 0L)
    val train = d.filter(pmod(col("doc_id"), lit(17L)) =!= 0L)
    // the frozen eval suite: built and pinned once, reused per batch
    val bg = graft.text.Decontaminate.gramSet(bench, "text", 5).persist()
    bg.count()
    val tmp = graft.tools.Scratch.tempDir("q204")
    val in = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    stageChunksTagged(
      train.withColumn("__chunk", pmod(col("doc_id"), lit(4L))), 4, in)
    val stream = s.readStream.schema(train.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    // per-batch census shuffles at 8 (q48/q59 rule), ConfScope-forked
    val q = StreamingOps.decontaminateStream(
        graft.operators.ConfScope.shufflePartitions(stream, 8),
        "text", "doc_id", bg, n = 5, minFracQ = 333333333L) { (sv, id) =>
      val r = sv.agg(count(lit(1)), sum(col("doc_id"))).head()
      rows += ((id, r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1)))
    }
    try q.processAllAvailable() finally { q.stop(); bg.unpersist() }
    rows.toSeq.sortBy(_._1).toDF("batch_id", "n_kept", "sum_kept_ids")
  }

  val q204Sql: String = {
    val g5 = (1 to 4).foldLeft("tk[i]")((acc, j) => s"$acc || ' ' || tk[i+$j]")
    s"""WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS tk,
       |    doc_id % 17 = 0 AS isb
       |  FROM documents WHERE text IS NOT NULL),
       |g AS (SELECT doc_id, isb, unnest(list_distinct(
       |    CASE WHEN len(tk) >= 5
       |      THEN list_transform(range(1, len(tk) - 3), i -> $g5)
       |      ELSE [text] END)) AS g FROM d),
       |bg AS (SELECT DISTINCT g FROM g WHERE isb),
       |tg AS (SELECT doc_id, g FROM g WHERE NOT isb),
       |pd AS (SELECT doc_id, COUNT(*) AS n_grams FROM tg GROUP BY doc_id),
       |mt AS (SELECT doc_id, COUNT(*) AS n_matched FROM tg
       |  JOIN bg USING (g) GROUP BY doc_id),
       |bad AS (SELECT pd.doc_id FROM pd JOIN mt USING (doc_id)
       |  WHERE CAST(FLOOR(CAST(n_matched AS DOUBLE)
       |    / CAST(n_grams AS DOUBLE) * 1e9) AS BIGINT) >= 333333333),
       |kept AS (SELECT doc_id FROM d WHERE NOT isb
       |  AND doc_id NOT IN (SELECT doc_id FROM bad))
       |SELECT (doc_id % 4 + 4) % 4 AS batch_id, COUNT(*) AS n_kept,
       |  CAST(SUM(doc_id) AS BIGINT) AS sum_kept_ids
       |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- q205
  /** MinHash band-scheme governor ([[graft.dedup.Dedup.autoBands]]):
    * the (bands, rowsPerBand) selection for a grid of jaccard
    * thresholds at target recall 0.9 under a 16-hash signature budget.
    * The oracle replays the WHOLE selection in SQL — the per-(t, r)
    * band count ⌈ln(0.1)/ln(1 − t^r)⌉, the b·r ≤ 16 feasibility
    * filter, and the max-r argmax — so the governor's arithmetic is
    * hash-pinned, the q189 autoProbe precedent applied to the minhash
    * side. The tightest grid point is t=0.5, r=2 where
    * ln(0.1)/ln(0.75) ≈ 8.0039 — every ceil argument sits ≥ 3.9e-3
    * from an integer, well clear of any boundary at double precision
    * (libm-vs-JVM ln/pow agree to ~1e-15), so a last-ulp difference
    * cannot flip a band count.
    */
  def q205AutoBands(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Seq(500000000L, 600000000L, 700000000L, 800000000L, 900000000L)
      .map { tq =>
        val (b, r) = graft.dedup.Dedup.autoBands(tq / 1e9, 0.9, 16)
        (tq, b.toLong, r.toLong, (b * r).toLong)
      }.toDF("threshold_q", "bands", "rows_per_band", "sig_hashes")
  }

  val q205Sql: String =
    s"""WITH ts AS (SELECT CAST(unnest([500000000, 600000000, 700000000,
       |    800000000, 900000000]) AS BIGINT) AS threshold_q),
       |rs AS (SELECT range AS r FROM range(1, 17)),
       |cand AS (SELECT threshold_q, r,
       |    CAST(CEIL(LN(0.1) / LN(1 - POW(threshold_q / 1e9, r)))
       |      AS BIGINT) AS b
       |  FROM ts CROSS JOIN rs),
       |sel AS (SELECT threshold_q, MAX(r) AS r FROM cand
       |  WHERE b * r <= 16 GROUP BY threshold_q)
       |SELECT c.threshold_q, c.b AS bands, c.r AS rows_per_band,
       |  c.b * c.r AS sig_hashes
       |FROM sel JOIN cand c USING (threshold_q, r)
       |ORDER BY c.threshold_q""".stripMargin

  // ---------------------------------------------------------------- q206
  /** Bloom-gated decontamination drop surface
    * ([[graft.text.Decontaminate.dropContaminatedBloom]]): the q200
    * per-source ledger computed through the
    * benchmark-too-big-to-broadcast path — benchmark grams fold into a
    * fixed-size `BloomFilterAggregate` bit array, exploded train grams
    * probe it inside whole-stage codegen, and only probable hits reach
    * the exact confirm semi-join. Bloom has no false negatives and the
    * confirm join removes its false positives, so the survivors are
    * EXACTLY the plain rule's — the oracle replays the rule with no
    * Bloom anywhere, which is the point: the sketch is a
    * shuffle-volume lever, not a semantic one. 5-gram windows, 20%
    * overlap threshold (200000000 quantized), src19 as the benchmark.
    */
  def q206BloomDecontam(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("text").isNotNull)
    val bg = graft.text.Decontaminate.gramSet(
      d.filter(col("source") === "src19"), "text", 5)
    val train = d.filter(col("source") =!= "src19")
    val kept = graft.text.Decontaminate.dropContaminatedBloom(
      train, "text", "doc_id", bg, 5, minFracQ = 200000000L,
      expectedItems = 1L << 20)
    train.groupBy(col("source")).agg(count(lit(1)).as("n_in"))
      .join(kept.groupBy(col("source")).agg(
          count(lit(1)).as("n_out"),
          sum(col("doc_id")).as("sum_kept_ids")),
        Seq("source"), "left")
      .select(col("source"), col("n_in"),
        coalesce(col("n_out"), lit(0L)).as("n_out"),
        coalesce(col("sum_kept_ids"), lit(0L)).as("sum_kept_ids"))
      .orderBy(col("source"))
  }

  val q206Sql: String = {
    val g5 = (1 to 4).foldLeft("tk[i]")((acc, j) => s"$acc || ' ' || tk[i+$j]")
    s"""WITH d AS (SELECT doc_id, source, text, string_split(text, ' ') AS tk
       |  FROM documents WHERE text IS NOT NULL),
       |g AS (SELECT doc_id, source, unnest(list_distinct(
       |    CASE WHEN len(tk) >= 5
       |      THEN list_transform(range(1, len(tk) - 3), i -> $g5)
       |      ELSE [text] END)) AS g FROM d),
       |bg AS (SELECT DISTINCT g FROM g WHERE source = 'src19'),
       |tg AS (SELECT doc_id, g FROM g WHERE source <> 'src19'),
       |ov AS (SELECT tg.doc_id, COUNT(*) AS n_grams,
       |    COUNT(bg.g) AS n_matched
       |  FROM tg LEFT JOIN bg ON tg.g = bg.g GROUP BY tg.doc_id),
       |bad AS (SELECT doc_id FROM ov WHERE n_matched > 0 AND
       |  CAST(FLOOR(CAST(n_matched AS DOUBLE) / CAST(n_grams AS DOUBLE)
       |    * 1e9) AS BIGINT) >= 200000000),
       |tr AS (SELECT * FROM d WHERE source <> 'src19')
       |SELECT source, COUNT(*) AS n_in,
       |  CAST(SUM(CASE WHEN doc_id NOT IN (SELECT doc_id FROM bad)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_out,
       |  CAST(SUM(CASE WHEN doc_id NOT IN (SELECT doc_id FROM bad)
       |    THEN doc_id ELSE 0 END) AS BIGINT) AS sum_kept_ids
       |FROM tr GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- q207
  /** Quality-aware near-dup survivor election
    * ([[graft.dedup.Dedup.dropNearDuplicatesBest]]): the q68 closure's
    * clusters, but each cluster keeps its LONGEST member (char length,
    * ties to the smallest id) instead of the smallest id — the
    * RefinedWeb/Gopher best-of-cluster posture, where near-dup
    * clusters mix captures of the same page at different fidelity and
    * min-id keeps whichever crawled first. Census is the per-source
    * survivor ledger; the length sum pins that the election really
    * chose by score (a min-id election hash-diverges on sum_kept_len
    * even where counts agree). The oracle replays the whole thing:
    * minhash bands, jaccard verify, the recursive closure, and the
    * window election.
    */
  def q207BestSurvivorDedup(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("text"))
      .withColumn("__len", length(col("text")))
    // closure + election shuffles are duplicate-mass-sized (q68 rule);
    // forked scope, never the caller's conf
    val r = Dedup.dropNearDuplicatesBest(
      graft.operators.ConfScope.shufflePartitions(d, 8),
      "text", "doc_id", "__len", threshold = 0.7)
    r.survivors.groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("doc_id")).as("sum_kept_ids"),
        sum(col("__len").cast("long")).as("sum_kept_len"))
      .orderBy(col("source"))
  }

  val q207Sql: String =
    s"""WITH RECURSIVE $shingleSqlCte,
       |sig AS (SELECT doc_id, sh,
       |  list_aggregate(list_transform(sh, x -> md5('0|' || x)), 'min') AS h0,
       |  list_aggregate(list_transform(sh, x -> md5('1|' || x)), 'min') AS h1,
       |  list_aggregate(list_transform(sh, x -> md5('2|' || x)), 'min') AS h2,
       |  list_aggregate(list_transform(sh, x -> md5('3|' || x)), 'min') AS h3
       |  FROM s),
       |keys AS (
       |  SELECT doc_id, 0 AS band, h0 || '#' || h1 AS key FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, h2 || '#' || h3 AS key FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
       |  FROM keys a JOIN keys b
       |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |ver AS (SELECT ia, ib FROM cand
       |  JOIN (SELECT doc_id, list_distinct(sh) AS sha FROM sig) x ON x.doc_id = ia
       |  JOIN (SELECT doc_id, list_distinct(sh) AS shb FROM sig) y ON y.doc_id = ib
       |  WHERE CAST(len(list_intersect(sha, shb)) AS DOUBLE) /
       |    CAST(len(list_distinct(list_concat(sha, shb))) AS DOUBLE) >= 0.7),
       |sym AS (SELECT ia AS a, ib AS b FROM ver
       |  UNION SELECT ib AS a, ia AS b FROM ver),
       |reach(a, b) AS (SELECT a, b FROM sym
       |  UNION SELECT r.a, s2.b FROM reach r JOIN sym s2 ON r.b = s2.a),
       |rep AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS rep
       |  FROM reach GROUP BY a),
       |rk AS (SELECT r.doc_id, ROW_NUMBER() OVER (PARTITION BY r.rep
       |    ORDER BY length(d.text) DESC, r.doc_id) AS rn
       |  FROM rep r JOIN d ON d.doc_id = r.doc_id),
       |losers AS (SELECT doc_id FROM rk WHERE rn > 1),
       |kept AS (SELECT dd.doc_id, dd.source, dd.text FROM
       |  (SELECT d.doc_id, doc.source, d.text FROM d
       |    JOIN documents doc ON doc.doc_id = d.doc_id) dd
       |  WHERE dd.doc_id NOT IN (SELECT doc_id FROM losers))
       |SELECT source, COUNT(*) AS n_kept,
       |  CAST(SUM(doc_id) AS BIGINT) AS sum_kept_ids,
       |  CAST(SUM(length(text)) AS BIGINT) AS sum_kept_len
       |FROM kept GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q208
  /** Duplicated-span LOSS MASK ([[graft.text.SpanDedup.lossMask]]):
    * q83's spans (8-token windows occurring ≥2× corpus-wide), but
    * instead of deleting the covered tokens, each doc keeps a
    * '1'/'0' per-token training mask — the soft-dedup posture for
    * docs that merely CONTAIN boilerplate. Census pins (n_tokens,
    * n_masked, mask_md5) per doc; the md5 freezes the full mask
    * string, so the oracle's replay checks every token's bit, not
    * just the totals. Invariant vs q83: n_masked here =
    * covered_tokens there (same spans, by construction).
    */
  def q208SpanLossMask(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val spans = graft.text.SpanDedup.duplicatedSpans(
      d, "text", "doc_id", n = 8, minCount = 2)
    graft.text.SpanDedup.lossMask(d, spans, "text", "doc_id")
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
        col("n_masked"), md5(col("loss_mask")).as("mask_md5"))
      .orderBy(col("doc_id"))
  }

  val q208Sql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk
      |  FROM documents WHERE text IS NOT NULL),
      |gp AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 7)) AS pos
      |  FROM d WHERE len(tk) >= 8),
      |g AS (SELECT doc_id, pos,
      |  array_to_string(list_slice(tk, pos, pos + 7), ' ') AS gram FROM gp),
      |hot AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
      |m AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM hot)),
      |b AS (SELECT doc_id, pos,
      |  CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
      |    OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
      |    THEN 1 ELSE 0 END AS brk FROM m),
      |isl AS (SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id
      |  ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island FROM b),
      |sp AS (SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end
      |  FROM isl GROUP BY doc_id, island),
      |cov AS (SELECT doc_id,
      |  unnest(generate_series(span_start, span_end)) AS pos FROM sp),
      |tok AS (SELECT doc_id, unnest(generate_series(1, len(tk))) AS pos
      |  FROM d),
      |mk AS (SELECT t.doc_id,
      |  string_agg(CASE WHEN c.pos IS NULL THEN '1' ELSE '0' END, ''
      |    ORDER BY t.pos) AS mask,
      |  CAST(SUM(CASE WHEN c.pos IS NULL THEN 0 ELSE 1 END) AS BIGINT)
      |    AS n_masked
      |  FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
      |  GROUP BY t.doc_id)
      |SELECT d.doc_id, len(d.tk) AS n_tokens,
      |  COALESCE(mk.n_masked, 0) AS n_masked,
      |  md5(COALESCE(mk.mask, '')) AS mask_md5
      |FROM d LEFT JOIN mk USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q209
  /** SEMANTIC decontamination
    * ([[graft.text.Decontaminate.semanticContaminated]]): train
    * embeddings within cosine ≥ 0.35 of any held-out "benchmark"
    * embedding (vec_id ≡ 0 mod 41), found through the pinned 4-plane
    * cell geometry with 1-bit probes — the paraphrase-robust
    * complement of the n-gram rules (q58/q199/q203). The oracle
    * replays the WHOLE candidate structure — both sides' buckets, the
    * 1-flip probe masks, the cosine verify, the distinct — so the
    * recall posture (what the probe width does and does not reach) is
    * hash-pinned, not just the survivor list.
    */
  def q209SemanticDecontam(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val bench = e.filter(pmod(col("vec_id"), lit(41L)) === 0L)
    val train = e.filter(pmod(col("vec_id"), lit(41L)) =!= 0L)
    graft.text.Decontaminate.semanticContaminated(
        train, "embedding", "vec_id", bench, "embedding",
        threshold = 0.35, numPlanes = 4, probeBits = 1)
      .orderBy(col("vec_id"))
  }

  val q209Sql: String = {
    def proj(p: Int, rel: String): String =
      s"""list_aggregate(list_transform(range(1, len($rel.embedding) + 1),
         |    i -> CAST($rel.embedding[i] AS DOUBLE) *
         |      ((CAST(('0x' || substring(md5('$p|' || (i - 1)), 1, 15)) AS BIGINT)
         |        % 2000 - 1000) / 1000.0)), 'sum')""".stripMargin
    def bucket(rel: String): String = (0 until 4).map(p =>
      s"(CASE WHEN ${proj(p, rel)} >= 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""WITH tb AS (SELECT vec_id, embedding, (${bucket("embeddings")}) AS bucket
       |  FROM embeddings WHERE vec_id % 41 <> 0),
       |bb AS (SELECT embedding AS bemb, (${bucket("embeddings")}) AS bucket
       |  FROM embeddings WHERE vec_id % 41 = 0),
       |pr AS (SELECT vec_id, embedding,
       |  xor(bucket, unnest([0, 1, 2, 4, 8])) AS bucket FROM tb),
       |cand AS (SELECT pr.vec_id, pr.embedding, bb.bemb
       |  FROM pr JOIN bb USING (bucket))
       |SELECT DISTINCT vec_id FROM cand
       |WHERE (list_aggregate(list_transform(range(1, len(embedding) + 1),
       |    i -> CAST(embedding[i] AS DOUBLE) * CAST(bemb[i] AS DOUBLE)), 'sum') /
       |  (sqrt(list_aggregate(list_transform(range(1, len(embedding) + 1),
       |    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), 'sum')) *
       |   sqrt(list_aggregate(list_transform(range(1, len(bemb) + 1),
       |    i -> CAST(bemb[i] AS DOUBLE) * CAST(bemb[i] AS DOUBLE)), 'sum')))) >= 0.35
       |ORDER BY vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- q210
  /** kNN label propagation
    * ([[graft.similarity.LabelPropagate.knnVote]]): every fifth
    * embedding row (vec_id ≡ 0 mod 5) acts as the labeled seed; each
    * remaining row takes the majority label of its 7 nearest seed
    * rows by cosine — the quality-classifier bootstrap. The full
    * per-row mapping (vec_id, label, n_votes) is hash-checked; both
    * tie rules (neighbor: cosine DESC then seed id ASC; vote: count
    * DESC then label ASC) replay in the oracle's windows.
    */
  def q210LabelPropagate(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val labeled = e.filter(pmod(col("vec_id"), lit(5L)) === 0L)
    val unlabeled = e.filter(pmod(col("vec_id"), lit(5L)) =!= 0L)
    graft.similarity.LabelPropagate.knnVote(
        unlabeled, labeled, "embedding", "vec_id", "label", k = 7)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("n_votes"))
      .orderBy(col("vec_id"))
  }

  val q210Sql: String = {
    val cos =
      s"""(list_aggregate(list_transform(range(1, len(u.embedding) + 1),
         |    i -> CAST(u.embedding[i] AS DOUBLE) * CAST(l.lemb[i] AS DOUBLE)), 'sum') /
         |  (sqrt(list_aggregate(list_transform(range(1, len(u.embedding) + 1),
         |    i -> CAST(u.embedding[i] AS DOUBLE) * CAST(u.embedding[i] AS DOUBLE)), 'sum')) *
         |   sqrt(list_aggregate(list_transform(range(1, len(l.lemb) + 1),
         |    i -> CAST(l.lemb[i] AS DOUBLE) * CAST(l.lemb[i] AS DOUBLE)), 'sum'))))""".stripMargin
    s"""WITH l AS (SELECT vec_id AS lid, embedding AS lemb, label
       |  FROM embeddings WHERE vec_id % 5 = 0),
       |u AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0),
       |sc AS (SELECT u.vec_id, l.lid, l.label, $cos AS c
       |  FROM u CROSS JOIN l),
       |r AS (SELECT vec_id, label, row_number() OVER (PARTITION BY vec_id
       |  ORDER BY c DESC, lid ASC) AS rn FROM sc),
       |v AS (SELECT vec_id, label, CAST(COUNT(*) AS BIGINT) AS n_votes
       |  FROM r WHERE rn <= 7 GROUP BY vec_id, label),
       |w AS (SELECT vec_id, label, n_votes, row_number() OVER (
       |  PARTITION BY vec_id ORDER BY n_votes DESC, label ASC) AS wr FROM v)
       |SELECT vec_id, CAST(label AS BIGINT) AS label, n_votes
       |FROM w WHERE wr = 1 ORDER BY vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- q211
  /** Token-budget mixture plan
    * ([[graft.operators.Sampling.mixturePlan]]): the data-mixing
    * arithmetic — target weights in basis points over five sources,
    * a 3-epoch repetition cap, and the per-source token inventory →
    * the largest servable training budget, each source's allotment,
    * its milli-epoch repetition factor, and which source BINDS the
    * budget. Pure integer arithmetic (floor div, integer ceil), so
    * the plan replays bit-exactly.
    */
  def q211MixturePlan(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("text").isNotNull)
      .withColumn("n_tokens",
        size(TextAnalysis.tokens(col("text"))).cast("long"))
    graft.operators.Sampling.mixturePlan(d, "source", "n_tokens",
        Map("src0" -> 4000L, "src1" -> 3000L, "src2" -> 2000L,
          "src3" -> 500L, "src4" -> 500L), maxEpochs = 3L)
      .orderBy(col("source"))
  }

  val q211Sql: String =
    """WITH d AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT)
      |    AS n_tokens FROM documents WHERE text IS NOT NULL),
      |av AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS available_tokens
      |  FROM d GROUP BY source),
      |wt AS (SELECT * FROM (VALUES ('src0', CAST(4000 AS BIGINT)),
      |  ('src1', 3000), ('src2', 2000), ('src3', 500), ('src4', 500))
      |  AS t(source, weight_bp)),
      |p AS (SELECT COALESCE(av.source, wt.source) AS source,
      |    COALESCE(wt.weight_bp, 0) AS weight_bp,
      |    COALESCE(av.available_tokens, 0) AS available_tokens
      |  FROM wt FULL OUTER JOIN av ON wt.source = av.source),
      |c AS (SELECT *, CASE WHEN weight_bp = 0
      |    THEN CAST(9223372036854775807 AS BIGINT)
      |    ELSE (available_tokens * 3 * 10000) // weight_bp END AS cap
      |  FROM p),
      |b AS (SELECT MIN(cap) AS budget_tokens FROM c)
      |SELECT c.source, c.weight_bp, c.available_tokens,
      |  b.budget_tokens,
      |  (c.weight_bp * b.budget_tokens) // 10000 AS allotted_tokens,
      |  CASE WHEN (c.weight_bp * b.budget_tokens) // 10000 = 0 THEN 0
      |    ELSE ((c.weight_bp * b.budget_tokens) // 10000 * 1000
      |      + c.available_tokens - 1) // c.available_tokens
      |    END AS epochs_milli,
      |  c.cap = b.budget_tokens AS binding
      |FROM c CROSS JOIN b ORDER BY c.source""".stripMargin

  // ---------------------------------------------------------------- q212
  /** Fill-in-the-middle transform ([[graft.text.Fim.fimTransform]]):
    * PSM reordering of a hash-gated half of the corpus (rate 5000 bp,
    * prefix/middle ≈ thirds), the code-model infilling recipe. The
    * full per-doc output is pinned — gate decision AND the rebuilt
    * `<PRE>/<SUF>/<MID>` text (md5 — every token of all three
    * segments, sentinel spacing included) — so both split points and
    * the gate replay integer-exactly.
    */
  def q212FimTransform(s: SparkSession, dir: String): DataFrame =
    graft.text.Fim.fimTransform(
        t(s, dir, "documents").filter(col("text").isNotNull),
        "text", "doc_id")
      .select(col("doc_id"), col("fim_applied"),
        md5(col("fim_text")).as("fim_md5"))
      .orderBy(col("doc_id"))

  val q212Sql: String =
    """WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS tk,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
      |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#fim42'),
      |      1, 15)) AS BIGINT) % 10000 AS gate
      |  FROM documents WHERE text IS NOT NULL),
      |sp AS (SELECT doc_id, text, tk, n, gate,
      |    (n * 3333) // 10000 AS p, (n * 3334) // 10000 AS m FROM d)
      |SELECT doc_id, gate < 5000 AS fim_applied,
      |  md5(CASE WHEN gate >= 5000 THEN text ELSE
      |    '<PRE> ' || array_to_string(list_slice(tk, 1, p), ' ') ||
      |    ' <SUF> ' || array_to_string(list_slice(tk, p + m + 1, n), ' ') ||
      |    ' <MID> ' || array_to_string(list_slice(tk, p + 1, p + m), ' ')
      |    END) AS fim_md5
      |FROM sp ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q213
  /** Length-bucketed batching + padding census
    * ([[graft.operators.Packing.paddingCensus]]): documents bucket by
    * token length (width 16), each bucket cuts seeded-hash-ordered
    * batches of 8, and every (bucket, batch) reports its pad target,
    * padded-token total, and utilization in basis points — the
    * padded-batch recipe for fine-tuning pipelines, where [[q71Packing]]'s
    * straddling concatenation is not allowed. Integer arithmetic
    * throughout; the oracle replays bucket assignment, the md5 batch
    * order, and the census.
    */
  def q213PaddingCensus(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("text").isNotNull)
      .withColumn("n_tokens",
        size(TextAnalysis.tokens(col("text"))).cast("long"))
    graft.operators.Packing.paddingCensus(d, "doc_id", "n_tokens",
        bucketWidth = 16, batchSize = 8)
      .orderBy(col("bucket"), col("batch_idx"))
  }

  val q213Sql: String =
    """WITH d AS (SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents WHERE text IS NOT NULL),
      |b AS (SELECT doc_id, n_tokens,
      |    CASE WHEN n_tokens <= 0 THEN 0
      |      ELSE (n_tokens - 1) // 16 END AS bucket FROM d),
      |r AS (SELECT *, row_number() OVER (PARTITION BY bucket
      |    ORDER BY md5(CAST(doc_id AS VARCHAR) || '#42'), doc_id) AS rn
      |  FROM b),
      |a AS (SELECT bucket, (rn - 1) // 8 AS batch_idx, n_tokens FROM r)
      |SELECT bucket, batch_idx, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  MAX(n_tokens) AS pad_to,
      |  CAST(SUM(n_tokens) AS BIGINT) AS sum_len,
      |  CAST(COUNT(*) AS BIGINT) * MAX(n_tokens)
      |    - CAST(SUM(n_tokens) AS BIGINT) AS padded_tokens,
      |  CASE WHEN MAX(n_tokens) <= 0 THEN 10000
      |    ELSE (CAST(SUM(n_tokens) AS BIGINT) * 10000)
      |      // (CAST(COUNT(*) AS BIGINT) * MAX(n_tokens)) END
      |    AS utilization_bp
      |FROM a GROUP BY bucket, batch_idx
      |ORDER BY bucket, batch_idx""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q213_padding_census" -> (q213PaddingCensus _),
    "q212_fim_transform" -> (q212FimTransform _),
    "q211_mixture_plan" -> (q211MixturePlan _),
    "q210_label_propagate" -> (q210LabelPropagate _),
    "q209_semantic_decontam" -> (q209SemanticDecontam _),
    "q208_span_loss_mask" -> (q208SpanLossMask _),
    "q207_best_survivor_dedup" -> (q207BestSurvivorDedup _),
    "q206_bloom_decontam" -> (q206BloomDecontam _),
    "q205_autobands" -> (q205AutoBands _),
    "q204_stream_decontam" -> (q204StreamDecontam _),
    "q203_decontam_gram13" -> (q203DecontamGram13 _),
    "q202_stream_semdedup" -> (q202StreamSemDedup _),
    "q201_first_arrival_dedup" -> (q201FirstArrivalDedup _),
    "q200_decontam_drop" -> (q200DecontamDrop _),
    "q199_decontam_fraction" -> (q199DecontamFraction _),
    "q198_incremental_semdedup" -> (q198IncrementalSemDedup _),
    "q197_incremental_neardup" -> (q197IncrementalNearDup _),
    "q196_pipeline_funnel" -> (q196PipelineFunnel _),
    "q195_simhash_complete" -> (q195SimhashComplete _),
    "q194_stream_perceptual_dedup" -> (q194StreamPerceptualDedup _),
    "q193_video_keyframe" -> (q193VideoKeyframe _),
    "q192_audio_fingerprint" -> (q192AudioFingerprint _),
    "q191_perceptual_dedup" -> (q191PerceptualDedup _),
    "q190_semdedup_probe" -> (q190SemdedupProbe _),
    "q189_auto_probe" -> (q189AutoProbe _),
    "q188_blocking_self_recall" -> (q188SelfRecall _),
    "q180_gopher_rules" -> (q180GopherRules _),
    "q186_linear_interp" -> (q186LinearInterp _),
    "q184_ohlc" -> (q184Ohlc _),
    "q185_knn_graph_census" -> (q185KnnGraphCensus _),
    "q173_knn_graph" -> (q173KnnGraph _),
    "q172_compaction" -> (q172Compaction _),
    "q169_string_agg" -> (q169StringAgg _),
    "q168_mode" -> (q168Mode _),
    "q167_winsorize" -> (q167Winsorize _),
    "q165_anomaly_zscore" -> (q165AnomalyZscore _),
    "q166_schema_evolution" -> (q166SchemaEvolution _),
    "q164_rolling_distinct" -> (q164RollingDistinct _),
    "q163_corr_census" -> (q163CorrCensus _),
    "q162_forward_fill" -> (q162ForwardFill _),
    "q161_stream_recovery" -> (q161StreamRecovery _),
    "q158_csv_roundtrip" -> (q158CsvRoundtrip _),
    "q159_json_roundtrip" -> (q159JsonRoundtrip _),
    "q160_binary_source" -> (q160BinarySource _),
    "q157_shard_manifest" -> (q157ShardManifest _),
    "q155_set_ops" -> (q155SetOps _),
    "q156_not_in" -> (q156NotIn _),
    "q154_rag_retrieval" -> (q154RagRetrieval _),
    "q153_weighted_ma" -> (q153WeightedMa _),
    "q152_orc_roundtrip" -> (q152OrcRoundtrip _),
    "q151_contrastive_positives" -> (q151ContrastivePositives _),
    "q150_stream_index_maint" -> (q150StreamIndexMaint _),
    "q149_frequent_pairs" -> (q149FrequentPairs _),
    "q148_phrase_via_index" -> (q148PhraseViaIndex _),
    "q145_attribution" -> (q145Attribution _),
    "q146_transitions" -> (q146Transitions _),
    "q147_stream_outer_join" -> (q147StreamOuterJoin _),
    "q144_recall_curve" -> (q144RecallCurve _),
    "q143_trend_ols" -> (q143TrendOls _),
    "q142_stream_stats" -> (q142StreamStats _),
    "q141_quota_sample" -> (q141QuotaSample _),
    "q140_dataset_card" -> (q140DatasetCard _),
    "q139_pq_ann" -> (q139PqAnn _),
    "q138_stream_drift" -> (q138StreamDrift _),
    "q137_hard_negatives" -> (q137HardNegatives _),
    "q136_ann_recall" -> (q136AnnRecall _),
    "q135_lm_surprisal" -> (q135LmSurprisal _),
    "q30_dedup_exact" -> (q30DedupExact _),
    "q31_minhash_sig" -> (q31MinhashSig _),
    "q32_near_dups" -> (q32NearDups _),
    "q33_langid" -> (q33LangId _),
    "q34_quality" -> (q34Quality _),
    "q35_top_tokens" -> (q35TopTokens _),
    "q36_fingerprint" -> (q36Fingerprint _),
    "q37_simhash" -> (q37Simhash _),
    "q38_bpe_tokens" -> (q38BpeTokens _),
    "q39_winnow" -> (q39Winnow _),
    "q50_salted_hitters" -> (q50SaltedHitters _),
    "q51_repetition" -> (q51Repetition _),
    "q52_pii" -> (q52Pii _),
    "q53_mix_sample" -> (q53MixSample _),
    "q54_incremental_dedup" -> (q54IncrementalDedup _),
    "q55_tfidf_trim" -> (q55TfidfTrim _),
    "q56_ditto" -> (q56Ditto _),
    "q57_augment" -> (q57Augment _),
    "q58_contamination" -> (q58Contamination _),
    "q40_embed_topk" -> (q40EmbedTopK _),
    "q41_embed_lsh" -> (q41EmbedLsh _),
    "q42_embed_ivf" -> (q42EmbedIvf _),
    "q43_embed_neardup" -> (q43EmbedNearDup _),
    "q49_sessions" -> (q49Sessions _),
    "q44_image_decode" -> (q44ImageDecode _),
    "q45_multimodal_meta" -> (q45MultimodalMeta _),
    "q46_multimodal_features" -> (q46MultimodalFeatures _),
    "q47_stream_month" -> (q47StreamMonth _),
    "q48_stream_window" -> (q48StreamWindow _),
    "q59_stream_interval_join" -> (q59StreamIntervalJoin _),
    "q64_stream_bloom_dedup" -> (q64StreamBloomDedup _),
    "q65_profile" -> (q65Profile _),
    "q66_cap_sample" -> (q66CapSample _),
    "q67_len_percentiles" -> (q67LenPercentiles _),
    "q68_neardup_components" -> (q68NearDupComponents _),
    "q69_asof_attribution" -> (q69AsofAttribution _),
    "q70_embed_int8" -> (q70EmbedInt8 _),
    "q71_packing" -> (q71Packing _),
    "q72_dup_ngrams" -> (q72DupNgrams _),
    "q73_leakage_split" -> (q73LeakageSplit _),
    "q74_training_order" -> (q74TrainingOrder _),
    "q75_target_affinity" -> (q75TargetAffinity _),
    "q76_semdedup" -> (q76SemDedup _),
    "q77_quality_funnel" -> (q77QualityFunnel _),
    "q78_upsample" -> (q78Upsample _),
    "q79_zorder" -> (q79ZorderLayout _),
    "q80_countmin" -> (q80CountMin _),
    "q81_drift" -> (q81DriftCensus _),
    "q82_knn_join" -> (q82KnnJoin _),
    "q83_span_dedup" -> (q83SpanDedup _),
    "q84_chunking" -> (q84Chunking _),
    "q85_inverted_index" -> (q85InvertedIndex _),
    "q86_search_topk" -> (q86SearchTopK _),
    "q87_positional_index" -> (q87PositionalIndex _),
    "q88_phrase_search" -> (q88PhraseSearch _),
    "q89_image_resize" -> (q89ImageResize _),
    "q92_audio_decode" -> (q92AudioDecode _),
    "q93_upsert" -> (q93Upsert _),
    "q95_range_join" -> (q95RangeJoin _),
    "q96_bpe_vocab" -> (q96BpeVocab _),
    "q97_curriculum" -> (q97Curriculum _),
    "q98_partitioned_upsert" -> (q98PartitionedUpsert _),
    "q99_stream_upsert" -> (q99StreamUpsert _),
    "q100_video_frames" -> (q100VideoFrames _),
    "q101_interval_overlap" -> (q101IntervalOverlap _),
    "q102_funnel" -> (q102Funnel _),
    "q103_hybrid_retrieval" -> (q103HybridRetrieval _),
    "q104_image_semdedup" -> (q104ImageSemDedup _),
    "q105_knowledge_injection" -> (q105Knowledge _),
    "q106_stream_neardup_dedup" -> (q106StreamNearDupDedup _),
    "q107_topk_per_group" -> (q107TopKPerGroup _),
    "q108_canonical_dedup" -> (q108CanonicalDedup _),
    "q109_temperature_mix" -> (q109TemperatureMix _),
    "q110_centroid_assign" -> (q110CentroidAssign _),
    "q111_bm25" -> (q111Bm25 _),
    "q112_oov_novelty" -> (q112OovNovelty _),
    "q113_corpus_build" -> (q113CorpusBuild _),
    "q114_stream_topk" -> (q114StreamTopK _),
    "q115_bpe_encode" -> (q115BpeEncode _),
    "q116_stream_static_join" -> (q116StreamStaticJoin _),
    "q117_json_extract" -> (q117JsonExtract _),
    "q118_fuzzy_join" -> (q118FuzzyJoin _),
    "q119_grouping_sets" -> (q119GroupingSets _),
    "q120_table_diff" -> (q120TableDiff _),
    "q121_setsim_join" -> (q121SetSimJoin _),
    "q122_outlier_mad" -> (q122OutlierMad _),
    "q123_pii_redact" -> (q123PiiRedact _),
    "q124_kmeans" -> (q124Kmeans _),
    "q125_scd2" -> (q125Scd2 _),
    "q126_twap" -> (q126Twap _),
    "q127_cohort_retention" -> (q127CohortRetention _),
    "q128_pagerank" -> (q128Pagerank _),
    "q129_integrity" -> (q129Integrity _),
    "q130_stream_scd2" -> (q130StreamScd2 _),
    "q131_temporal_join" -> (q131TemporalJoin _),
    "q132_reservoir" -> (q132Reservoir _))

  val oracles: Map[String, String] = Map(
    "q203_decontam_gram13" -> q203Sql,
    "q202_stream_semdedup" -> q202Sql,
    "q204_stream_decontam" -> q204Sql,
    "q205_autobands" -> q205Sql,
    "q206_bloom_decontam" -> q206Sql,
    "q207_best_survivor_dedup" -> q207Sql,
    "q208_span_loss_mask" -> q208Sql,
    "q209_semantic_decontam" -> q209Sql,
    "q210_label_propagate" -> q210Sql,
    "q211_mixture_plan" -> q211Sql,
    "q212_fim_transform" -> q212Sql,
    "q213_padding_census" -> q213Sql,
    "q201_first_arrival_dedup" -> q201Sql,
    "q200_decontam_drop" -> q200Sql,
    "q199_decontam_fraction" -> q199Sql,
    "q198_incremental_semdedup" -> q198Sql,
    "q197_incremental_neardup" -> q197Sql,
    "q196_pipeline_funnel" -> q196Sql,
    "q195_simhash_complete" -> q195Sql,
    "q194_stream_perceptual_dedup" -> q194Sql,
    "q193_video_keyframe" -> q193Sql,
    "q192_audio_fingerprint" -> q192Sql,
    "q191_perceptual_dedup" -> q191Sql,
    "q190_semdedup_probe" -> q190Sql,
    "q189_auto_probe" -> q189Sql,
    "q188_blocking_self_recall" -> q188Sql,
    "q180_gopher_rules" -> q180Sql,
    "q186_linear_interp" -> q186Sql,
    "q184_ohlc" -> q184Sql,
    "q185_knn_graph_census" -> q185Sql,
    "q173_knn_graph" -> q173Sql,
    "q172_compaction" -> q172Sql,
    "q169_string_agg" -> q169Sql,
    "q168_mode" -> q168Sql,
    "q167_winsorize" -> q167Sql,
    "q165_anomaly_zscore" -> q165Sql,
    "q166_schema_evolution" -> q166Sql,
    "q164_rolling_distinct" -> q164Sql,
    "q163_corr_census" -> q163Sql,
    "q162_forward_fill" -> q162Sql,
    "q161_stream_recovery" -> q161Sql,
    "q158_csv_roundtrip" -> q158Sql,
    "q159_json_roundtrip" -> q159Sql,
    "q160_binary_source" -> q160Sql,
    "q157_shard_manifest" -> q157Sql,
    "q155_set_ops" -> q155Sql,
    "q156_not_in" -> q156Sql,
    "q154_rag_retrieval" -> q154Sql,
    "q153_weighted_ma" -> q153Sql,
    "q152_orc_roundtrip" -> q152Sql,
    "q151_contrastive_positives" -> q151Sql,
    "q150_stream_index_maint" -> q150Sql,
    "q149_frequent_pairs" -> q149Sql,
    "q148_phrase_via_index" -> q148Sql,
    "q145_attribution" -> q145Sql,
    "q146_transitions" -> q146Sql,
    "q147_stream_outer_join" -> q147Sql,
    "q144_recall_curve" -> q144Sql,
    "q143_trend_ols" -> q143Sql,
    "q142_stream_stats" -> q142Sql,
    "q141_quota_sample" -> q141Sql,
    "q140_dataset_card" -> q140Sql,
    "q139_pq_ann" -> q139Sql,
    "q138_stream_drift" -> q138Sql,
    "q137_hard_negatives" -> q137Sql,
    "q136_ann_recall" -> q136Sql,
    "q135_lm_surprisal" -> q135Sql,
    "q30_dedup_exact" -> q30Sql,
    "q31_minhash_sig" -> q31Sql,
    "q32_near_dups" -> q32Sql,
    "q33_langid" -> q33Sql,
    "q34_quality" -> q34Sql,
    "q35_top_tokens" -> q35Sql,
    "q36_fingerprint" -> q36Sql,
    "q37_simhash" -> q37Sql,
    "q38_bpe_tokens" -> q38Sql,
    "q39_winnow" -> q39Sql,
    "q50_salted_hitters" -> q50Sql,
    "q51_repetition" -> q51Sql,
    "q52_pii" -> q52Sql,
    "q53_mix_sample" -> q53Sql,
    "q54_incremental_dedup" -> q54Sql,
    "q55_tfidf_trim" -> q55Sql,
    "q56_ditto" -> q56Sql,
    "q57_augment" -> q57Sql,
    "q58_contamination" -> q58Sql,
    "q40_embed_topk" -> q40Sql,
    "q41_embed_lsh" -> q41Sql,
    "q42_embed_ivf" -> q42Sql,
    "q43_embed_neardup" -> q43Sql,
    "q49_sessions" -> q49Sql,
    "q44_image_decode" -> q44Sql,
    "q45_multimodal_meta" -> q45Sql,
    "q46_multimodal_features" -> q46Sql,
    "q47_stream_month" -> q47Sql,
    "q48_stream_window" -> q48Sql,
    "q59_stream_interval_join" -> q59Sql,
    "q64_stream_bloom_dedup" -> q64Sql,
    "q65_profile" -> q65Sql,
    "q66_cap_sample" -> q66Sql,
    "q67_len_percentiles" -> q67Sql,
    "q68_neardup_components" -> q68Sql,
    "q69_asof_attribution" -> q69Sql,
    "q70_embed_int8" -> q70Sql,
    "q71_packing" -> q71Sql,
    "q72_dup_ngrams" -> q72Sql,
    "q73_leakage_split" -> q73Sql,
    "q74_training_order" -> q74Sql,
    "q75_target_affinity" -> q75Sql,
    "q76_semdedup" -> q76Sql,
    "q77_quality_funnel" -> q77Sql,
    "q78_upsample" -> q78Sql,
    "q79_zorder" -> q79Sql,
    "q80_countmin" -> q80Sql,
    "q81_drift" -> q81Sql,
    "q82_knn_join" -> q82Sql,
    "q83_span_dedup" -> q83Sql,
    "q84_chunking" -> q84Sql,
    "q85_inverted_index" -> q85Sql,
    "q86_search_topk" -> q86Sql,
    "q87_positional_index" -> q87Sql,
    "q88_phrase_search" -> q88Sql,
    "q89_image_resize" -> q89Sql,
    "q92_audio_decode" -> q92Sql,
    "q93_upsert" -> q93Sql,
    "q95_range_join" -> q95Sql,
    "q96_bpe_vocab" -> q96Sql,
    "q97_curriculum" -> q97Sql,
    "q98_partitioned_upsert" -> q98Sql,
    "q99_stream_upsert" -> q99Sql,
    "q100_video_frames" -> q100Sql,
    "q101_interval_overlap" -> q101Sql,
    "q102_funnel" -> q102Sql,
    "q103_hybrid_retrieval" -> q103Sql,
    "q104_image_semdedup" -> q104Sql,
    "q105_knowledge_injection" -> q105Sql,
    "q106_stream_neardup_dedup" -> q106Sql,
    "q107_topk_per_group" -> q107Sql,
    "q108_canonical_dedup" -> q108Sql,
    "q109_temperature_mix" -> q109Sql,
    "q110_centroid_assign" -> q110Sql,
    "q111_bm25" -> q111Sql,
    "q112_oov_novelty" -> q112Sql,
    "q113_corpus_build" -> q113Sql,
    "q114_stream_topk" -> q114Sql,
    "q115_bpe_encode" -> q115Sql,
    "q116_stream_static_join" -> q116Sql,
    "q117_json_extract" -> q117Sql,
    "q118_fuzzy_join" -> q118Sql,
    "q119_grouping_sets" -> q119Sql,
    "q120_table_diff" -> q120Sql,
    "q121_setsim_join" -> q121Sql,
    "q122_outlier_mad" -> q122Sql,
    "q123_pii_redact" -> q123Sql,
    "q124_kmeans" -> q124Sql,
    "q125_scd2" -> q125Sql,
    "q126_twap" -> q126Sql,
    "q127_cohort_retention" -> q127Sql,
    "q128_pagerank" -> q128Sql,
    "q129_integrity" -> q129Sql,
    "q130_stream_scd2" -> q130Sql,
    "q131_temporal_join" -> q131Sql,
    "q132_reservoir" -> q132Sql)
}
