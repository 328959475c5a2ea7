package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextAnalysis

/** Deduplication operators for training-data pipelines, in increasing
  * fuzziness: exact (content hash), canonical-form (fingerprint),
  * MinHash+LSH (shingle jaccard), SimHash (hamming), n-gram jaccard
  * verification. Everything is shuffle-on-key group/join work — the
  * shapes that scale linearly with executors; no pairwise O(n²) step
  * ever runs outside an LSH bucket.
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the smallest id per group
    * (deterministic survivor). One shuffle on the hash key.
    */
  def exactSurvivors(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.withColumn("__h", md5(col(textCol)))
      .groupBy(col("__h"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))
      .drop("__h")

  /** Canonical-fingerprint dedup (order/repetition-insensitive). */
  def fingerprintClusters(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("survivor"), count(lit(1)).as("cluster_size"))

  // ------------------------------------------------------------- minhash
  /** Word k-shingles of `textCol` (k consecutive tokens joined by one
    * space); documents shorter than k tokens contribute the whole text
    * as a single shingle.
    */
  def shingles(text: Column, k: Int = 3): Column = {
    val toks = TextAnalysis.tokens(text)
    val grams = transform(
      sequence(lit(1), size(toks) - (k - 1)),
      i => concat_ws(" ", (0 until k).map(j => element_at(toks, i + j)): _*))
    when(size(toks) >= k, grams).otherwise(array(text))
  }

  /** MinHash hash i, declarative formulation: min over shingles of
    * md5(i || '|' || shingle). String-min over hex md5 is a uniform
    * permutation surrogate that any engine reproduces bit-for-bit
    * (the DuckDB-oracle-friendly choice; xxhash64 would be faster but
    * engine-specific). Kept as the equivalence-test twin of the
    * single-pass [[graft.functions.MinHashSignature]] expression —
    * per-hash folds re-run the md5 interpreter per shingle per hash and
    * are ~100× slower at corpus scale.
    */
  def minhashColumn(text: Column, i: Int, k: Int = 3): Column =
    array_min(transform(shingles(text, k), sh => md5(concat(lit(s"$i|"), sh))))

  /** Append `numHashes` minhash columns mh0..mh{n-1} (single-pass
    * sketch expression; identical values to [[minhashColumn]]).
    */
  def withMinhashSignature(df: DataFrame, textCol: String,
      numHashes: Int = 4, k: Int = 3): DataFrame = {
    val sigged = df.withColumn("__sig",
      graft.functions.MinHashSignature(col(textCol), numHashes, k))
    (0 until numHashes).foldLeft(sigged) { (d, i) =>
      d.withColumn(s"mh$i", element_at(col("__sig"), i + 1))
    }.drop("__sig")
  }

  /** Band-scheme governor for the minhash LSH passes — the minhash
    * twin of the embedding side's `Ann.autoProbe`: pick (numBands,
    * rowsPerBand) for a target jaccard `threshold` under a
    * signature-size budget. For b bands of r rows the probability a
    * pair at similarity s becomes a candidate is 1 − (1 − s^r)^b
    * (the standard LSH S-curve; Leskovec/Rajaraman/Ullman, Mining of
    * Massive Datasets ch. 3). The governor returns the STEEPEST
    * feasible scheme: the largest r (steeper curve ⇒ fewer
    * sub-threshold candidates — the join-volume term at 100 TB) whose
    * band count b = ⌈ln(1 − targetRecall) / ln(1 − t^r)⌉ still reaches
    * `targetRecall` at the threshold within `maxHashes` total hashes.
    * Verification afterwards is exact, so the scheme moves candidate
    * volume and recall, never correctness. Throws when no scheme
    * within the budget reaches the target (raise maxHashes or lower
    * targetRecall) rather than silently under-recalling. Oracled as
    * q205 (the selection arithmetic replays in SQL); the catalog's own
    * dedup queries pin (2, 2) because their oracles replay that exact
    * scheme — the governor is the production-caller surface.
    */
  def autoBands(threshold: Double, targetRecall: Double = 0.9,
      maxHashes: Int = 16): (Int, Int) = {
    require(threshold > 0 && threshold < 1, "threshold must be in (0,1)")
    require(targetRecall > 0 && targetRecall < 1,
      "targetRecall must be in (0,1)")
    require(maxHashes >= 1, "maxHashes must be >= 1")
    val lnMiss = math.log(1 - targetRecall)
    (maxHashes to 1 by -1).iterator.flatMap { r =>
      val pr = math.pow(threshold, r)
      val b = math.ceil(lnMiss / math.log1p(-pr)).toLong
      // feasibility as b <= maxHashes/r, NOT b*r <= maxHashes: a low
      // threshold at a large r yields astronomic b (ceil saturates to
      // Long.MaxValue) and the product would wrap negative and "pass"
      if (b >= 1 && b <= maxHashes / r) Some((b.toInt, r)) else None
    }.nextOption().getOrElse {
      val feasible = 1 - math.pow(1 - threshold, maxHashes.toDouble)
      throw new IllegalArgumentException(
        f"no (bands, rows) within $maxHashes%d hashes reaches recall " +
          f"$targetRecall%.3f at threshold $threshold%.3f (best " +
          f"feasible: b=$maxHashes%d, r=1 -> recall $feasible%.4f); " +
          "raise maxHashes or lower targetRecall")
    }
  }

  /** LSH banding: band key b = concatenated minhashes of that band.
    * Returns (idCol, band, key) rows — one per band — ready for the
    * bucket self-join. rowsPerBand=2, numBands=2 by default (4 hashes);
    * [[autoBands]] picks a recall-governed scheme for production calls.
    */
  def lshBandKeys(df: DataFrame, textCol: String, idCol: String,
      numBands: Int = 2, rowsPerBand: Int = 2, k: Int = 3): DataFrame = {
    val sig = withMinhashSignature(df, textCol, numBands * rowsPerBand, k)
    val keyCols = (0 until numBands).map { b =>
      concat_ws("#", (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}")): _*)
    }
    sig.select(col(idCol), posexplode(array(keyCols: _*)).as(Seq("band", "key")))
  }

  /** Candidate near-dup pairs: same band key in any band, deduplicated,
    * id-ordered. Implemented as ONE groupBy-per-bucket pass — not a
    * band-key self-join — so the signature fold (numHashes md5-min
    * passes over every shingle) is evaluated exactly once as the
    * aggregation's input and nothing needs caching: the round-4 version
    * cached the band keys to keep the self-join from running the sketch
    * once per side and leaked that cache into long-lived sessions.
    * In-bucket ordered pairs come from the sorted id array via two
    * generators (posexplode anchor + per-anchor tail slice), streaming
    * O(bucket) per output row; the O(n²) blowup of naive all-pairs
    * never materializes outside a bucket.
    *
    * @param maxBucketSize optional skew guard: a degenerate corpus (e.g.
    *   all-equal texts) collapses every band into one bucket and hands
    *   one task the whole O(n²) verify. Capping keeps the
    *   `maxBucketSize` smallest ids per bucket (deterministic), bounding
    *   any task's fan-out at C(cap, 2) per band at a recall cost —
    *   opt-in because the uncapped result is the oracle-exact one.
    */
  def lshCandidatePairs(df: DataFrame, textCol: String, idCol: String,
      numBands: Int = 2, rowsPerBand: Int = 2, k: Int = 3,
      maxBucketSize: Int = Int.MaxValue): DataFrame =
    lshCandidatePairsFromKeys(
      lshBandKeys(df, textCol, idCol, numBands, rowsPerBand, k),
      idCol, maxBucketSize)

  /** The bucket-pass half of [[lshCandidatePairs]] over an existing
    * [[lshBandKeys]] frame — callers that already paid the sketch pass
    * (e.g. [[incrementalNearDuplicates]], which keys the batch once
    * for both its history probe and its self pairs) reuse it here
    * instead of sketching twice.
    */
  def lshCandidatePairsFromKeys(keys: DataFrame, idCol: String,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val buckets = keys.groupBy(col("band"), col("key"))
      .agg(sort_array(collect_list(col(idCol))).as("__ids"))
    val capped =
      if (maxBucketSize == Int.MaxValue) buckets
      else buckets.withColumn("__ids", slice(col("__ids"), 1, maxBucketSize))
    capped
      .select(col("__ids"), posexplode(col("__ids")).as(Seq("__i", "id_a")))
      .select(col("id_a"),
        explode(slice(col("__ids"), col("__i") + 2, size(col("__ids")))).as("id_b"))
      .distinct()
  }

  /** Exact jaccard verification of candidate pairs (id_a, id_b): joins
    * the shingle sets back in and keeps pairs at or above `threshold`.
    * Factored out of [[nearDuplicates]] so callers that also need the
    * raw candidate set (e.g. a census) compute the LSH stage once.
    */
  def verifyJaccard(cands: DataFrame, df: DataFrame, textCol: String,
      idCol: String, threshold: Double, k: Int = 3): DataFrame = {
    // The pair frame melts to (id_a, id_b, __id) — one row per SIDE —
    // and joins the shingle frame ONCE, so the full tokenize+shingle
    // pass over the corpus runs exactly once with nothing cached (the
    // round-4 version joined the cached shingle frame once per leg and
    // leaked that cache into long-lived sessions); a groupBy on the
    // pair key then reassembles the two shingle sets side by side.
    // SHUFFLE_HASH-hinted: the shingle arrays are the WIDE side (each
    // row carries the document's k-gram set); without the hint AQE's
    // cold-cache size estimates sometimes pick a driver-side BROADCAST
    // of this frame — a single-threaded collect+build of hundreds of MB
    // of arrays, observed as a bimodal 3 s / 60+ s census. A shuffled
    // hash join keys on the narrow id and builds per-partition — the
    // only shape that survives corpus scale.
    val sh = df.select(col(idCol).as("__id"),
      array_distinct(shingles(col(textCol), k)).as("__sh"))
    val melted = cands.select(col("id_a"), col("id_b"),
      explode(array(col("id_a"), col("id_b"))).as("__id"))
    val withTexts = melted
      .join(sh.hint("shuffle_hash"), "__id")
      .groupBy(col("id_a"), col("id_b"))
      .agg(
        first(when(col("__id") === col("id_a"), col("__sh")), ignoreNulls = true)
          .as("sh_a"),
        first(when(col("__id") === col("id_b"), col("__sh")), ignoreNulls = true)
          .as("sh_b"))
    // |A∪B| = |A|+|B|−|A∩B|: sh_a/sh_b are array_distinct above, so the
    // subtraction form is the identical integer count without building a
    // per-pair union hash set over the concatenated shingle arrays
    val interSz = size(array_intersect(col("sh_a"), col("sh_b")))
    withTexts
      .withColumn("jaccard",
        interSz.cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - interSz).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Verified near-dup pairs: LSH candidates whose k-shingle jaccard
    * meets `threshold` (exact verification joins the texts back in).
    * Leak-free: both stages are single-pass now, so nothing is cached —
    * a long-lived session can loop this without pinning frames (callers
    * that consume the result more than once own their persistence).
    */
  def nearDuplicates(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.7, numBands: Int = 2, rowsPerBand: Int = 2,
      k: Int = 3, maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val cands = lshCandidatePairs(df, textCol, idCol, numBands, rowsPerBand, k,
      maxBucketSize)
    verifyJaccard(cands, df, textCol, idCol, threshold, k)
  }

  /** A dedup operator's output: `survivors` is the input minus the
    * `losers` ids. Built only by [[Components.withoutLosers]], which
    * pins the loser frame; `close()` releases it, after which actions
    * on `survivors` would recompute the whole closure. Same ownership
    * contract as `Ann.IvfIndex`.
    */
  final case class NearDupResult(survivors: DataFrame, losers: DataFrame)
      extends AutoCloseable {
    override def close(): Unit = losers.unpersist(true)
  }

  /** The end-user dedup surface: remove every near-duplicate except its
    * cluster representative (component MINIMUM id — deterministic). The
    * pair→component closure and the loser pin are
    * [[Components.dropLosers]]; docs in no near-dup pair survive
    * untouched.
    */
  def dropNearDuplicates(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.7, numBands: Int = 2, rowsPerBand: Int = 2,
      k: Int = 3): NearDupResult =
    Components.dropLosers(df, idCol, nearDuplicates(df, textCol, idCol,
      threshold, numBands, rowsPerBand, k).select(col("id_a"), col("id_b")))()

  /** [[dropNearDuplicates]] over a PRECOMPUTED (and caller-PERSISTED)
    * [[lshBandKeys]] frame for `df` — the seam for callers that need
    * the keys a second time and must not pay the signature sketch
    * twice (q197/q201: the history's keys feed its own dedup here AND,
    * filtered to survivors, the incremental batch probe join via
    * `historyKeys`). Two r12 differences from the single-pass surface,
    * both result-identical (same survivor set, spec'd):
    *  - the candidate pass reads `keys` instead of re-sketching — why
    *    the caller must persist it (it is consumed by the bucket pass
    *    AND the referenced-id prune below; unpersisted keys would
    *    re-run the md5-min fold per consumer);
    *  - the verify shingle side is semi-join-pruned to
    *    candidate-referenced ids (guide §2.3): verifyJaccard joins the
    *    shingle frame INNER on the pair ids, so non-candidate rows
    *    never contribute — pruning them first skips their tokenize +
    *    shingle work and their shuffle bytes, the
    *    incrementalNearDuplicates posture applied to the batch surface.
    */
  def dropNearDuplicatesFromKeys(df: DataFrame, keys: DataFrame,
      textCol: String, idCol: String, threshold: Double = 0.7,
      k: Int = 3): NearDupResult = {
    val cands = lshCandidatePairsFromKeys(keys, idCol)
    val refIds = cands
      .select(explode(array(col("id_a"), col("id_b"))).as("__rid"))
      .distinct()
    val pruned = df.select(col(idCol), col(textCol))
      .join(refIds, col(idCol) === col("__rid"), "left_semi")
    Components.dropLosers(df, idCol,
      verifyJaccard(cands, pruned, textCol, idCol, threshold, k)
        .select(col("id_a"), col("id_b")))()
  }

  /** Quality-aware cluster survivor selection: like
    * [[dropNearDuplicates]], but the survivor of each near-dup cluster
    * is the member with the HIGHEST `scoreCol` (ties and null scores
    * fall back to the smallest id — total, deterministic order), not
    * the smallest id. This is the posture a training-data pipeline
    * usually wants: near-dup clusters mix crawls of the same page
    * across fidelity levels, and min-id keeps whichever arrived first
    * while best-of-cluster keeps the longest / highest-quality capture
    * (Penedo et al.'s RefinedWeb and Gopher both dedup this way —
    * score by length or a quality signal).
    *
    * Shape: the pair→component closure is [[Components]] (unchanged);
    * winner election is ONE `row_number` window partitioned by the
    * cluster representative — partitions are near-dup clusters, whose
    * size the band scheme already bounds, so the window never sees a
    * corpus-scale partition. Docs in no near-dup pair survive
    * untouched and never enter the window. Any scoring column works
    * (a length, a [[graft.text.TextAnalysis]] quality signal, a model
    * score) as long as it is deterministic.
    */
  def dropNearDuplicatesBest(df: DataFrame, textCol: String, idCol: String,
      scoreCol: String, threshold: Double = 0.7, numBands: Int = 2,
      rowsPerBand: Int = 2, k: Int = 3): NearDupResult = {
    val pairs = nearDuplicates(df, textCol, idCol, threshold, numBands,
      rowsPerBand, k).select(col("id_a"), col("id_b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("rep"))
      .orderBy(col("__score").desc_nulls_last, col("id").asc)
    Components.dropLosers(df, idCol, pairs) { mapping =>
      mapping
        .join(df.select(col(idCol).as("id"), col(scoreCol).as("__score")),
          Seq("id"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") > 1)
        .select(col("id").as(idCol))
    }
  }

  /** Incremental near-dup maintenance — the posture a corpus at scale
    * actually runs: a new crawl `batch` deduplicates against an
    * ALREADY-DEDUPED `history` without ever re-scanning
    * history×history. Candidates are batch×batch (the plain LSH
    * bucket pass) plus batch×history band-key probes (ONE equi-join
    * of the batch's band keys against the history's — history
    * survivors are pairwise non-near-dup under this very band scheme,
    * so no history-internal edge can exist and none is looked for).
    * Exact-jaccard verification joins shingles back for REFERENCED
    * ids only (semi-join pruned — un-candidated history rows are
    * never shuffled past their band keys). A batch doc survives iff
    * its component over the found edges contains no history doc and
    * it is the component's min id.
    *
    * EQUIVALENCE CONTRACT (spec'd; q197's oracle replays it): when
    * every history id sorts BELOW every batch id (min-id survivorship
    * must favor the established corpus — the natural shape for
    * monotonically assigned ids), `survivors` equals
    * `dropNearDuplicates(history ∪ batch).survivors` restricted to
    * the batch — the incremental path computes exactly the full
    * replay's answer at batch-driven cost. The strict ordering also
    * means the id SETS are disjoint — a history id reused by a batch
    * row (a re-crawl overwriting in place) must go through an upsert
    * first, since two texts under one id would make the per-id
    * shingle lookup ambiguous. Callers violating the id ordering get
    * batch-internal dedup plus history-collision drops, but not the
    * replay equivalence.
    *
    * `historyWins = true` switches the survivor rule to FIRST-ARRIVAL
    * (the streaming semantic): a batch doc dies whenever its component
    * touches any history doc, regardless of id order — so ids only
    * need to be DISJOINT, not ordered. The ordered-id min-id contract
    * above then coincides with this rule; with interleaved ids (the
    * multi-source ingest shape) only this rule keeps the established
    * corpus stable. q201 oracle-checks it with odd/even interleaved
    * ids.
    *
    * The min-id path GUARDS its ordering contract (long-typed ids):
    * one column-pruned max(history)/min(batch) agg runs up front, and
    * a violation logs a WARN naming the offending ids — or throws
    * when `enforceIdOrder = true` — instead of letting established
    * history docs silently churn out of the replay equivalence.
    * Non-long id types skip the guard (the contract is still the
    * caller's to honor).
    *
    * Scale shape: history contributes one column-pruned sketch pass
    * (band keys — persist them across batches via [[lshBandKeys]] to
    * amortize, the `withBandKeys` pattern) and the keyed probe join;
    * candidate and edge volume are batch-driven. Nothing quadratic in
    * history, ever.
    *
    * HOT-KEY skew: the batch×history probe join is UNCAPPED by
    * correctness (a capped history probe would resurrect dupes), so a
    * degenerate band key shared by the whole history is its worst
    * case. Measured (SURVEY.md round 10 ScaleSmoke "hot-key probe":
    * one real batch key declared by 10⁴·m soup docs via
    * `historyKeys`): 5.9× wall at 64× history growth (40k → 2.56M
    * hot-key docs) — the fan-out rides
    * the normal shuffle path. At production partition sizes AQE's
    * skew split divides the hot reducer partition (plan-pinned in
    * PlanQualitySpec with lowered thresholds: `skew=true` on exactly
    * this join shape); below those thresholds
    * [[graft.operators.Skew.saltedJoin]] on (band, key) is the
    * explicit, pair-complete lever.
    *
    * Relation to [[IncrementalDedup.nearDupNewDocs]] (the streaming
    * state-table face): that one verifies by minhash SIGNATURE
    * AGREEMENT against a compact band-key state table — the right
    * trade per trigger, but an estimate, so it cannot promise replay
    * equivalence. THIS operator verifies exact jaccard against the
    * history text and carries the full-replay contract — the
    * batch-maintenance surface you reconcile a corpus with.
    */
  def incrementalNearDuplicates(history: DataFrame, batch: DataFrame,
      textCol: String, idCol: String, threshold: Double = 0.7,
      numBands: Int = 2, rowsPerBand: Int = 2, k: Int = 3,
      historyKeys: Option[DataFrame] = None,
      historyWins: Boolean = false,
      enforceIdOrder: Boolean = false): NearDupResult = {
    if (!historyWins &&
        history.schema(idCol).dataType ==
          org.apache.spark.sql.types.LongType &&
        batch.schema(idCol).dataType ==
          org.apache.spark.sql.types.LongType) {
      // one column-pruned job; empty sides are vacuously ordered
      val r = history.agg(max(col(idCol)).as("__mh"))
        .crossJoin(batch.agg(min(col(idCol)).as("__mb"))).head()
      if (!r.isNullAt(0) && !r.isNullAt(1) && r.getLong(0) >= r.getLong(1)) {
        val msg = s"incrementalNearDuplicates min-id contract violated: " +
          s"max(history.$idCol) = ${r.getLong(0)} >= " +
          s"min(batch.$idCol) = ${r.getLong(1)} — interleaved ids evict " +
          "established history docs under the min-id rule; use " +
          "historyWins = true (first-arrival) for multi-source ingest"
        if (enforceIdOrder) throw new IllegalArgumentException(msg)
        else org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
      }
    }
    // pinned so the sketch fold (the expensive per-row md5-min pass)
    // runs ONCE for the two consumers below (history probe + self
    // pairs) — lazy reuse would re-sketch per consumer; released
    // before return (this operator is internally eager: losers
    // materialize below)
    val keysB = lshBandKeys(batch, textCol, idCol, numBands, rowsPerBand, k)
      .persist()
    try {
      val keysH = historyKeys.getOrElse(
        lshBandKeys(history, textCol, idCol, numBands, rowsPerBand, k))
      // The batch is BY CONTRACT the small side (a crawl window probing
      // an established corpus), and its key frame is already persisted
      // above — broadcast it so the history key table, the side
      // proportional to the full corpus, is never shuffled for the
      // probe. The broadcast is gated on the key frame's size estimate
      // against the session's broadcast threshold: a batch above it (or
      // a session with broadcast off) takes the shuffle join — the same
      // pairs, without building an oversized table on the driver.
      val probeB = keysB.select(col(idCol).as("id_b"), col("band"), col("key"))
      val broadcastLimit = batch.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
      val fits = broadcastLimit >= 0 &&
        keysB.queryExecution.optimizedPlan.stats.sizeInBytes <= broadcastLimit
      val cross = keysH.select(col(idCol).as("id_a"), col("band"), col("key"))
        .join(if (fits) broadcast(probeB) else probeB, Seq("band", "key"))
        .select(col("id_a"), col("id_b")).distinct()
      val self = lshCandidatePairsFromKeys(keysB, idCol)
      // self pairs have both ids in batch, cross pairs one in history —
      // disjoint by construction (the id-ordering contract implies the
      // id SETS are disjoint; a shared id with different text would
      // make verifyJaccard's per-id shingle lookup ambiguous), no
      // cross-set dedup needed
      val cands = self.unionByName(cross)
      val refIds = cands
        .select(explode(array(col("id_a"), col("id_b"))).as("__rid"))
        .distinct()
      val pruned = history.select(col(idCol), col(textCol))
        .unionByName(batch.select(col(idCol), col(textCol)))
        .join(refIds, col(idCol) === col("__rid"), "left_semi")
      val edges = verifyJaccard(cands, pruned, textCol, idCol, threshold, k)
        .select(col("id_a"), col("id_b"))
      Components.dropLosers(batch, idCol, edges)(
        Components.batchLosers(batch, idCol, historyWins))
    } finally keysB.unpersist(false)
  }

  // ----------------------------------------------------------- winnowing
  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003):
    * keep the minimum k-gram hash of every sliding window of `w`
    * consecutive k-grams; the distinct kept hashes are the document's
    * sketch. Any shared run of w+k-1 tokens is guaranteed to contribute
    * a common fingerprint while only ~2/(w+1) of the grams survive —
    * the classic local fingerprint for plagiarism / near-dup detection,
    * complementing MinHash (which sketches global set overlap, not
    * contiguous local matches). Gram hashes use [[portableHash60]] so a
    * SQL oracle reproduces the sketch bit-for-bit; the whole sketch is
    * one codegen'd expression over the gram array — no UDF, no shuffle.
    * Documents shorter than one window contribute their single minimum
    * gram hash (the reference algorithm's degenerate case).
    */
  def winnowFingerprints(text: Column, k: Int = 3, w: Int = 4): Column =
    graft.functions.WinnowSketch(text, k, w)


  // ------------------------------------------------------------- simhash
  /** 64-bit SimHash over tokens (xxhash64 token hashes; per-bit majority
    * vote). Near-dups = small hamming distance. Engine-native hash →
    * fast, but not oracle-portable; verified by property tests instead.
    * Single-pass sketch expression (one token hash feeds all 64
    * counters); its per-bit-fold twin lives with the equivalence
    * specs.
    */
  def simhash(text: Column): Column = graft.functions.SimHash64(text)

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Oracle-portable 60-bit token hash: the first 15 hex chars of md5,
    * parsed base-16 — reproducible in any engine with md5 + hex casts
    * (DuckDB: `CAST('0x' || substring(md5(t), 1, 15) AS BIGINT)`).
    */
  def portableHash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Portable 60-bit SimHash twin of [[simhash]]: md5-derived token
    * hashes, per-bit majority vote — bit-for-bit reproducible by a SQL
    * oracle, computed by the single-pass
    * [[graft.functions.SimHashPortable60]] expression (one md5 per
    * token through a reused JVM digest; the declarative fold the specs
    * compare against pays the md5 expression interpreter per token).
    */
  def simhashPortable(text: Column): Column =
    graft.functions.SimHashPortable60(text)

  /** Near-dup pairs from a precomputed (idCol, sig) signature frame —
    * callers that need the signatures for more than one leg (e.g. a
    * census) compute the sketch pass once, cache it, and feed it here;
    * the self-join would otherwise re-evaluate the signature expression
    * once per join side.
    */
  def simhashNearDuplicatesFromSigs(sigs: DataFrame, idCol: String,
      maxDistance: Int = 8, prefixBits: Int = 16, bits: Int = 64): DataFrame = {
    val bucketed = sigs.withColumn("bucket",
      shiftrightunsigned(col("sig"), bits - prefixBits))
    val a = bucketed.select(col("bucket"), col(idCol).as("id_a"), col("sig").as("sig_a"))
    val b = bucketed.select(col("bucket").as("bucket_b"), col(idCol).as("id_b"),
      col("sig").as("sig_b"))
    a.join(b, col("bucket") === col("bucket_b") && col("id_a") < col("id_b"))
      .withColumn("distance", hamming(col("sig_a"), col("sig_b")))
      .filter(col("distance") <= maxDistance)
      .select(col("id_a"), col("id_b"), col("distance"))
  }

  /** [[simhashNearDuplicatesComplete]] `numBlocks` sentinel: size the
    * block count to the corpus via [[autoBlocks]] (one count job).
    */
  val AutoBlocks: Int = 0

  /** Corpus-sized block count for the complete scheme: the smallest
    * `nb ≥ d+1` whose join-key width (the `nb−d` narrowest blocks
    * concatenated) covers `log2(n) + log2(C(nb, d))` bits — the point
    * where EXPECTED random-pair key collisions, summed over all
    * C(nb, d) block-union tables (n²·C/2^width), stay at or below n,
    * i.e. candidate volume stays near-linear. At d=3 over 60 bits the
    * minimal nb=4 gives ~15-bit keys: fine to ~10⁵ docs, ~10⁸ chance
    * pairs at 2M, ruinous at 10⁹ — Manku et al. §3's exact point:
    * trading more (but bounded) joins for exponentially smaller
    * buckets. Capped at `d + 5` extra blocks (C(d+5, d) tables — 56
    * joins at d=3, the practical web-scale ceiling) and at `bits`.
    */
  def autoBlocks(n: Long, maxDistance: Int, bits: Int): Int = {
    val d = maxDistance
    val lo = d + 1
    val hi = math.min(bits, d + 5)
    def choose(nn: Int, kk: Int): Double =
      (0 until kk).map(i => (nn - i).toDouble / (i + 1)).product
    def keyWidth(nb: Int): Int =
      Seq.tabulate(nb)(i => bits / nb + (if (i < bits % nb) 1 else 0))
        .sorted.take(nb - d).sum
    val need = math.log(math.max(n, 2).toDouble) / math.log(2.0)
    (lo to hi).find(nb =>
        keyWidth(nb) >= need + math.log(choose(nb, d)) / math.log(2.0))
      .getOrElse(hi)
  }

  /** Balanced bit-block layout for the complete scheme: block widths
    * (wider blocks first) and their bit offsets.
    */
  private def blockLayout(bits: Int, nb: Int): (IndexedSeq[Int], IndexedSeq[Int]) = {
    val widths = IndexedSeq.tabulate(nb)(i =>
      bits / nb + (if (i < bits % nb) 1 else 0))
    (widths, widths.scanLeft(0)(_ + _).init.toIndexedSeq)
  }

  private def blockBits(sig: Column, widths: IndexedSeq[Int],
      offsets: IndexedSeq[Int], i: Int): Column =
    // a full-width block (nb=1, bits=64) masks with (1L<<64)-1 = 0,
    // silently collapsing every row into one bucket — the raw
    // signature IS the key there
    if (widths(i) == 64) sig
    else shiftrightunsigned(sig, offsets(i))
      .bitwiseAND(lit((1L << widths(i)) - 1L))

  /** One-row census of the complete scheme's CANDIDATE volume — the
    * pre-verification pair count Σ_tables Σ_keys C(c,2), computed from
    * key-group cardinality arithmetic alone (zero pairs materialized,
    * one keyed count-shuffle per block-union table). This is the
    * number that decides whether a key width still fits a corpus size:
    * the join in [[simhashNearDuplicatesComplete]] pays exactly these
    * pairs in work, so a near-linear census at m× growth certifies the
    * [[autoBlocks]] sizing without ever running the quadratic join a
    * mis-sized key would produce. Output: n_rows, num_blocks,
    * n_tables, candidate_pairs.
    */
  def simhashCompleteCandidateCensus(sigs: DataFrame,
      maxDistance: Int = 3, bits: Int = 60,
      numBlocks: Int = AutoBlocks): DataFrame = {
    val base = sigs.filter(col("sig").isNotNull)
    val nb =
      if (numBlocks != AutoBlocks) numBlocks
      else autoBlocks(base.count(), maxDistance, bits)
    require(nb > maxDistance && nb <= bits,
      s"numBlocks must be in (maxDistance, bits], got $nb")
    val (widths, offsets) = blockLayout(bits, nb)
    val unions = (0 until nb).combinations(nb - maxDistance).toIndexedSeq
    val n = base.agg(count(lit(1)).as("n_rows"))
    unions.map { kept =>
      base.groupBy(kept.map(i =>
          blockBits(col("sig"), widths, offsets, i)): _*)
        .agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(shiftright(col("c") * (col("c") - 1L), 1)),
          lit(0L)).as("p"))
    }.reduce(_ unionByName _)
      .agg(sum(col("p")).as("candidate_pairs"))
      .crossJoin(n)
      .select(col("n_rows"), lit(nb).as("num_blocks"),
        lit(unions.size).as("n_tables"), col("candidate_pairs"))
  }

  /** GUARANTEED-complete SimHash near-dup pairs at Hamming ≤
    * `maxDistance` — the Manku–Jain–Sarma web-dedup scheme (WWW 2007,
    * public) replacing the prefix-bucket heuristic below, whose recall
    * silently excludes any pair differing inside the prefix window:
    * split the signature into `numBlocks ≥ maxDistance + 1` bit
    * blocks; a pair within distance d differs in at most d blocks, so
    * BY PIGEONHOLE it agrees fully on at least `numBlocks − d` — in
    * particular on at least one of the C(numBlocks, d) possible
    * (numBlocks − d)-block unions. Candidates are the union of
    * per-block-union equi-joins (each a hash join on the union's
    * concatenated bits), each pair emitted exactly once via the
    * FIRST-shared-union rule (union t emits only when every earlier
    * union has at least one differing block — the generalization of
    * the first-shared-block rule, no distinct pass), then
    * exact-Hamming verified.
    *
    * Scale shape: C(numBlocks, d) keyed shuffles of the signature
    * frame. The knob trades join count against key width — the
    * minimal `numBlocks = d+1` gives d+1 joins on ~bits/(d+1)-bit
    * keys (candidate volume ~n²·(d+1)/2^(bits/(d+1)) from chance
    * collisions — super-linear once n passes 2^(bits/(d+1))), while
    * wider settings shrink buckets exponentially for boundedly more
    * joins; [[AutoBlocks]] (the default) sizes it from one corpus
    * count so candidates stay near-linear, Manku et al.'s own
    * table-count trade. The prefix variant stays for cheap
    * approximate censuses; THIS is the dedup-grade candidate
    * generator.
    */
  def simhashNearDuplicatesComplete(sigs: DataFrame, idCol: String,
      maxDistance: Int = 3, bits: Int = 60,
      numBlocks: Int = AutoBlocks): DataFrame = {
    require(maxDistance >= 0 && maxDistance < bits,
      "maxDistance must be in [0, bits)")
    require(bits >= 1 && bits <= 64, "bits must be in [1, 64]")
    val base = sigs.filter(col("sig").isNotNull)
    val nb =
      if (numBlocks != AutoBlocks) numBlocks
      else autoBlocks(base.count(), maxDistance, bits)
    require(nb > maxDistance && nb <= bits,
      s"numBlocks must be in (maxDistance, bits], got $nb")
    val (widths, offsets) = blockLayout(bits, nb)
    def blockOf(sig: Column, i: Int): Column =
      blockBits(sig, widths, offsets, i)
    // lexicographic union order; for nb = d+1 the unions are the
    // singletons {0}..{d} and this reduces to the per-block scheme
    val unions = (0 until nb).combinations(nb - maxDistance).toIndexedSeq
    unions.zipWithIndex.map { case (kept, t) =>
      val keyNames = kept.indices.map(j => s"__k$j")
      def keyed(side: String) = base.select(
        col(idCol).as(s"id_$side") +: col("sig").as(s"sig_$side") +:
          kept.zipWithIndex.map { case (i, j) =>
            blockOf(col("sig"), i).as(keyNames(j))
          }: _*)
      val earlierBroken = unions.take(t).map(u =>
          u.map(i => blockOf(col("sig_a"), i) =!= blockOf(col("sig_b"), i))
            .reduce(_ || _))
        .foldLeft(lit(true))(_ && _)
      keyed("a").join(keyed("b"), keyNames)
        .filter(col("id_a") < col("id_b") && earlierBroken)
        .select(col("id_a"), col("id_b"),
          hamming(col("sig_a"), col("sig_b")).as("distance"))
    }.reduce(_ unionByName _)
      .filter(col("distance") <= maxDistance)
  }

  /** SimHash near-dup pairs within prefix buckets: documents sharing the
    * top `prefixBits` bits land in one bucket (cheap blocking), then
    * exact hamming verification ≤ maxDistance.
    */
  def simhashNearDuplicates(df: DataFrame, textCol: String, idCol: String,
      maxDistance: Int = 8, prefixBits: Int = 16): DataFrame = {
    val sigs = df.select(col(idCol), simhash(col(textCol)).as("sig"))
      .withColumn("bucket", shiftrightunsigned(col("sig"), 64 - prefixBits))
    val a = sigs.select(col("bucket"), col(idCol).as("id_a"), col("sig").as("sig_a"))
    val b = sigs.select(col("bucket").as("bucket_b"), col(idCol).as("id_b"),
      col("sig").as("sig_b"))
    a.join(b, col("bucket") === col("bucket_b") && col("id_a") < col("id_b"))
      .withColumn("distance", hamming(col("sig_a"), col("sig_b")))
      .filter(col("distance") <= maxDistance)
      .select(col("id_a"), col("id_b"), col("distance"))
  }
}
