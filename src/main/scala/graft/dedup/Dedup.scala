package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{MinHashSignature, ShingleJaccard, ShingleSet}
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
    * as a single shingle (a null text yields `[null]`). The token array
    * is bound once per row ([[TextAnalysis.bindOnce]]), so building the
    * shingles is linear in the document's tokens times k.
    */
  def shingles(text: Column, k: Int = 3): Column =
    TextAnalysis.bindOnce(TextAnalysis.tokens(text)) { toks =>
      when(size(toks) >= k, TextAnalysis.windows(toks, k)).otherwise(array(text))
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

  /** The band keys of a minhash signature column — the one band scheme
    * the dedup operators, the streaming state and candidate blocking
    * share: band b is components b·r+1 … b·r+r of `sig` (r =
    * `rowsPerBand`) joined by `#`, one key column per band. A null
    * signature keys every band `""`. Throws when `numBands` or
    * `rowsPerBand` is below 1: with no bands no document gets a key,
    * and with empty bands every document shares every key.
    */
  private[graft] def bandKeyCols(sig: Column, numBands: Int,
      rowsPerBand: Int): Seq[Column] = {
    require(numBands >= 1, s"numBands must be >= 1, got $numBands")
    require(rowsPerBand >= 1, s"rowsPerBand must be >= 1, got $rowsPerBand")
    (0 until numBands).map { b =>
      concat_ws("#", (0 until rowsPerBand).map(r =>
        element_at(sig, b * rowsPerBand + r + 1)): _*)
    }
  }

  /** LSH banding ([[bandKeyCols]]). Returns (idCol, textCol, band, key)
    * rows — one per band, each carrying the document's id and text —
    * ready for the bucket pass, which verifies pairs on the texts the
    * keys carry. rowsPerBand=2, numBands=2 by default (4 hashes);
    * [[autoBands]] picks a recall-governed scheme for production calls.
    * Throws when `numBands`, `rowsPerBand` or `k` is below 1.
    */
  def lshBandKeys(df: DataFrame, textCol: String, idCol: String,
      numBands: Int = 2, rowsPerBand: Int = 2, k: Int = 3): DataFrame = {
    val keyCols = bandKeyCols(col("__sig"), numBands, rowsPerBand)
    // two selects, not a withColumn per hash: each Dataset step costs
    // the driver an analysis pass, and every dedup pass builds these keys
    df.select(col(idCol), col(textCol),
        MinHashSignature(col(textCol), numBands * rowsPerBand, k).as("__sig"))
      .select(col(idCol), col(textCol),
        posexplode(array(keyCols: _*)).as(Seq("band", "key")))
  }

  /** A bucket's sorted member array cut to its `maxBucketSize` first
    * members (the identity when uncapped).
    */
  private def capped(members: Column, maxBucketSize: Int): Column =
    if (maxBucketSize == Int.MaxValue) members else slice(members, 1, maxBucketSize)

  /** Every in-bucket pair of the array column `arr`, as columns `__a`
    * and `__b` with `__a` at the lower index: a posexplode anchor plus a
    * per-anchor tail slice, streaming O(bucket) per output row, so the
    * O(n²) blowup of naive all-pairs never materializes outside a
    * bucket. With `partner`, `__b` is `partner(__a, b)` for each later
    * member b, built inside the per-anchor explode.
    */
  private def bucketPairs(buckets: DataFrame, arr: String,
      partner: Option[(Column, Column) => Column] = None): DataFrame = {
    val tail = slice(col(arr), col("__i") + 2, size(col(arr)))
    buckets
      .select(col(arr), posexplode(col(arr)).as(Seq("__i", "__a")))
      .select(col("__a"), explode(partner.fold(tail)(p =>
        transform(tail, b => p(col("__a"), b)))).as("__b"))
  }

  /** Candidate near-dup pairs: same band key in any band, deduplicated,
    * id-ordered. Implemented as ONE groupBy-per-bucket pass — not a
    * band-key self-join — so the signature fold (numHashes md5-min
    * passes over every shingle) is evaluated exactly once as the
    * aggregation's input and nothing needs caching: the round-4 version
    * cached the band keys to keep the self-join from running the sketch
    * once per side and leaked that cache into long-lived sessions.
    * Callers that verify the pairs right away should call
    * [[nearDuplicates]], which scores them inside the bucket; this is
    * the candidate set alone, for a census or a [[verifyJaccard]] caller
    * that needs both.
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
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val buckets = lshBandKeys(df, textCol, idCol, numBands, rowsPerBand, k)
      .groupBy(col("band"), col("key"))
      .agg(capped(sort_array(collect_list(col(idCol))), maxBucketSize).as("__ids"))
    bucketPairs(buckets, "__ids")
      .select(col("__a").as("id_a"), col("__b").as("id_b"))
      .distinct()
  }

  /** The verify step for a bare pair frame: exact k-shingle jaccard of
    * the candidate pairs (id_a, id_b), joining the shingle sets of `df`
    * back in, keeping pairs at or above `threshold`. The dedup operators
    * never call it — their key frames carry the texts, so they verify
    * inside the bucket. It serves callers that need the raw candidates
    * as well: q32's candidates-plus-verified census and the certabench
    * `dedup` trace. Scoring uses the in-bucket path's shingle sets and
    * jaccard expression, so both give bit-equal scores.
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
    val sh = df.select(col(idCol).as("__id"), ShingleSet(col(textCol), k).as("__sh"))
    val melted = cands.select(col("id_a"), col("id_b"),
      explode(array(col("id_a"), col("id_b"))).as("__id"))
    melted
      .join(sh.hint("shuffle_hash"), "__id")
      .groupBy(col("id_a"), col("id_b"))
      .agg(
        first(when(col("__id") === col("id_a"), col("__sh")), ignoreNulls = true)
          .as("sh_a"),
        first(when(col("__id") === col("id_b"), col("__sh")), ignoreNulls = true)
          .as("sh_b"))
      .withColumn("jaccard", ShingleJaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** The in-bucket verify over an [[lshBandKeys]] frame: rows with a
    * null id drop out, the (band, key) groupBy — the only wide shuffle —
    * collects each bucket's (id, text) members, and buckets of fewer
    * than two members drop out there. `maxBucketSize` caps the members,
    * smallest ids first, before anything is shingled. Each member's
    * shingle set is built once per bucket; the per-anchor explode emits
    * each later member as an (id, jaccard) struct, so a pair is scored
    * once, as it is generated, and the threshold filters the
    * generator's output. A pair that collides in several bands is kept
    * once (a `distinct` that shuffles only the verified pairs). Output
    * (id_a, id_b, jaccard), id_a < id_b.
    */
  private def verifiedInBuckets(keys: DataFrame, textCol: String,
      idCol: String, threshold: Double, k: Int,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val docs = collect_list(struct(col(idCol).as("id"), col(textCol).as("text")))
    // The members are shingled in the aggregate's result expression, and
    // a singleton bucket yields null there. Shingled in a projection
    // above the aggregate, the generator's inferred `size(__m) > 0`
    // filter would be pushed below that projection and shingle every
    // bucket a second time.
    val members = when(size(docs) >= 2,
      transform(capped(sort_array(docs), maxBucketSize), d =>
        struct(d("id").as("id"), ShingleSet(d("text"), k).as("sh"))))
    val buckets = keys.filter(col(idCol).isNotNull)
      .groupBy(col("band"), col("key"))
      .agg(members.as("__m"))
    // scored inside the generator: a filter on a projected jaccard would
    // be pushed below the projection and score every passing pair twice
    bucketPairs(buckets, "__m", Some((a: Column, b: Column) =>
        struct(b("id").as("id"), ShingleJaccard(a("sh"), b("sh")).as("jaccard"))))
      .filter(col("__b.jaccard") >= threshold)
      .select(col("__a.id").as("id_a"), col("__b.id").as("id_b"),
        col("__b.jaccard").as("jaccard"))
      .distinct()
  }

  /** Verified near-dup pairs (id_a, id_b, jaccard): LSH candidates whose
    * k-shingle jaccard meets `threshold`, verified inside their bucket.
    * One scan of `df` sketches each document, and its band keys carry
    * its (id, text) into the bucket groupBy, so a bucket holds its
    * members' texts; `maxBucketSize` (see [[lshCandidatePairs]]) bounds
    * them. Null ids take part in no pair.
    * The rows equal [[lshCandidatePairs]] + [[verifyJaccard]], which
    * would scan the corpus again and join its shingle sets back to the
    * pairs through two more shuffles. Nothing is cached — a long-lived
    * session can loop this without pinning frames (callers that consume
    * the result more than once own their persistence).
    */
  def nearDuplicates(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.7, numBands: Int = 2, rowsPerBand: Int = 2,
      k: Int = 3, maxBucketSize: Int = Int.MaxValue): DataFrame =
    verifiedInBuckets(lshBandKeys(df, textCol, idCol, numBands, rowsPerBand, k),
      textCol, idCol, threshold, k, maxBucketSize)

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
    * untouched. One body with [[dropNearDuplicatesFromKeys]], over the
    * band keys of `df`.
    */
  def dropNearDuplicates(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.7, numBands: Int = 2, rowsPerBand: Int = 2,
      k: Int = 3): NearDupResult =
    dropNearDuplicatesFromKeys(df,
      lshBandKeys(df, textCol, idCol, numBands, rowsPerBand, k),
      textCol, idCol, threshold, k)

  /** [[dropNearDuplicates]] over an existing [[lshBandKeys]] frame for
    * `df` — the seam for callers that need the keys a second time and
    * must not pay the signature sketch twice (q197/q201: the history's
    * keys feed its own dedup here AND, filtered to survivors, the
    * incremental batch probe join via `historyKeys`). The pairs are
    * verified inside the bucket on the texts the keys carry, so `keys`
    * is read once here and `df` only for the survivors; a caller that
    * reuses the keys persists them.
    */
  def dropNearDuplicatesFromKeys(df: DataFrame, keys: DataFrame,
      textCol: String, idCol: String, threshold: Double = 0.7,
      k: Int = 3): NearDupResult =
    Components.dropLosers(df, idCol,
      verifiedInBuckets(keys, textCol, idCol, threshold, k)
        .select(col("id_a"), col("id_b")))()

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
    * Both verify on the texts the band keys carry: the batch×batch
    * pairs inside their bucket, as [[nearDuplicates]] does, and each
    * batch×history probe row — which holds both texts — as it leaves
    * the join, so no text is read back by id and un-candidated history
    * rows never travel past the probe. A batch doc survives iff its
    * component over the found edges contains no history doc and it is
    * the component's min id.
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
    * first, since two texts under one id would make one graph vertex of
    * two documents. Callers violating the id ordering get
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
    * Scale shape: history contributes one sketch pass (band keys with
    * their texts — persist them across batches via [[lshBandKeys]] to
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
      val cross = historyProbe(keysH, keysB, textCol, idCol, threshold, k)
      // self pairs have both ids in batch, cross pairs one in history —
      // disjoint by construction (the id-ordering contract implies the
      // id SETS are disjoint), no cross-set dedup needed
      val self = verifiedInBuckets(keysB, textCol, idCol, threshold, k)
        .select(col("id_a"), col("id_b"))
      Components.dropLosers(batch, idCol, self.unionByName(cross))(
        Components.batchLosers(batch, idCol, historyWins))
    } finally keysB.unpersist(false)
  }

  /** The batch×history pairs of [[incrementalNearDuplicates]]: one
    * equi-join of the history's band keys against the batch's on
    * (band, key), each joined row — it holds both texts — scored as it
    * leaves the join (the threshold is the join condition, so each row
    * is scored once) and kept once, as (id_a, id_b) with id_a from the
    * history.
    *
    * The batch is BY CONTRACT the small side (a crawl window probing an
    * established corpus), and its key frame is persisted by the caller
    * — it is broadcast, so the history key table, the side proportional
    * to the full corpus, is never shuffled for the probe. The broadcast
    * is gated on the key frame's size estimate against the session's
    * broadcast threshold: a batch above it (or a session with broadcast
    * off) takes the shuffle join — the same pairs, without building an
    * oversized table on the driver.
    */
  private[graft] def historyProbe(keysH: DataFrame, keysB: DataFrame,
      textCol: String, idCol: String, threshold: Double, k: Int): DataFrame = {
    def side(keys: DataFrame, s: String) = keys.filter(col(idCol).isNotNull)
      .select(col(idCol).as(s"id_$s"), col(textCol).as(s"text_$s"),
        col("band"), col("key"))
    val probeB = side(keysB, "b")
    val broadcastLimit = keysB.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val fits = broadcastLimit >= 0 &&
      keysB.queryExecution.optimizedPlan.stats.sizeInBytes <= broadcastLimit
    side(keysH, "a")
      .join(if (fits) broadcast(probeB) else probeB, Seq("band", "key"))
      .filter(ShingleJaccard(ShingleSet(col("text_a"), k),
        ShingleSet(col("text_b"), k)) >= threshold)
      .select(col("id_a"), col("id_b")).distinct()
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
    * public) replacing the prefix-bucket heuristic
    * ([[simhashNearDuplicatesFromSigs]]), whose recall
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
}
