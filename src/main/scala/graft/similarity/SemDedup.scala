package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.{Components, Dedup}

/** Semantic (embedding-space) near-duplicate DELETION — the SemDeDup
  * recipe (Abbas et al. 2023, arXiv:2303.09540): bucket vectors into
  * cells, verify exact cosine only within a cell, close the verified
  * pairs into connected components, and keep one representative per
  * component. The q43 census counts these pairs; this operator is the
  * end-user surface that actually drops the losers.
  *
  * Cells here are portable hyperplane-LSH buckets
  * ([[Ann.lshBucketPortable]] — md5-derived plane weights, so a SQL
  * oracle replays the exact candidate set). The paper clusters with
  * k-means; [[Ann.ivfBuild]]'s cell assignments drop in for that when
  * cross-engine exactness isn't required — the verify/close/survive
  * stages are identical either way.
  *
  * Scale shape: candidate generation is a bucket-key equi-join (never
  * all-pairs), the component closure shuffles only the EDGE set
  * (duplicate pairs — orders of magnitude below the corpus), and the
  * final anti-join streams the corpus against the loser ids once.
  * Nothing is cached here (the library leak rule): the join's two
  * bucket projections are structurally identical, so exchange reuse
  * computes the bucketing pass once anyway. Ownership of the result
  * follows [[Dedup.dropNearDuplicates]]: the one pinned loser frame is
  * released by `close()`.
  */
object SemDedup {

  /** Plane count sentinel: derive from corpus density (see
    * [[autoPlanes]]) — the default, and the 100 TB-safe choice.
    */
  val AutoPlanes: Int = 0

  /** Cells sized to corpus density: enough hyperplanes that the MEAN
    * cell holds ~`targetCell` vectors — `ceil(log2(n / targetCell))`
    * planes, clamped to [4, 28]. Per-cell verify work then stays
    * roughly constant as the corpus grows (the hand-scaling rule the
    * ScaleSmoke semantic-dedup leg applies, promoted to the default:
    * a fixed plane count re-measured 92× cost under 64× growth —
    * dense cells do quadratically more cosine work — while the
    * density-scaled count stays ~linear). Mean, not max: genuinely
    * clustered regions can still exceed the target — that residual
    * skew is what `maxBucketSize` guards.
    */
  def autoPlanes(n: Long, targetCell: Int = 128): Int = {
    val cells = math.max(1.0, n.toDouble / targetCell)
    math.min(28, math.max(4, math.ceil(math.log(cells) / math.log(2)).toInt))
  }

  private def resolvePlanes(df: DataFrame, numPlanes: Int): Int =
    if (numPlanes != AutoPlanes) numPlanes
    // one count probe (metadata-only on parquet sources) buys the
    // density-correct cell count
    else autoPlanes(df.count())

  /** Verified same-cell cosine pairs (id_a < id_b, cosine ≥ threshold).
    * Pure — nothing cached, safe to call in long-lived sessions.
    *
    * @param numPlanes [[AutoPlanes]] (default) sizes cells to corpus
    *   density via [[autoPlanes]]; pass an explicit count only when a
    *   replayable oracle needs a pinned cell structure (q76) or the
    *   corpus density is known out-of-band.
    * @param maxBucketSize optional skew guard (the
    *   [[Dedup.lshCandidatePairs]] contract): a degenerate corpus — or
    *   too few planes for the corpus density — collapses many vectors
    *   into one cell and hands ONE task that cell's O(n²) cosine
    *   verify. Capping keeps the `maxBucketSize` id-smallest vectors
    *   per cell (deterministic; a per-cell sort, O(b log b), replaces
    *   the O(b²) blow-up) at a recall cost — opt-in because the
    *   uncapped result is the oracle-exact one. With [[AutoPlanes]]
    *   this guards only residual cluster skew, not global density.
    * @param probeBits recall lever, same semantics as
    *   [[Ann.knnGraph]]'s: near-dup pairs STRADDLING a hyperplane sit
    *   in sign-adjacent cells and single-cell candidate generation
    *   misses them; each vector additionally probes every cell within
    *   `probeBits` Hamming flips of its own (candidate volume
    *   ×Σ C(planes, d)). A pair surfaces from the smaller id's probe
    *   of the larger id's (single) home cell, so no duplicates.
    *   `probeBits = planes` probes every cell — exact brute-force
    *   threshold pairs, the spec's equivalence anchor. The DEFAULT is
    *   [[Ann.AutoProbe]]: the [[Ann.autoProbe]] recall governor picks
    *   the width on a bounded sample (kNN recall at k=10 as the
    *   straddle-rate proxy — the same hyperplane physics governs
    *   which cells a vector's true near neighbors land in), so
    *   single-probe under-recall can no longer ship silently. Pin an
    *   explicit width to skip the governor and its sampled
    *   ground-truth cost.
    * @param targetRecallPct governor target when `probeBits` is
    *   [[Ann.AutoProbe]]; ignored for pinned widths
    */
  def nearDuplicatePairs(df: DataFrame, embCol: String, idCol: String,
      threshold: Double, numPlanes: Int = AutoPlanes,
      maxBucketSize: Int = Int.MaxValue, probeBits: Int = Ann.AutoProbe,
      targetRecallPct: Long = 80L, probeSample: Int = 200): DataFrame = {
    require(probeBits >= 0 || probeBits == Ann.AutoProbe,
      "probeBits must be >= 0 (or Ann.AutoProbe)")
    // the governor's recall curve routes ids through the long-keyed
    // TopK aggregate (the knnGraph id rule) — a string id would cast
    // to null and the curve would read 0 recall at every width,
    // silently selecting the widest (most expensive) probe. Reject
    // up front; non-integral-id callers pin an explicit width.
    if (probeBits == Ann.AutoProbe) {
      val idType = df.schema(idCol).dataType
      require(graft.operators.TopK.integralKeyType(idType),
        s"probeBits = AutoProbe needs an integral id column (got " +
          s"$idType); pin an explicit probe width for other id types")
    }
    val planes = resolvePlanes(df, numPlanes)
    val resolvedProbe =
      if (probeBits != Ann.AutoProbe) probeBits
      else Ann.autoProbe(df, embCol, idCol, k = 10,
        Ann.sampleGate(idCol, df.count(), probeSample),
        targetRecallPct, planes)._1
    val dim = df.select(size(col(embCol))).head().getInt(0)
    // per-row self-norm precomputed once (r12): the verify cosine then
    // does one dot loop per candidate pair instead of re-running both
    // norm loops per pair — bit-identical (VecMath.cosinePre contract)
    val b0 = df.select(col(idCol), col(embCol),
      graft.functions.VecMath.norm(col(embCol)).as("__n"),
      Ann.lshBucketPortable(col(embCol), dim, planes).as("__bucket"))
    val b =
      if (maxBucketSize == Int.MaxValue) b0
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__bucket")).orderBy(col(idCol))
        b0.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= maxBucketSize).drop("__rn")
      }
    val masks = Ann.probeBuckets(0L, planes, math.min(resolvedProbe, planes))
    val left =
      if (masks == Seq(0L))
        b.select(col("__bucket"), col(idCol).as("id_a"),
          col(embCol).as("__ea"), col("__n").as("__na"))
      else
        b.select(explode(array(masks.map(m =>
            col("__bucket").bitwiseXOR(lit(m))): _*)).as("__bucket"),
          col(idCol).as("id_a"), col(embCol).as("__ea"),
          col("__n").as("__na"))
    val right = b.select(col("__bucket").as("__bucket_b"),
      col(idCol).as("id_b"), col(embCol).as("__eb"), col("__n").as("__nb"))
    left
      .join(right, col("__bucket") === col("__bucket_b")
        && col("id_a") < col("id_b"))
      .withColumn("cosine", graft.functions.VecMath.cosinePre(
        col("__ea"), col("__eb"), col("__na") * col("__nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Drop embedding near-duplicates, keeping each component's min-id
    * representative. Same ownership contract as
    * [[Dedup.dropNearDuplicates]] / `Ann.IvfIndex`. `probeBits`
    * defaults to the [[Ann.autoProbe]] governor (the
    * [[nearDuplicatePairs]] contract) — the end-user deletion surface
    * must not silently under-recall either.
    */
  def dropEmbeddingNearDuplicates(df: DataFrame, embCol: String,
      idCol: String, threshold: Double, numPlanes: Int = AutoPlanes,
      maxBucketSize: Int = Int.MaxValue,
      probeBits: Int = Ann.AutoProbe,
      targetRecallPct: Long = 80L): Dedup.NearDupResult = {
    val edges = nearDuplicatePairs(df, embCol, idCol, threshold, numPlanes,
        maxBucketSize, probeBits, targetRecallPct)
      .select(col("id_a"), col("id_b"))
    Components.dropLosers(df, idCol, edges)()
  }

  /** Incremental semantic dedup — the embedding-space twin of
    * [[Dedup.incrementalNearDuplicates]]: a new `batch` deduplicates
    * against an ALREADY-DEDUPED `history` without ever re-verifying
    * history×history (history survivors are pairwise non-near-dup
    * under this very cell scheme, so no history-internal edge can
    * exist). Candidates are batch×batch (the plain
    * [[nearDuplicatePairs]] pass) plus history-probe×batch-home cell
    * joins — the exact hist×batch candidate set the full replay would
    * generate, since a pair there surfaces from the SMALLER (history)
    * id's probe of the larger id's home cell.
    *
    * EQUIVALENCE CONTRACT (spec'd; q198's oracle replays it): with
    * every history id below every batch id AND the SAME pinned
    * `numPlanes`/`probeBits` used for the history's own dedup,
    * `survivors` equals `dropEmbeddingNearDuplicates(history ∪
    * batch).survivors` restricted to the batch. Pinning is REQUIRED
    * here (enforced): the density-derived AutoPlanes/AutoProbe
    * defaults change with corpus size, so across-batch cell structure
    * would silently drift and break the replay equivalence — the
    * maintenance posture trades the governor for a stable index
    * geometry, exactly like a persisted ANN index does.
    *
    * Scale shape: history contributes one cell-assignment scan and
    * the keyed probe join; edge volume is batch-driven. Nothing
    * quadratic in history, ever. The probe join's hot-cell worst case
    * carries the [[Dedup.incrementalNearDuplicates]] skew contract:
    * AQE's skew split divides a degenerate cell's reducer partition
    * at production sizes (plan-pinned in PlanQualitySpec), and
    * [[graft.operators.Skew.saltedJoin]] on the cell key is the
    * explicit lever below its thresholds.
    *
    * `maxBucketSize` caps only the batch-SELF pass (the
    * [[nearDuplicatePairs]] contract); the history-probe join is never
    * capped — a missed history match would resurrect a duplicate —
    * and the replay equivalence above is stated for the UNCAPPED
    * setting, the oracle-exact one.
    *
    * `historyWins = true` switches to FIRST-ARRIVAL survivorship (the
    * [[Dedup.incrementalNearDuplicates]] twin, q201's rule): a batch
    * vector dies whenever its component touches ANY history vector,
    * regardless of id order, so ids only need to be DISJOINT — the
    * rule a STREAM needs (interleaved ids across micro-batches would
    * otherwise let a smaller-id batch vector survive alongside its
    * already-emitted history near-dup, a duplicate in the emitted
    * stream). With every history id below every batch id the two
    * rules coincide.
    */
  def incrementalEmbeddingNearDuplicates(history: DataFrame,
      batch: DataFrame, embCol: String, idCol: String, threshold: Double,
      numPlanes: Int, probeBits: Int,
      maxBucketSize: Int = Int.MaxValue,
      historyWins: Boolean = false): Dedup.NearDupResult = {
    require(numPlanes > 0 && probeBits >= 0,
      "incremental maintenance needs PINNED planes and probe width — " +
        "density-derived defaults change with corpus size and would " +
        "break the full-replay equivalence across batches")
    // an empty crawl window is the routine idle case for a
    // maintenance op — all of the batch (nothing) survives. ONE probe
    // job answers both batch questions (r12): a head(1) over the
    // embedding size is the emptiness check AND the cell dimension —
    // the separate isEmpty + head() pair cost two scheduler
    // round-trips per micro-batch.
    val dimProbe = batch.select(size(col(embCol))).head(1)
    if (dimProbe.isEmpty) // limit(0) folds to an empty LocalRelation
      return Components.withoutLosers(batch, idCol,
        batch.select(col(idCol)).limit(0))
    val dim = dimProbe(0).getInt(0)
    // per-row self-norms (r12, the nearDuplicatePairs treatment): one
    // dot loop per probe-join candidate, bit-identical cosine
    def cells(df: DataFrame): DataFrame = df.select(col(idCol), col(embCol),
      graft.functions.VecMath.norm(col(embCol)).as("__n"),
      Ann.lshBucketPortable(col(embCol), dim, numPlanes).as("__bucket"))
    val masks = Ann.probeBuckets(0L, numPlanes,
      math.min(probeBits, numPlanes))
    val h = cells(history)
    val hProbes =
      if (masks == Seq(0L))
        h.select(col("__bucket"), col(idCol).as("id_a"),
          col(embCol).as("__ea"), col("__n").as("__na"))
      else
        h.select(explode(array(masks.map(m =>
            col("__bucket").bitwiseXOR(lit(m))): _*)).as("__bucket"),
          col(idCol).as("id_a"), col(embCol).as("__ea"),
          col("__n").as("__na"))
    val cross = hProbes
      .join(cells(batch).select(col("__bucket").as("__bucket_b"),
        col(idCol).as("id_b"), col(embCol).as("__eb"),
        col("__n").as("__nb")),
        col("__bucket") === col("__bucket_b"))
      .withColumn("cosine", graft.functions.VecMath.cosinePre(
        col("__ea"), col("__eb"), col("__na") * col("__nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"))
    val self = nearDuplicatePairs(batch, embCol, idCol, threshold,
        numPlanes, maxBucketSize, probeBits)
      .select(col("id_a"), col("id_b"))
    Components.dropLosers(batch, idCol, self.unionByName(cross))(
      Components.batchLosers(batch, idCol, historyWins))
  }
}
