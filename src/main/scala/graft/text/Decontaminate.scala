package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Benchmark decontamination for training corpora — the gate between a
  * crawl and a training set (reference has no equivalent; extension
  * operator for the LLM-data pipeline, same family as q58).
  *
  * Two rules, both oracle-replayable:
  *  - ANY-shared-gram (q58, [[contaminatedAnyShared]]): drop a train
  *    doc sharing any distinct n-gram with the benchmark. Maximal
  *    safety; over-drops docs that merely quote a common phrase.
  *  - OVERLAP FRACTION ([[overlapCensus]] / [[dropContaminated]]): a
  *    doc is contaminated when at least `minFrac` of its DISTINCT
  *    n-grams appear in the benchmark gram set — the GPT-3
  *    appendix-C / modern eval-decontam shape, robust to incidental
  *    phrase collisions while still catching embedded benchmark
  *    passages.
  *
  * Portability: the fraction is integer-quantized
  * (`floor(matched / total * 1e9)`, the Blocking.ratioQ convention) so
  * the threshold compare and the emitted census hash-match a SQL
  * replay exactly — no float-boundary drift.
  *
  * Scale shape: one distinct-gram explode over the train side, one
  * join against the (broadcast when small; benchmark gram sets
  * usually are) benchmark gram table, one per-doc count aggregation.
  * Zero pairs, no self-joins; the benchmark side is read once into a
  * distinct gram set. At 100 TB the train explode is the dominant
  * scan and it is embarrassingly parallel.
  */
object Decontaminate {

  /** Distinct n-gram set of a benchmark frame (one column `g`).
    * Documents shorter than one gram contribute their whole text (the
    * [[Dedup.shingles]] degenerate case) so short benchmark rows are
    * still protected.
    */
  def gramSet(bench: DataFrame, textCol: String, n: Int): DataFrame =
    bench.select(explode(array_distinct(
      Dedup.shingles(col(textCol), n))).as("g")).distinct()

  private def quantized(num: Column, den: Column): Column =
    when(den === 0L, lit(0L)).otherwise(
      floor(num.cast("double") / den.cast("double") * lit(1e9))
        .cast("long"))

  /** Per-doc contamination census against a prepared [[gramSet]]:
    * (idCol, n_grams, n_matched, overlap_q) for every train doc with
    * at least one benchmark gram hit. `overlap_q` is the 1e-9
    * quantized fraction of the doc's distinct n-grams found in the
    * benchmark set.
    *
    * One train-side explode feeds BOTH counts through a left join
    * with a hit marker (a separate inner-join branch would run the
    * tokenize+shingle pass twice). The benchmark side carries no
    * broadcast hint: gram sets of real eval suites are usually small
    * enough that Catalyst/AQE broadcasts them on its own, and a
    * benchmark too large for the driver then degrades to a shuffled
    * join instead of failing the job.
    *
    * The benchmark side is re-deduplicated here ([[gramSet]] output is
    * already distinct, but a caller-supplied frame may not be): a
    * duplicate gram row would fan out its matching train rows through
    * the left join and silently inflate n_grams AND n_matched — wrong
    * counts, not just a wrong ratio. Negligible next to the train
    * explode.
    */
  def overlapCensus(train: DataFrame, textCol: String, idCol: String,
      benchGrams: DataFrame, n: Int): DataFrame =
    train.select(col(idCol),
        explode(array_distinct(Dedup.shingles(col(textCol), n))).as("g"))
      .join(benchGrams.select(col("g")).distinct()
        .withColumn("__hit", lit(1)), Seq("g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"), count(col("__hit")).as("n_matched"))
      .filter(col("n_matched") > 0L)
      .withColumn("overlap_q", quantized(col("n_matched"), col("n_grams")))

  /** Train docs contaminated under the ANY-shared-gram rule (q58):
    * ids of docs sharing at least one distinct n-gram with the
    * benchmark.
    */
  def contaminatedAnyShared(train: DataFrame, textCol: String,
      idCol: String, benchGrams: DataFrame, n: Int): DataFrame =
    train.select(col(idCol),
        explode(array_distinct(Dedup.shingles(col(textCol), n))).as("g"))
      .join(benchGrams, Seq("g"), "left_semi")
      .select(col(idCol)).distinct()

  /** Drop train docs whose benchmark n-gram overlap fraction reaches
    * `minFracQ` (1e-9 quantized, e.g. 10% = 100000000L — integer so
    * engine and oracle agree at the boundary exactly).
    */
  def dropContaminated(train: DataFrame, textCol: String, idCol: String,
      benchGrams: DataFrame, n: Int, minFracQ: Long): DataFrame = {
    val bad = overlapCensus(train, textCol, idCol, benchGrams, n)
      .filter(col("overlap_q") >= minFracQ)
      .select(col(idCol))
    train.join(bad, Seq(idCol), "left_anti")
  }

  /** Bloom-gated [[overlapCensus]] — SAME OUTPUT, built for the scale
    * where the benchmark gram set no longer broadcasts: a full
    * eval-suite superset (every benchmark a lab decontaminates
    * against, 13-gram windows) runs to billions of grams, and the
    * plain census then shuffles EVERY exploded train gram to meet it
    * in a shuffled join — at 100 TB the train side's (doc_id, gram)
    * stream is the dominant exchange.
    *
    * Shape here: (1) the benchmark grams fold into a fixed-size Bloom
    * bit array via the distributed tree aggregation
    * ([[graft.dedup.IncrementalDedup.sketchOf]]; driver/executor state
    * = the chosen bits, NOT the gram set); (2) the per-doc distinct
    * gram count — the census denominator — is taken scan-locally from
    * the gram array BEFORE any pruning, so it never depends on the
    * filter; (3) exploded train grams probe the sketch inside
    * whole-stage codegen and only probable hits — true matches plus
    * ~fpp of the rest — reach (4) the exact confirm semi-join against
    * the real gram set. Bloom has no false negatives, so no true
    * match is lost; the confirm join removes the false positives, so
    * the census is EXACTLY [[overlapCensus]]'s — the sketch only cuts
    * the shuffled gram volume from |train grams| to |hits| +
    * fpp·|train grams|. Decontamination hit rates are tiny by
    * construction (that is the point of the gate), so the exchange
    * shrinks by orders of magnitude.
    *
    * `expectedItems`/`fpp` size the sketch (1.44·log2(1/fpp) bits per
    * item — ~2 GB for 10^9 grams at 1e-3); an undersized sketch only
    * degrades fpp, never correctness. The confirm join re-keys only
    * the surviving grams, and the per-doc totals rejoin on the doc id
    * — doc-level rows, not gram-level.
    *
    * POSTURE (measured, SURVEY.md round 11 ScaleSmoke decontam legs:
    * 64× corpus = 15.2M exploded train grams, probe pass rate 0.42%):
    * while the benchmark gram set still BROADCASTS, the exact census is
    * strictly faster
    * (17.8 s vs 40.3 s at 64× — the sketch build plus probe pass costs
    * more than the broadcast join it avoids, though both grow
    * sub-linearly). The Bloom form pays off only past broadcast
    * feasibility — when the gram table would force the plain census
    * into a shuffled join of the full exploded train stream. Default
    * to [[overlapCensus]]; switch here when |bench grams| × ~40 B
    * approaches the driver/executor broadcast ceiling.
    */
  def overlapCensusBloom(train: DataFrame, textCol: String, idCol: String,
      benchGrams: DataFrame, n: Int, expectedItems: Long,
      fpp: Double = 1e-3): DataFrame = {
    val bg = benchGrams.select(col("g")).distinct()
    val sketch = graft.dedup.IncrementalDedup.sketchOf(
      bg, xxhash64(col("g")), expectedItems, fpp)
    val exploded = train
      .select(col(idCol),
        array_distinct(Dedup.shingles(col(textCol), n)).as("__gs"))
      .select(col(idCol), size(col("__gs")).cast("long").as("n_grams"),
        explode(col("__gs")).as("g"))
    val pruned = exploded.filter(
      graft.dedup.IncrementalDedup.mightContain(sketch, xxhash64(col("g"))))
    pruned
      .join(bg, Seq("g"), "left_semi")
      .groupBy(col(idCol), col("n_grams"))
      .agg(count(lit(1)).as("n_matched"))
      .withColumn("overlap_q", quantized(col("n_matched"), col("n_grams")))
      .select(col(idCol), col("n_grams"), col("n_matched"), col("overlap_q"))
  }

  /** [[contaminatedAnyShared]] through the Bloom gate — identical ids
    * (prune, then the same exact confirm semi-join), for the
    * benchmark-set-too-big-to-broadcast posture. The ANY rule needs no
    * denominator, so the whole gram stream prunes before any exchange.
    */
  def contaminatedAnySharedBloom(train: DataFrame, textCol: String,
      idCol: String, benchGrams: DataFrame, n: Int, expectedItems: Long,
      fpp: Double = 1e-3): DataFrame = {
    val bg = benchGrams.select(col("g")).distinct()
    val sketch = graft.dedup.IncrementalDedup.sketchOf(
      bg, xxhash64(col("g")), expectedItems, fpp)
    val exploded = train.select(col(idCol),
      explode(array_distinct(Dedup.shingles(col(textCol), n))).as("g"))
    val pruned = exploded.filter(
      graft.dedup.IncrementalDedup.mightContain(sketch, xxhash64(col("g"))))
    pruned.join(bg, Seq("g"), "left_semi").select(col(idCol)).distinct()
  }

  /** [[dropContaminated]] through the Bloom-gated census — identical
    * survivors (the sketch is a shuffle-volume lever, not a semantic
    * one), for the benchmark-set-too-big-to-broadcast posture.
    */
  def dropContaminatedBloom(train: DataFrame, textCol: String,
      idCol: String, benchGrams: DataFrame, n: Int, minFracQ: Long,
      expectedItems: Long, fpp: Double = 1e-3): DataFrame = {
    val bad = overlapCensusBloom(train, textCol, idCol, benchGrams, n,
        expectedItems, fpp)
      .filter(col("overlap_q") >= minFracQ)
      .select(col(idCol))
    train.join(bad, Seq(idCol), "left_anti")
  }

  // ------------------------------------------------- semantic decontam
  /** SEMANTIC decontamination: train docs whose EMBEDDING sits within
    * cosine ≥ `threshold` of any benchmark embedding — the
    * paraphrase-robust complement of the n-gram rules above (a
    * reworded benchmark answer shares no 13-gram but lands next to the
    * original in embedding space; modern decontamination suites run
    * both rules and drop the union).
    *
    * Shape: the cross-frame variant of
    * [[graft.similarity.SemDedup.nearDuplicatePairs]] — both sides
    * bucket under the SAME pinned hyperplane geometry
    * ([[graft.similarity.Ann.lshBucketPortable]]), the train side
    * probes `probeBits` sign-flips of its home cell, and candidates
    * meet in a cell-key equi-join verified by the fused cosine. Never
    * all-pairs: at 100 TB the train side's bucketing is the dominant
    * scan and the benchmark cells are a tiny equi-join build side.
    * Train×train is never joined (this is not dedup — quoting docs do
    * not contaminate each other), and the benchmark frame is read once
    * into its cell table.
    *
    * Recall posture: `probeBits` bounds the sign-flip straddle misses
    * exactly as in SemDedup; `probeBits = numPlanes` probes every cell
    * (exact brute-force threshold matching — the spec anchor). A
    * decontamination gate should err wide: size `numPlanes` to the
    * BENCHMARK's density (it is the smaller, denser-consequence side)
    * and lean on wider probes than a dedup pass would pay.
    *
    * Returns distinct contaminated train ids (the [[contaminatedAnyShared]]
    * contract).
    */
  def semanticContaminated(train: DataFrame, embCol: String, idCol: String,
      bench: DataFrame, benchEmbCol: String, threshold: Double,
      numPlanes: Int, probeBits: Int = 1): DataFrame = {
    import graft.similarity.Ann
    val dim = train.select(size(col(embCol))).head().getInt(0)
    // per-row self-norms (r12): one dot loop per bucket-join candidate
    // instead of both norm loops per pair — bit-identical cosine
    val tb = train.select(col(idCol), col(embCol),
      graft.functions.VecMath.norm(col(embCol)).as("__na"),
      Ann.lshBucketPortable(col(embCol), dim, numPlanes).as("__bucket"))
    val bb = bench.select(col(benchEmbCol).as("__bemb"),
      graft.functions.VecMath.norm(col(benchEmbCol)).as("__nb"),
      Ann.lshBucketPortable(col(benchEmbCol), dim, numPlanes).as("__bucket"))
    val masks = Ann.probeBuckets(0L, numPlanes, math.min(probeBits, numPlanes))
    val probed =
      if (masks == Seq(0L)) tb
      else tb.select(col(idCol), col(embCol), col("__na"),
        explode(array(masks.map(m =>
          col("__bucket").bitwiseXOR(lit(m))): _*)).as("__bucket"))
    probed.join(bb, Seq("__bucket"))
      .filter(graft.functions.VecMath.cosinePre(
        col(embCol), col("__bemb"), col("__na") * col("__nb")) >= threshold)
      .select(col(idCol)).distinct()
  }

  /** Drop semantically contaminated train rows — the end-user surface
    * over [[semanticContaminated]].
    */
  def dropSemanticContaminated(train: DataFrame, embCol: String,
      idCol: String, bench: DataFrame, benchEmbCol: String,
      threshold: Double, numPlanes: Int, probeBits: Int = 1): DataFrame =
    train.join(
      semanticContaminated(train, embCol, idCol, bench, benchEmbCol,
        threshold, numPlanes, probeBits),
      Seq(idCol), "left_anti")
}
