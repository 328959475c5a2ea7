package graft.candidates

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextSim
import graft.schema.PairSchema

/** Strategy for J3 candidate-pair generation (reference
  * local_explain.py:85-101): given a single probe record, produce the
  * prefixed pair frame of (candidate, probe) rows the support search
  * scores. The reference hard-codes "replicate the probe against EVERY
  * record of the opposite source"; at 100 TB that is a full-corpus scan
  * per explained pair, so the generator is pluggable (SURVEY §4 / §8.1
  * name the swap): [[CrossJoinGenerator]] is reference-exact,
  * [[LshBlockingGenerator]] prunes the scan to minhash-band collisions,
  * [[SampleGenerator]] bounds it to a deterministic subset.
  */
trait CandidateGenerator extends Serializable {

  /** @param probe       one-record un-prefixed entity frame
    * @param source      opposite entity source (un-prefixed)
    * @param probeIsLeft true when the probe is the left record and
    *                    `source` supplies right candidates
    * @return pair frame: source columns under the varied-side prefix,
    *         probe columns under the probe-side prefix
    */
  def pairs(probe: DataFrame, source: DataFrame, probeIsLeft: Boolean,
      schema: PairSchema): DataFrame

  protected def prefixes(probeIsLeft: Boolean,
      schema: PairSchema): (String, String) =
    if (probeIsLeft) (schema.lprefix, schema.rprefix)
    else (schema.rprefix, schema.lprefix)

  /** Attach the (single) probe record's columns as literals under its
    * prefix — the 1-row side of the pair never needs a join, so plans
    * built this way carry no BroadcastNestedLoopJoin at all. Reading the
    * probe is job-free when it is a LocalRelation (the explainer binds
    * its probes that way).
    */
  protected def withProbeLiterals(candidates: DataFrame, probe: DataFrame,
      probePrefix: String): DataFrame = {
    val row = probe.head()
    val fields = probe.schema.fields
    val probeCols: Seq[Column] = fields.zipWithIndex.map { case (f, i) =>
      val l = if (row.isNullAt(i)) lit(null) else lit(row.get(i))
      l.cast(f.dataType).as(probePrefix + f.name)
    }.toIndexedSeq
    candidates.select(
      (candidates.columns.map(col).toIndexedSeq ++ probeCols): _*)
  }
}

/** Sentinel for cost-based generator selection: resolved by
  * [[CandidateGenerator.auto]] (EvalDriver does this when handed
  * AutoSelect) into the prekeyed blocked path or the cross scan from
  * (batch size, scorer cost) BEFORE any explanation runs — its own
  * `pairs` is never called.
  */
case object AutoSelect extends CandidateGenerator {
  override def pairs(probe: DataFrame, source: DataFrame,
      probeIsLeft: Boolean, schema: PairSchema): DataFrame =
    throw new IllegalStateException(
      "AutoSelect must be resolved via CandidateGenerator.auto before use")
}

object CandidateGenerator {

  /** Resolved selection: the generator to use plus ownership of any
    * prekeyed caches it rides on. `close()` releases them (no-op for
    * the cross path) — same contract as [[PrekeyedBlocking]].
    */
  final class Selection private[graft] (
      val generator: CandidateGenerator,
      prekeyed: Option[PrekeyedBlocking]) extends AutoCloseable {
    def isPrekeyed: Boolean = prekeyed.isDefined
    override def close(): Unit = prekeyed.foreach(_.close())
  }

  /** Cost-based generator choice, encoding the measured trade
    * (SURVEY.md round 5 ScaleSmoke; [[LshBlockingGenerator]]'s
    * scaladoc): the blocked search
    * pays one sketch pass over each source, which LOSES to the cross
    * scan for a single explanation with a cheap column-program scorer
    * (measured 25.4× vs 5.0× at 256× source growth) but WINS once
    * either (a) the pass amortizes over ≥2 explanations on the same
    * sources (measured 18.7× per explanation once prekeyed) or (b) the
    * scorer itself is the expensive side (external/MLlib inference —
    * pruning model calls dominates the sketch cost even one-off).
    *
    * Blocking additionally requires a corpus WORTH pruning: below
    * `minCorpusForBlocking` rows (one count per source, paid once per
    * selection) the full scan is cheap by definition while blocking's
    * recall loss is at its worst — a handful of records easily shares
    * no minhash band with the probe, and an explanation built on an
    * empty support set explains nothing. Small corpora therefore
    * always take the reference-exact cross scan.
    *
    * @param batchSize    number of explanations that will share the
    *                     selection
    * @param costlyScorer [[graft.matcher.ERModel.costlyScorer]] of the
    *                     model the search will score with
    * Above the size gate, the choice is additionally EVIDENCE-based,
    * not size-based alone: the candidate blocking scheme is measured
    * with [[LshBlockingGenerator.selfRecallCensus]] (a bounded sampled
    * pair-completeness probe — records vs their one-token-dropped
    * copies) and rejected when fewer than `minPairCompleteness` of the
    * near-match pairs survive banding. A large corpus of SHORT texts
    * passes the size gate yet shares no bands with its own near
    * matches — blocking there empties the support set, the hazard the
    * size gate can only catch for small corpora. The census costs two
    * bounded sample scans per source, paid once per selection.
    *
    * @param minCorpusForBlocking smallest per-source row count at
    *                     which blocking is considered (0 disables the
    *                     gate AND the recall census — the raw
    *                     cost-trade logic, for controlled tests)
    * @param minPairCompleteness reject blocking when a source's
    *                     sampled self-recall falls below this fraction
    *                     (≤0 disables the census)
    * @param recallSampleSize records sampled per source for the census
    */
  def auto(sources: Seq[DataFrame], batchSize: Int,
      costlyScorer: Boolean,
      minCorpusForBlocking: Long = 4096L,
      minPairCompleteness: Double = 0.5,
      recallSampleSize: Int = 256): Selection = {
    def bigEnough: Boolean = minCorpusForBlocking <= 0 ||
      sources.forall(_.count() >= minCorpusForBlocking)
    // the census needs an integral id column (selfRecallCensus's truth
    // arithmetic); a source without one yields NO evidence for
    // blocking, which means the reference-exact cross scan — not a
    // crash (auto stays total over its pre-census input domain)
    def censusable(s: DataFrame): Boolean =
      s.schema.fields.find(_.name == "id").map(_.dataType)
        .exists(graft.operators.TopK.integralKeyType)
    // self-ER passes the same frame twice — census each distinct
    // frame once (reference identity; DataFrame has no value equals)
    def recallOk: Boolean = minCorpusForBlocking <= 0 ||
      minPairCompleteness <= 0 || sources.distinct.forall { s =>
        censusable(s) && LshBlockingGenerator
          .selfRecallCensus(s, sampleSize = recallSampleSize)
          .head().getAs[Long]("pair_completeness_q") >=
          math.round(minPairCompleteness * 1e9)
      }
    if ((batchSize >= 2 || costlyScorer) && bigEnough && recallOk) {
      val handle = LshBlockingGenerator.forBatch(sources)
      new Selection(handle.generator, Some(handle))
    } else new Selection(CrossJoinGenerator, None)
  }
}

/** Reference-exact J3: the probe pairs with every source record. The
  * 1-row probe attaches as literals, so the pair frame is a projection
  * of the source scan — no join operator, and over a local source it
  * folds to a LocalRelation. Exhaustive recall; cost is a full scan of
  * the opposite source per explanation.
  */
case object CrossJoinGenerator extends CandidateGenerator {
  override def pairs(probe: DataFrame, source: DataFrame,
      probeIsLeft: Boolean, schema: PairSchema): DataFrame = {
    val (probePrefix, variedPrefix) = prefixes(probeIsLeft, schema)
    withProbeLiterals(schema.renameWithPrefix(source, variedPrefix), probe, probePrefix)
  }
}

/** MinHash-band blocking (the SURVEY §4 scale path, same sketch as
  * [[graft.dedup.Dedup.lshBandKeys]]): a source record is a candidate
  * only when at least one of its minhash band keys equals the probe's
  * key for the same band. With a single probe the probe-side keys
  * collapse to literals, so the whole generator is ONE scan-stage
  * filter over the source — no join, no shuffle, and the probe columns
  * attach as literals (for bulk probe sets the same band keys feed an
  * equi-join; `q20_er_pairs` pins that shape). Blocking trades recall
  * for a pruned scan: records sharing no k-shingle with the probe
  * cannot collide, so it suits POSITIVE-support search (near-match
  * hunting); negative hunting wants [[SampleGenerator]] — at corpus
  * scale almost any record is a negative.
  *
  * Measured trade (SURVEY.md round 5 ScaleSmoke, 5.1M-row source): the
  * one-off blocked search evaluates the minhash sketch on every source
  * row, which costs
  * MORE than the cheap token-cosine the cross path scores with — 17.1 s
  * vs 9.8 s at 256×. Blocking wins when (a) the scorer is expensive
  * (a neural matcher: pruning model calls dominates the sketch pass) or
  * (b) the corpus band keys are precomputed once and amortized across
  * the explanation batch — for EvalDriver workloads, key the sources
  * up front and feed the blocked equi-join shape (`Dedup.lshBandKeys` +
  * `q20ErPairs`' join) instead of this per-call filter.
  */
final case class LshBlockingGenerator(numBands: Int = 4, rowsPerBand: Int = 2,
    k: Int = 3,
    @transient prekeyed: Map[DataFrame, DataFrame] = Map.empty)
    extends CandidateGenerator {

  private def bandKeys(df: DataFrame): DataFrame =
    prekeyed.getOrElse(df,
      LshBlockingGenerator.withBandKeys(df, numBands, rowsPerBand, k))

  override def pairs(probe: DataFrame, source: DataFrame,
      probeIsLeft: Boolean, schema: PairSchema): DataFrame = {
    val (probePrefix, variedPrefix) = prefixes(probeIsLeft, schema)
    val probeKeys = LshBlockingGenerator
      .withBandKeys(probe, numBands, rowsPerBand, k).head()
    val keyOf: Int => String =
      b => probeKeys.getAs[String](s"__bk$b")
    val keyed = bandKeys(source)
    val collide = (0 until numBands)
      .map(b => col(s"__bk$b") === lit(keyOf(b)))
      .reduce(_ || _)
    val candidates = keyed.filter(collide)
      .drop((0 until numBands).map(b => s"__bk$b"): _*)
    withProbeLiterals(
      schema.renameWithPrefix(candidates, variedPrefix), probe, probePrefix)
  }
}

/** Caller-owned handle for a batch of blocked explanations: holds the
  * generator wired to the cached band-keyed frames; `close()` releases
  * every cache (nothing stays pinned once the batch ends — the
  * EvalDriver leak discipline).
  */
final class PrekeyedBlocking private[candidates] (
    val generator: LshBlockingGenerator,
    keyed: Seq[DataFrame]) extends AutoCloseable {
  override def close(): Unit = keyed.foreach(_.unpersist(false))
}

object LshBlockingGenerator {

  /** Pre-key `sources` for a batch of explanations over the same
    * corpora: one sketch pass per source (paid here, eagerly), then
    * every probe in the batch is a band-key filter over the cached
    * keyed frame. Use with the frames you pass to the explainer —
    * `prekeyed` matches by reference identity:
    * {{{
    * val batch = LshBlockingGenerator.forBatch(Seq(lsource, rsource))
    * try EvalDriver.evalCf(lsource, rsource, ..., candidateGen = batch.generator)
    * finally batch.close()
    * }}}
    */
  def forBatch(sources: Seq[DataFrame], numBands: Int = 4,
      rowsPerBand: Int = 2, k: Int = 3): PrekeyedBlocking = {
    val keyed = sources.map(s =>
      s -> withBandKeys(s, numBands, rowsPerBand, k).cache())
    keyed.foreach(_._2.count())
    new PrekeyedBlocking(
      LshBlockingGenerator(numBands, rowsPerBand, k, keyed.toMap),
      keyed.map(_._2))
  }

  /** Evidence for [[CandidateGenerator.auto]]'s blocking decision: the
    * band scheme's estimated pair completeness on a sampled SELF-truth
    * set (reference analog: the support-recall trade implicit in
    * local_explain.py:162-197's support search — an explanation built
    * on an empty support set explains nothing). Ground-truth matches
    * do not exist at selection time, so the truth set is synthesized
    * from the corpus: `sampleSize` deterministically-sampled records,
    * each paired with a copy whose record text lost its LAST token —
    * the lightest near-match perturbation the support search must
    * still find. A (record, copy) pair sharing NO band key is a
    * support candidate blocking would silently drop; the surviving
    * fraction is [[Blocking.orPairCompleteness]] with truth = the
    * record id. Short-text corpora fail this census honestly: under
    * `k` tokens the whole text is one shingle, so any change voids
    * every band — exactly the regime where banding empties supports.
    * (A ≤1-token text is unchanged by the drop and counts covered —
    * conservative toward keeping blocking; such corpora are degenerate
    * for shingle blocking either way.)
    *
    * Scale: the census touches 2·sampleSize rows total — a TakeOrdered
    * sample, scan-local sketches, within-pair joins — independent of
    * corpus size.
    */
  def selfRecallCensus(source: DataFrame, numBands: Int = 4,
      rowsPerBand: Int = 2, k: Int = 3, sampleSize: Int = 256,
      seed: Long = 42L): DataFrame = {
    // the truth key is id*2+copy arithmetic — a non-integral id would
    // cast to null and silently collapse every pair into one truth
    // group (the knnGraph id rule)
    val idType = source.schema("id").dataType
    require(graft.operators.TopK.integralKeyType(idType),
      s"selfRecallCensus requires an integral id column, got $idType")
    val text = TextSim.recordText(
      source.columns.filter(_ != "id").map(col).toIndexedSeq)
    val sampled = source
      .orderBy(xxhash64(col("id").cast("string"), lit(seed)), col("id"))
      .limit(sampleSize)
      .select(col("id").cast("long").as("__truth"), text.as("__text"))
    val both = sampled
      .select(col("__truth"), lit(0L).as("__copy"), col("__text"))
      .unionByName(sampled.select(col("__truth"), lit(1L).as("__copy"),
        regexp_replace(col("__text"), "\\s+\\S+$", "").as("__text")))
    val sigged = both.withColumn("__sig",
      graft.functions.MinHashSignature(col("__text"), numBands * rowsPerBand, k))
    val keyed = (0 until numBands).foldLeft(sigged) { (d, b) =>
      d.withColumn(s"__bk$b", concat_ws("#",
        (0 until rowsPerBand).map(r =>
          element_at(col("__sig"), b * rowsPerBand + r + 1)): _*))
    }.withColumn("__pid", col("__truth") * 2 + col("__copy"))
    Blocking.orPairCompleteness(keyed,
      (0 until numBands).map(b => s"__bk$b"), "__truth", "__pid")
  }

  /** Band-keyed copy of a source: original columns plus `__bk0..__bkN`.
    * The amortization lever the measured trade points at (SURVEY.md
    * round 5 ScaleSmoke: 18.7× per explanation once prekeyed): the
    * one-off blocked search pays a full sketch pass per call, which at
    * 5M rows
    * costs more than the cheap cosine it prunes — but an EvalDriver
    * batch explains MANY pairs over the SAME sources, so key each
    * source once, persist it (CALLER-owned: `.cache()` it and unpersist
    * when the batch ends — the library pins nothing), and hand the
    * keyed frames to [[LshBlockingGenerator]] via `prekeyed` (matched
    * by reference identity with the frames passed to the explainer).
    * Every probe then runs a filter over the cached keyed frame — zero
    * sketch work per explanation.
    */
  def withBandKeys(source: DataFrame, numBands: Int = 4,
      rowsPerBand: Int = 2, k: Int = 3): DataFrame = {
    val text = TextSim.recordText(
      source.columns.filter(_ != "id").map(col).toIndexedSeq)
    val sigged = source.withColumn("__sig",
      graft.functions.MinHashSignature(text, numBands * rowsPerBand, k))
    (0 until numBands).foldLeft(sigged) { (d, b) =>
      d.withColumn(s"__bk$b", concat_ws("#",
        (0 until rowsPerBand).map(r =>
          element_at(col("__sig"), b * rowsPerBand + r + 1)): _*))
    }.drop("__sig")
  }
}

/** Deterministic bounded sample of the source (xxhash64-ordered prefix,
  * TakeOrderedAndProject — no full sort): the scale answer for
  * NEGATIVE-support hunting, where almost any record qualifies and
  * scanning the corpus buys nothing.
  */
final case class SampleGenerator(maxCandidates: Int, seed: Long = 42L)
    extends CandidateGenerator {
  override def pairs(probe: DataFrame, source: DataFrame,
      probeIsLeft: Boolean, schema: PairSchema): DataFrame = {
    val (probePrefix, variedPrefix) = prefixes(probeIsLeft, schema)
    val sampled = source
      .orderBy(xxhash64(col("id").cast("string"), lit(seed)), col("id"))
      .limit(maxCandidates)
    withProbeLiterals(
      schema.renameWithPrefix(sampled, variedPrefix), probe, probePrefix)
  }
}
