package graft.candidates

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.functions.TextSim
import graft.matcher.ERModel
import graft.operators.SparkOrder
import graft.schema.PairSchema

/** Support-pair search (reference local_explain.py:82-197): find records
  * of the opposite source that the model pairs with the probe record at
  * the wanted polarity, similarity-ordered so the search terminates
  * early.
  *
  * Spark-first re-expression of the reference's batched driver loop
  * (local_explain.py:112-128): instead of predicting 4k-row pandas
  * slices until k qualify, each searched side
  *   1. caps its candidate space to the reference's total prediction
  *      budget (`batch × 20`) in ONE bounded action — a
  *      TakeOrderedAndProject over a distributed source (no full sort,
  *      no full shuffle), a driver sort of the folded rows over a local
  *      one;
  *   2. is scored together with the other side as one LocalRelation —
  *      a column-program matcher folds over it, so scoring fires no job;
  *   3. keeps exactly the batches the reference would have consumed
  *      (the early-exit walk, driver arithmetic over ≤ 20 batches).
  * Result set matches the reference's early-exit semantics while a
  * support call fires one job per distributed side instead of ≤ 20
  * sequential predictions. At 100 TB the cross-scan candidate
  * generator swaps for an LSH blocking filter (see
  * [[LshBlockingGenerator]]) — the scoring/early-exit pipeline is
  * unchanged.
  */
object Candidates {

  /** Deterministic stand-in for a seeded random shuffle order. */
  def shuffleKey(a: Column, b: Column, seed: Long): Column =
    xxhash64(a.cast("string"), b.cast("string"), lit(seed))

  /** Row count without a Spark job when the frame folds to a
    * LocalRelation (the support search returns bounded LocalRelations,
    * and Catalyst's ConvertToLocalRelation folds projections/filters
    * over them) — the explainer fires dozens of sub-100ms jobs per
    * explanation and each skipped count removes a whole scheduler
    * round-trip. Falls back to a normal count() for anything
    * distributed, so the result is always exactly count().
    */
  private[graft] def boundedCount(df: DataFrame): Long =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation => l.data.size.toLong
      case _ => df.count()
    }

  /** One searched side: the probe record, the opposite source, and
    * whether the probe is the left record (reference lj=True).
    */
  private type Side = (DataFrame, DataFrame, Boolean)

  /** The J3 candidate-pair frame of one side (O7-capped) and its A7
    * similarity column. J3 is pluggable (SURVEY §4's scale swap): the
    * default CrossJoinGenerator attaches the probe's columns as
    * literals to every source record — a projection of the source
    * scan, no join; LshBlockingGenerator swaps the full scan for a
    * minhash-band collision filter; SampleGenerator bounds it.
    */
  private def candidatePairs(side: Side, maxPredict: Int, seed: Long,
      schema: PairSchema, gen: CandidateGenerator): (DataFrame, Column) = {
    val (probe, source, probeIsLeft) = side
    val pairs0 = gen.pairs(probe, source, probeIsLeft, schema)
    // O7 prediction cap: seeded pseudo-random subset. xxhash64 of the
    // ids replaces the reference's unseeded sample(frac=1) — same
    // "uniform random order" effect but deterministic across retries
    // and engines (SURVEY.md §7 determinism requirement).
    val pairs =
      if (maxPredict > 0)
        pairs0.orderBy(shuffleKey(col(schema.lid), col(schema.rid), seed)).limit(maxPredict)
      else pairs0
    val (probeCols, variedCols) = {
      val l = pairs.columns.filter(c => c.startsWith(schema.lprefix) && c != schema.lid)
      val r = pairs.columns.filter(c => c.startsWith(schema.rprefix) && c != schema.rid)
      if (probeIsLeft) (l, r) else (r, l)
    }
    (pairs, TextSim.tokenCosine(
      TextSim.recordText(probeCols.map(col).toIndexedSeq),
      TextSim.recordText(variedCols.map(col).toIndexedSeq)))
  }

  /** The `cap` first pairs of one side in the O1 similarity order:
    * `score` descending when hunting positives (reference ascending =
    * not find_positives), ties broken by the id strings ascending
    * (pandas relies on the stable sort of its input order). One action
    * over a distributed frame (TakeOrderedAndProject, rows arrive in
    * order); none over a frame that folds to a LocalRelation, whose
    * rows sort on the driver in Spark's exact order — there
    * EliminateLimits drops the Limit and the bare Sort would run as a
    * range sort of three jobs.
    */
  private def cappedSide(pairs: DataFrame, score: Column,
      findPositives: Boolean, cap: Int, schema: PairSchema): Array[Row] = {
    val ids = Seq(col(schema.lid).cast("string"), col(schema.rid).cast("string"))
    pairs.queryExecution.optimizedPlan match {
      case _: LocalRelation =>
        val n = pairs.columns.length
        val keyed = pairs.select(pairs.columns.map(col).toIndexedSeq ++ (score +: ids): _*)
          .collect()
        keyed.sortWith { (x, y) =>
          val c = SparkOrder.compareDoubles(x.getAs[java.lang.Double](n),
            y.getAs[java.lang.Double](n), ascending = !findPositives)
          (if (c != 0) c
          else (n + 1 to n + 2).iterator
            .map(i => SparkOrder.compareStrings(x.getString(i), y.getString(i)))
            .find(_ != 0).getOrElse(0)) < 0
        }.take(cap).map(r => Row.fromSeq(r.toSeq.take(n)))
      case _ =>
        pairs.orderBy((if (findPositives) score.desc else score.asc) +: ids.map(_.asc): _*)
          .limit(cap).collect()
    }
  }

  /** The bounded search shared by [[findCandidates]] and [[support]]:
    * each side's budget-capped candidates (≤ `batch × 20` rows, one
    * bounded action), scored for all sides at once as ONE LocalRelation,
    * then the reference's early-exit walk per side. Each kept row holds
    * the scored pair columns followed by `id` (composite pair id),
    * `__shuffle` (O5 seeded shuffle key) and `__capkey` (O6 balance
    * key), computed in-frame by Spark's own pairId and xxhash64
    * expressions — one projection that folds with the scoring, so no
    * Spark semantics are re-implemented here. The sides' columns align
    * by name, as a unionByName would align them.
    *
    * @return the kept rows' schema and each side's kept rows, in
    *         similarity order
    */
  private def searchSides(sides: Seq[Side], findPositives: Boolean,
      model: ERModel, numCandidates: Int, maxPredict: Int, seed: Long,
      schema: PairSchema, gen: CandidateGenerator): (StructType, Seq[Array[Row]]) = {
    val batch = numCandidates * 4
    val pairFrames = sides.map(candidatePairs(_, maxPredict, seed, schema, gen))
    val pairSchema = pairFrames.map(_._1).reduce(_ unionByName _).schema
    val aligned = pairSchema.fields.map(f => col(f.name).cast(f.dataType)).toIndexedSeq
    val rows = pairFrames.zipWithIndex.flatMap { case ((pairs, score), i) =>
      cappedSide(pairs.select(aligned: _*), score, findPositives, batch * 20, schema)
        .map(r => Row.fromSeq(r.toSeq :+ i))
    }
    val spark = sides.head._2.sparkSession
    val scored = model.predict(spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      pairSchema.add(StructField("__side", IntegerType, nullable = false))))
    val pid = schema.pairId(col(schema.lid), col(schema.rid))
    val keyed = scored.select(scored.columns.filter(_ != "__side").map(col).toIndexedSeq ++ Seq(
      pid.as("id"),
      shuffleKey(pid, lit(""), seed + 1).as("__shuffle"),
      shuffleKey(col(schema.lid), col(schema.rid), seed).as("__capkey"),
      col("__side")): _*)
    // LocalRelation rows keep their order through the column program
    // (or mapPartitions scorer), so a side's array index is its rank
    val all = keyed.collect()
    val sideIdx = keyed.columns.length - 1
    (new StructType(keyed.schema.fields.init), sides.indices.map { i =>
      earlyExitKept(all.filter(_.getInt(sideIdx) == i), batch, numCandidates, findPositives)
        .map(r => Row.fromSeq(r.toSeq.init))
    })
  }

  /** J3 + A7 + O1 + O2 + P5: candidates for `probe` against `source`,
    * as a LocalRelation of scored pair rows.
    *
    * @param probeIsLeft true when the probe is the left record and
    *                    `source` supplies right candidates (reference
    *                    lj=True), false for the dual.
    */
  def findCandidates(
      probe: DataFrame,
      source: DataFrame,
      probeIsLeft: Boolean,
      findPositives: Boolean,
      model: ERModel,
      numCandidates: Int,
      maxPredict: Int = -1,
      seed: Long = 42L,
      schema: PairSchema = PairSchema.default,
      gen: CandidateGenerator = CrossJoinGenerator): DataFrame = {
    val (keptSchema, kept) = searchSides(Seq((probe, source, probeIsLeft)),
      findPositives, model, numCandidates, maxPredict, seed, schema, gen)
    val n = keptSchema.length - 3 // the scored columns, without the keys
    probe.sparkSession.createDataFrame(
      java.util.Arrays.asList(kept.head.map(r => Row.fromSeq(r.toSeq.take(n))).toIndexedSeq: _*),
      new StructType(keptSchema.fields.take(n)))
  }

  /** The reference's early-exit batch walk over the budget-capped,
    * similarity-ordered scored rows: consume `batch`-sized windows until
    * `numCandidates` qualify, keep the consumed prefix's qualifying rows.
    * Splits = min(20, n/batch) with a final partial batch kept
    * (max(1, ...)) so sub-batch-sized sources still yield support —
    * the reference degenerates to empty there.
    */
  private def earlyExitKept(rows: Array[Row], batch: Int,
      numCandidates: Int, findPositives: Boolean): Array[Row] = {
    def qual(r: Row): Boolean = {
      val ms = r.getAs[Double]("match_score")
      if (findPositives) ms > 0.5 else ms < 0.5
    }
    val splits = math.min(20L, math.max(1L, rows.length.toLong / batch)).toInt
    // consume batches until numCandidates qualify (reference
    // while len(result) < k && i < splits)
    var cum = 0
    var consumed = 0
    while (cum < numCandidates && consumed < splits) {
      val lo = consumed * batch
      val hi = math.min(rows.length, lo + batch)
      var i = lo
      while (i < hi) { if (qual(rows(i))) cum += 1; i += 1 }
      consumed += 1
    }
    rows.take(math.min(rows.length, consumed * batch)).filter(qual)
  }

  /** get_support (reference local_explain.py:162-197): symmetric
    * candidate search for both probe records, balanced to equal size,
    * shuffled (seeded), composite-id tagged, polarity-filtered. The
    * result is a LocalRelation of the scored pair columns plus `id` and
    * `__shuffle` (downstream counts and collects are job-free); a
    * search that finds nothing returns a frame with no columns.
    */
  def support(
      lRecord: DataFrame,
      rRecord: DataFrame,
      lsource: DataFrame,
      rsource: DataFrame,
      classToExplain: Int,
      model: ERModel,
      numTriangles: Int,
      maxPredict: Int = -1,
      useLeft: Boolean = true,
      useRight: Boolean = true,
      seed: Long = 42L,
      schema: PairSchema = PairSchema.default,
      gen: CandidateGenerator = CrossJoinGenerator): (Boolean, DataFrame) = {
    val findPositives = classToExplain == 0
    val spark = lsource.sparkSession
    val sides: Seq[Side] = Seq(
      if (useRight) Some((lRecord, rsource, true)) else None,
      if (useLeft) Some((rRecord, lsource, false)) else None).flatten
    if (sides.isEmpty) return (findPositives, spark.emptyDataFrame)
    val (keptSchema, kept) = searchSides(sides, findPositives, model,
      numTriangles / 2, maxPredict, seed, schema, gen)
    // O6 balance: n1 is the right-search count when enabled else 0, n2
    // the left-search count; both = min, maxLen = max when one side is
    // empty/disabled. A side above maxLen keeps its maxLen rows of
    // lowest seeded cap key (reference sample(n=max_len)).
    def sideN(isRightSearch: Boolean): Long =
      sides.zip(kept).collectFirst {
        case ((_, _, isL), rows) if isL == isRightSearch => rows.length.toLong
      }.getOrElse(0L)
    val (n1, n2) = (sideN(true), sideN(false))
    val both = math.min(n1, n2)
    val maxLen = if (both == 0) math.max(n1, n2) else both
    val capIdx = keptSchema.length - 1
    val candidateRows = kept.flatMap { rows =>
      if (rows.length > maxLen) rows.sortBy(_.getLong(capIdx)).take(maxLen.toInt)
      else rows
    }
    if (candidateRows.isEmpty) return (findPositives, spark.emptyDataFrame)
    // projection back to the neighborhood schema: scored columns + id +
    // __shuffle (the kept rows already passed the polarity filter)
    (findPositives, spark.createDataFrame(
      java.util.Arrays.asList(candidateRows.map(r => Row.fromSeq(r.toSeq.init)): _*),
      new StructType(keptSchema.fields.init)))
  }
}
