package graft.explain

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StringType,
  StructField, StructType}
import graft.Trace
import graft.candidates.Candidates
import graft.matcher.ERModel
import graft.perturb.Perturb
import graft.schema.PairSchema
import graft.triangles.Triangles

/** The explanation result (reference explain.py:155's return tuple).
  *
  * @param saliency   one row per pair attribute: (attribute, saliency)
  * @param pss        probability of sufficiency per attribute set:
  *                   (alteredAttributes: array, attrSet: "a/b"-joined, pos)
  * @param cfSummary  the antichain of minimal max-probability sets
  * @param cfExamples counterfactual pair rows ⊕ bookkeeping ⊕ attr_count
  * @param triangles  the open triangles used: (u, v, w)
  */
final case class Explanation(
    saliency: DataFrame,
    pss: DataFrame,
    cfSummary: DataFrame,
    cfExamples: DataFrame,
    triangles: DataFrame)

/** CERTA explainer (reference explain.py:34-158, §3.1 of SURVEY.md),
  * Spark-native. The support search scans each opposite source in one
  * bounded action (its capped top-k) and scores the capped rows as a
  * LocalRelation; everything after it is bounded by numTriangles × the
  * attribute powerset and runs as driver work around one job:
  * triangles are joined driver-side, their vertex records come from
  * the support rows the driver already holds (no source is read
  * again), and every lattice depth is predicted in ONE uncached action
  * that collects only the flipped rows. The driver replays the
  * reference's monotonicity shortcut (triangles_method.py:301-327) over
  * the (attribute set → n, flips) census those rows give. No
  * per-triangle driver loops.
  */
/** @param candidateGen J3 strategy for the support search (SURVEY §4):
  *   the default [[graft.candidates.AutoSelect]] resolves cost-based at
  *   the first `explain` call — the reference-exact
  *   [[graft.candidates.CrossJoinGenerator]] full-source scan for a
  *   single explanation under a cheap column-program scorer, the
  *   prekeyed [[graft.candidates.LshBlockingGenerator]] when the scorer
  *   is expensive or `expectedBatch ≥ 2` AND the sources clear `auto`'s
  *   corpus-size gate (small corpora always cross-scan — cheap by
  *   definition, and blocking's recall loss there can empty the
  *   support set);
  *   [[graft.candidates.SampleGenerator]] bounds it explicitly.
  * @param expectedBatch how many explanations this instance is expected
  *   to serve over the same sources — the amortization signal the
  *   cost-based resolution needs (a library cannot observe future
  *   calls). Callers looping explanations should pass their batch size
  *   (or use [[graft.eval.EvalDriver]], which does) and `close()` the
  *   explainer when done to release any prekeyed band caches.
  */
class CertaExplainer(
    lsource: DataFrame,
    rsource: DataFrame,
    schema: PairSchema = PairSchema.default,
    seed: Long = 42L,
    candidateGen: graft.candidates.CandidateGenerator =
      graft.candidates.AutoSelect,
    expectedBatch: Int = 1) extends Serializable with AutoCloseable {

  private val spark: SparkSession = lsource.sparkSession

  // lazy cost-based resolution of AutoSelect, shared by every explain
  // call on this instance and keyed by the model's cost class — one
  // instance can serve a cheap scorer with the cross scan and a costly
  // one with the blocked path without either reusing the wrong regime.
  // Each Selection owns any prekeyed caches; close() releases them all
  // (no-op for the cross path / explicit gens).
  @transient private lazy val selections = scala.collection.mutable
    .Map.empty[Boolean, graft.candidates.CandidateGenerator.Selection]
  private def resolvedGen(model: ERModel): graft.candidates.CandidateGenerator =
    synchronized {
      selections.getOrElseUpdate(model.costlyScorer,
        graft.candidates.CandidateGenerator.resolve(candidateGen,
          Seq(lsource, rsource), expectedBatch, model.costlyScorer))
        .generator
    }

  // the G2 fallback's fresh-id offsets: both source id maxima in one
  // job, once per instance (the sources are fixed constructor arguments)
  @transient private lazy val maxSourceIds: (Long, Long) =
    Trace.stage(spark, "certa: source max ids") {
      val r = lsource.agg(max(col("id"))).crossJoin(rsource.agg(max(col("id")))).head()
      (r.getLong(0), r.getLong(1))
    }

  override def close(): Unit = synchronized {
    selections.valuesIterator.foreach(_.close())
    selections.clear()
  }

  /** Materialize a bounded frame as a LocalRelation: downstream
    * consumers re-read rows instead of re-deriving lineage (every frame
    * localized here is powerset- or num_triangles-bounded — the same
    * sets the reference holds in pandas).
    */
  private def localize(df: DataFrame): DataFrame =
    if (df.columns.isEmpty) df else localFrame(df.collect().toIndexedSeq, df.schema)

  private def localFrame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Explain the model's prediction on (lRecord, rRecord): 1-row
    * un-prefixed entity frames, as in reference explain(l_tuple, r_tuple).
    */
  /** @param check      score the 12 invariant probes per triangle
    *                    (identity/symmetry/transitivity) and return the
    *                    flags on the triangles frame (reference
    *                    explain_samples `check`,
    *                    triangles_method.py:204-207, 280-283)
    * @param discardBad  with `check`: drop non-transitive triangles
    *                    before perturbation (reference `discard_bad`)
    */
  def explain(
      lRecord: DataFrame,
      rRecord: DataFrame,
      model: ERModel,
      numTriangles: Int = 100,
      attrLengthOpt: Int = -1,
      maxPredict: Int = -1,
      useLeft: Boolean = true,
      useRight: Boolean = true,
      check: Boolean = false,
      discardBad: Boolean = false): Explanation = {
    val gen = resolvedGen(model)
    // vertex records are read off the support rows in the sources'
    // column layout, which the probes therefore have to share
    for ((probe, source, side) <- Seq((lRecord, lsource, "left"), (rRecord, rsource, "right")))
      require(probe.schema.map(f => (f.name, f.dataType)) ==
        source.schema.map(f => (f.name, f.dataType)),
        s"the $side record's columns ${probe.schema.simpleString} differ from the $side " +
          s"source's ${source.schema.simpleString}: pass a row of that source, e.g. " +
          "source.filter(col(\"id\") === id)")
    val lAttrs = lRecord.columns.filter(_ != "id").toIndexedSeq
    val rAttrs = rRecord.columns.filter(_ != "id").toIndexedSeq
    val attrLength =
      if (attrLengthOpt > 0) attrLengthOpt else math.min(lAttrs.size, rAttrs.size)

    // stage 2: original prediction (driver argmax O8). Each probe record
    // is read in one collect (none over a LocalRelation), the pair is
    // predicted as a LocalRelation (a column program folds over it),
    // and both probes re-bind as LocalRelations, so nothing below
    // re-plans the two source scans and reading a probe (the support
    // search attaches it as literals) fires no job.
    val (lRow, rRow) = Trace.stage(spark, "certa: original prediction")(
      (lRecord.collect().head, rRecord.collect().head))
    val lProbe = localFrame(Seq(lRow), lRecord.schema)
    val rProbe = localFrame(Seq(rRow), rRecord.schema)
    val pairUnderExplanation = localFrame(Seq(Row.fromSeq(lRow.toSeq ++ rRow.toSeq)),
      StructType(lRecord.schema.map(f => f.copy(name = schema.lprefix + f.name)) ++
        rRecord.schema.map(f => f.copy(name = schema.rprefix + f.name))))
    val orig = Trace.stage(spark, "certa: original prediction")(
      model.predict(pairUnderExplanation).head())
    val pc = if (orig.getAs[Double]("match_score") >
      orig.getAs[Double]("nomatch_score")) 1 else 0

    // stage 3: support search (one bounded action per distributed side,
    // LocalRelation result)
    val (_, neighborhood0) = Trace.stage(spark, "certa: support search")(Candidates.support(
      lProbe, rProbe, lsource, rsource, pc, model, numTriangles,
      maxPredict, useLeft, useRight, seed = seed, schema = schema,
      gen = gen))
    if (neighborhood0.columns.isEmpty) return emptyExplanation()

    // G2 fallback (reference local_explain.py:51-60): when support is
    // short, search again among prefix/suffix-perturbed copies of the
    // probe records. The generated copies are tiny (2·Σ(tokens-1) rows
    // per probe attribute) LocalRelations built without a job, and the
    // support rows found among them carry their records, so nothing
    // extends the sources.
    //
    // The support rows live driver-side from here on (the fused search
    // returns true LocalRelations, so the collect is job-free): the
    // count, the G2 append, the O3 truncation sort and the F9 labeling
    // below are driver arithmetic over ≤ 2·numTriangles bounded rows.
    var nbRows: IndexedSeq[Row] =
      neighborhood0.collect().toIndexedSeq
    val nbSchema = neighborhood0.schema
    if (nbRows.size < numTriangles) {
      val (maxLid, maxRid) = maxSourceIds
      // variants of the left probe serve as right-side candidates & v.v.
      val genFromL = Trace.stage(spark, "certa: augment")(graft.perturb.Augment
        .generateSubsequences(lProbe, startId = maxRid + 1))
      val genFromR = Trace.stage(spark, "certa: augment")(graft.perturb.Augment
        .generateSubsequences(rProbe, startId = maxLid + 1))
      if (Candidates.boundedCount(genFromL) > 0 && Candidates.boundedCount(genFromR) > 0) {
        // local sources and probes: under a column-program matcher the
        // whole search folds and fires no job
        val (_, support2) = Trace.stage(spark, "certa: augmented support search")(
          Candidates.support(lProbe, rProbe, genFromR, genFromL, pc, model,
            numTriangles, maxPredict, useLeft, useRight, seed = seed,
            schema = schema, gen = gen))
        if (support2.columns.nonEmpty)
          nbRows = nbRows ++ support2.collect() // LocalRelation — job-free
      }
    }

    val nSupport = nbRows.size.toLong
    if (nSupport == 0) return emptyExplanation()

    // O3 head+tail truncation in the seeded shuffle order (reference
    // local_explain.py:63-64), driver-side: sort by (__shuffle, id) with
    // Spark's exact ordering (long asc; the id tie-break is reachable
    // only on an xxhash64 collision).
    val half = numTriangles / 2
    val shufIdx = nbSchema.fieldIndex("__shuffle")
    val idIdx = nbSchema.fieldIndex("id")
    val sortedRows = nbRows.sortWith { (x, y) =>
      val sx = x.getLong(shufIdx); val sy = y.getLong(shufIdx)
      if (sx != sy) sx < sy
      else graft.operators.SparkOrder.compareStrings(
        x.getString(idIdx), y.getString(idIdx)) < 0
    }
    val truncatedRows =
      if (nSupport > numTriangles)
        sortedRows.zipWithIndex.collect {
          case (r, i) if i < half || i >= nSupport - half => r
        }
      else sortedRows

    // F9 label from score; pair under explanation labeled with pc
    val pairCols = pairUnderExplanation.columns.toIndexedSeq
    val msIdx = nbSchema.fieldIndex("match_score")
    val pairIdxs = pairCols.map(nbSchema.fieldIndex)
    val supportRows = truncatedRows.map { r =>
      Row.fromSeq(
        pairIdxs.map(r.get) ++ Seq(r.get(idIdx),
          if (r.getDouble(msIdx) >= 0.5) 1 else 0))
    }
    // firstRow's id/label via the same expressions over the LOCAL pair
    // row (Catalyst folds deterministic projections over LocalRelation,
    // so this collect is job-free too)
    val firstRowRows = pairUnderExplanation
      .withColumn("id", schema.pairId(col(schema.lid), col(schema.rid)))
      .withColumn("label", lit(pc))
      .collect()
    val supportPairsSchema = pairUnderExplanation.schema
      .add(StructField("id", StringType, nullable = true))
      .add(StructField("label", IntegerType, nullable = false))
    val supportPairs = localFrame(firstRowRows.toIndexedSeq ++ supportRows, supportPairsSchema)

    // stage 4: triangle discovery — a driver-side join of the local
    // support set (≤ (numTriangles/2)² rows, job-free)
    val discovered = Trace.stage(spark, "certa: triangle discovery")(
      Triangles.discover(supportPairs, schema))
    if (Candidates.boundedCount(discovered) == 0) return emptyExplanation()

    // stage 5a: vertex resolution. Every vertex is a record of the pair
    // under explanation or of a support row, G2 copies included, so the
    // triangles resolve against the rows the driver holds: no job.
    val resolvedAll = Trace.stage(spark, "certa: vertex resolution")(Perturb.resolve(discovered,
      Perturb.vertexRecords(firstRowRows.toIndexedSeq ++ supportRows, supportPairsSchema,
        lsource.schema, rsource.schema, schema)))

    // G6 invariant probes (reference triangles_method.py:280-283): the
    // reference re-scores check_properties per triangle per depth; the
    // probes are depth-independent, so ONE distributed 12-probe pass over
    // the resolved triangles suffices. With discardBad, non-transitive
    // triangles drop before any perturbation is generated.
    val (resolved, flaggedTriangles) =
      if (!check) (resolvedAll, discovered)
      else {
        val flags = Trace.stage(spark, "certa: invariant checks")(localize(
          Invariants.checkAll(resolvedAll, model, schema)))
        if (!discardBad) (resolvedAll, flags)
        else {
          val kept = localize(flags.filter(col("transitivity")))
          (resolvedAll.only(kept), kept)
        }
      }
    val (nLeft, nRight) =
      (Candidates.boundedCount(resolved.left), Candidates.boundedCount(resolved.right))
    val nTriangles = nLeft + nRight
    if (nTriangles == 0) return emptyExplanation()

    // stage 5b: perturb & predict every lattice depth in ONE uncached
    // action (reference perturb_predict, triangles_method.py:266-334):
    // one Generate explodes every depth's subsets, the matcher scores
    // them, and only the flipped rows are collected. The lattice stays a
    // distributed job: it has |triangles| × (2^k−2) rows.
    val depths = 1 until attrLength
    if (depths.isEmpty) return emptyExplanation()
    val classScoreCol = if (pc == 1) "match_score" else "nomatch_score"
    val preds = model.predict(Perturb.forDepth(resolved, depths, pc, schema))
    val flippedRows = Trace.stage(spark, s"certa: perturb depth 1-${depths.last}")(
      preds.filter(col(classScoreCol) < 0.5).collect()).toIndexedSeq
    val altIdx = preds.schema.fieldIndex("alteredAttributes")

    // The (attribute set → n, flips) census. Each resolved row emits
    // each subset of its free side exactly once, so a set's n is its
    // side's row count; its flips are its collected rows, and a set
    // that never flips keeps (n, 0).
    val flipsOf = flippedRows.groupMapReduce(_.getSeq[String](altIdx))(_ => 1L)(_ + _)
    val census = Seq((resolved.lAttrs, schema.lprefix, nLeft),
        (resolved.rAttrs, schema.rprefix, nRight)).flatMap {
      case (attrs, prefix, n) if n > 0 => depths.flatMap(d =>
        Perturb.subsets(attrs.map(prefix + _), d).map(set =>
          (set, n, flipsOf.getOrElse(set, 0L))))
      case _ => Nil
    }

    // The reference's monotonicity shortcut, replayed on the census: once
    // every perturbation of a depth flips, deeper depths count all their
    // perturbations as flipped (their model scores are ignored). The
    // ranking is per set (depth-a sets have exactly a attributes) and
    // powerset-bounded, so it stays driver-side.
    val perDepth = census.groupMapReduce(_._1.size)(c => (c._2, c._3)) {
      case ((n1, f1), (n2, f2)) => (n1 + n2, f1 + f2)
    }
    val fullFlip = depths.find(a => perDepth.get(a).exists { case (n, f) => n == f })
      .getOrElse(Int.MaxValue)
    val rankingRows = depths.flatMap(a => census.collect {
      case (set, n, flips) if set.size == a => (set, if (a > fullFlip) n else flips)
    })
    if (rankingRows.isEmpty) return emptyExplanation()
    val totalFlipped = rankingRows.map(_._2).sum

    // stage 6a: A2 aggregate rankings → probability of sufficiency.
    // The result is bounded by the attribute powerset (≤ Σ C(n,a) rows,
    // data-size independent) and already aggregated per set, so it
    // assembles driver-side — exactly the reference's pandas Series —
    // with zero additional jobs. pos = cnt / nTriangles with the same
    // double ops Spark's Divide(cast(long), double) runs.
    val pssRows: IndexedSeq[Row] = rankingRows.map { case (set, cnt) =>
      Row(set, cnt.toDouble / nTriangles.toDouble, set.mkString("/"))
    }
    val pssSchema = StructType(Seq(StructField("alteredAttributes", ArrayType(StringType)),
      StructField("pos", DoubleType), StructField("attrSet", StringType)))
    val pss = localFrame(pssRows, pssSchema)

    // stage 6b: A3 saliency = base + per-attribute flip mass — driver
    // arithmetic over the same bounded ranking rows. flipCnt is an exact
    // long sum; base + flipCnt/flips are the identical IEEE double ops
    // of the column program this replaced.
    val flips = (totalFlipped + nTriangles).toDouble
    val base = nTriangles / flips
    val pairAttrNames =
      lAttrs.map(schema.lprefix + _) ++ rAttrs.map(schema.rprefix + _)
    val saliencyRows = pairAttrNames.map { attr =>
      var flipCnt = 0L
      rankingRows.foreach { case (set, cnt) =>
        if (set.contains(attr)) flipCnt += cnt
      }
      Row(attr, base + flipCnt.toDouble / flips)
    }
    val saliency = localFrame(saliencyRows, StructType(Seq(
      StructField("attribute", StringType), StructField("saliency", DoubleType))))

    // stage 6c: A4 cf_summary — max-probability sets, minimal antichain
    // (reference cf_summary, triangles_method.py:254-263). Driver-side
    // over the materialized pss, as the reference computes it — the set
    // count is powerset-bounded, and a distributed self-join here would
    // cost far more than it computes.
    val maxPos = pssRows.map(_.getDouble(1)).max
    val atMax = pssRows.filter(_.getDouble(1) == maxPos)
    val atMaxSets = atMax.map(r => r.getSeq[String](0).toSet)
    val cfSummaryRows = atMax.filter { r =>
      val s = r.getSeq[String](0).toSet
      !atMaxSets.exists(b => b.size < s.size && b.subsetOf(s))
    }
    val cfSummary = localFrame(cfSummaryRows, pssSchema)

    // stage 6d: CF examples — the collected flipped rows of the summary
    // sets, deduplicated keeping the first row in collected (partition)
    // order, stably ordered by set size (reference explain.py:73-77).
    // Synthesized depths need no rows here: each of their sets contains a
    // fully flipped set of the same side with the same pos, so the
    // minimal antichain never selects one.
    val summarySets = cfSummaryRows.map(_.getSeq[String](0)).toSet
    val seen = scala.collection.mutable.HashSet.empty[Seq[Any]]
    val keyIdx = Seq("copiedValues", "alteredAttributes", "droppedValues")
      .map(preds.schema.fieldIndex)
    val cfRows = flippedRows
      .filter(r => summarySets(r.getSeq[String](altIdx)) && seen.add(keyIdx.map(r.get)))
      .map(r => Row.fromSeq(r.toSeq :+ r.getSeq[String](altIdx).size))
      .sortBy(_.getInt(preds.schema.length))
    val cfExamples = localFrame(cfRows, preds.schema.add("attr_count", IntegerType))

    Explanation(saliency, pss, cfSummary, cfExamples, flaggedTriangles)
  }

  private def emptyExplanation(): Explanation = {
    val e = spark.emptyDataFrame
    Explanation(e, e, e, e, e)
  }
}
