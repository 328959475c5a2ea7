package graft.eval

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.explain.CertaExplainer
import graft.matcher.ERModel
import graft.metrics.CfMetrics
import graft.schema.PairSchema
import graft.sources.ErSources

/** Batch evaluation driver (reference eval.py §3.2): explain every test
  * pair, persist per-row explanation outputs, compute CF quality
  * metrics. Explanations are independent → the loop is the reference's
  * embarrassingly-parallel per-row driver loop; each iteration's body is
  * fully distributed. File-level memoization (skip when the output
  * exists) keeps reruns resumable, as the reference's csv-exists checks
  * do (eval.py:87-88).
  */
object EvalDriver {

  /** Default eval-loop parallelism. The numbers of the round-8 knee
    * sweep stand (SURVEY.md; 100 warmed explanations on local[32] under
    * a FAIR pool, outputs asserted identical at every level): par8
    * 4.05×, par16 4.70×, **par32 3.92×** — the curve peaks at 16 and
    * REGRESSES beyond it as the concurrent job streams start contending
    * for the 32 scheduler slots, so 16 is the knee, not just a plateau.
    * Nothing in the repo re-runs the sweep. Callers explaining on a
    * real cluster with more executor slots should raise it; `parMap`
    * already bounds the pool at the batch size, so small batches never
    * over-spawn threads.
    */
  val defaultParallelism: Int = 16

  /** Run the independent per-row bodies concurrently: explanations are
    * embarrassingly parallel across test rows (reference eval.py:69 —
    * the loop body touches no shared state), so a bounded thread pool
    * turns N sequential multi-job explanations into N concurrent job
    * streams the scheduler interleaves — the real cluster win for eval
    * workloads, where one explanation rarely fills the executor pool.
    * Each worker thread tags its jobs into a scheduler pool (with
    * `spark.scheduler.mode=FAIR` the pools share the cluster fairly;
    * under default FIFO the tag is inert but jobs from distinct threads
    * still interleave). Results keep input order, so output is
    * IDENTICAL to the sequential loop's.
    */
  private[graft] def parMap[A, B](items: Seq[A], parallelism: Int,
      spark: SparkSession, poolName: String = "graft-eval")(f: A => B): Seq[B] =
    if (parallelism <= 1 || items.size <= 1) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, items.size))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      try {
        val fs = items.map { a =>
          scala.concurrent.Future {
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", poolName)
            try f(a)
            finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
          }
        }
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(fs),
          scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
    }

  /** The generate.py:102-116 retry schedule: explain with num_triangles
    * = start, and while the explanation comes back empty re-run with
    * +step more triangles, giving up past the cap (the reference tries
    * 10, 60, 110, 160 and then stops). Returns the explanation and the
    * num_triangles that produced it.
    */
  def explainEscalating(
      explainer: CertaExplainer,
      lRec: DataFrame,
      rRec: DataFrame,
      model: ERModel,
      start: Int = 10,
      step: Int = 50,
      cap: Int = 200): (graft.explain.Explanation, Int) = {
    var n = start
    var result = explainer.explain(lRec, rRec, model, n)
    while (result.saliency.columns.isEmpty && n + step <= cap) {
      n += step
      result = explainer.explain(lRec, rRec, model, n)
    }
    (result, n)
  }

  final case class CfRow(
      ltableId: Long, rtableId: Long, label: Int,
      latencySec: Double, nCf: Long,
      validity: Double, proximity: Double, sparsity: Double, diversity: Double)

  /** Saliency evaluation (reference eval_saliency, eval.py:218-358):
    * per test pair, CERTA saliency plus the Mojito and Landmark baseline
    * weights, each with latency instrumentation, persisted long-form.
    */
  def evalSaliency(
      lsource: DataFrame,
      rsource: DataFrame,
      testPairs: DataFrame,
      model: ERModel,
      outDir: String,
      numTriangles: Int = 100,
      maxRows: Int = 10,
      parallelism: Int = defaultParallelism,
      schema: PairSchema = PairSchema.default,
      candidateGen: graft.candidates.CandidateGenerator =
        graft.candidates.AutoSelect): DataFrame = {

    val spark = lsource.sparkSession
    import spark.implicits._
    Files.createDirectories(Paths.get(outDir))
    val items = testPairs.limit(maxRows).collect().toSeq
    val selection = graft.candidates.CandidateGenerator.resolve(candidateGen,
      Seq(lsource, rsource), items.size, model.costlyScorer)
    val explainer = new CertaExplainer(lsource, rsource, schema,
      candidateGen = selection.generator)

    val rows = try parMap(items, parallelism,
        spark) { tp =>
      val lid = tp.getAs[Number]("ltable_id").longValue()
      val rid = tp.getAs[Number]("rtable_id").longValue()
      val label = tp.getAs[Number]("label").intValue()
      val lRec = lsource.filter(col("id") === lid)
      val rRec = rsource.filter(col("id") === rid)

      def timed[T](f: => T): (T, Double) = {
        val t0 = System.nanoTime()
        val r = f
        (r, (System.nanoTime() - t0) / 1e9)
      }

      val (certa, certaLat) = timed {
        val e = explainer.explain(lRec, rRec, model, numTriangles)
        if (e.saliency.columns.isEmpty) Seq.empty
        else e.saliency.collect().toSeq.map(r =>
          (r.getAs[String]("attribute"), r.getAs[Double]("saliency")))
      }
      val (mojito, mojitoLat) = timed {
        graft.baselines.Mojito.explain(lRec, rRec, model, "l", 100, schema = schema)
          .collect().toSeq.map(r => (r.getString(0), r.getDouble(1)))
      }
      // reference eval.py:300-309 passes the LABELLED item to conf='auto'
      // (matches 'single', non-matches 'double' with injection) and rolls
      // up per attribute
      val (landmark, landmarkLat) = timed {
        graft.baselines.Landmark.attributeImpacts(
          graft.baselines.Landmark.explainAuto(lRec, rRec, model, label,
            numSamples = 100, schema = schema))
          .collect().toSeq.map(r => (r.getString(0), r.getDouble(1)))
      }
      // the reference's saliency comparison set is
      // ['certa', 'landmark', 'mojito', 'shap'] (eval.py:350)
      val (shap, shapLat) = timed {
        graft.baselines.Shap.attributions(lRec, rRec, model, schema = schema)
          .collect().toSeq.map(r => (r.getString(0), r.getDouble(1)))
      }

      certa.map { case (a, s) => (lid, rid, "certa", a, s, certaLat) } ++
        mojito.map { case (a, s) => (lid, rid, "mojito", a, s, mojitoLat) } ++
        landmark.map { case (a, s) => (lid, rid, "landmark", a, s, landmarkLat) } ++
        shap.map { case (a, s) => (lid, rid, "shap", a, s, shapLat) }
    }.flatten
    finally selection.close()
    val df = rows.toDF("ltable_id", "rtable_id", "method", "attribute",
      "score", "latency_sec")
    val path = s"$outDir/saliency"
    if (!Files.exists(Paths.get(path))) ErSources.writeCsv(df, path)
    df
  }

  /** Evaluate CF explanations over the first `maxRows` test pairs.
    *
    * @param testPairs (ltable_id, rtable_id, label) rows
    * @return one metrics row per explained pair
    */
  def evalCf(
      lsource: DataFrame,
      rsource: DataFrame,
      testPairs: DataFrame,
      model: ERModel,
      outDir: String,
      numTriangles: Int = 100,
      maxRows: Int = 10,
      cfSample: Int = 10,
      compareBaselines: Boolean = false,
      escalate: Boolean = false,
      parallelism: Int = defaultParallelism,
      schema: PairSchema = PairSchema.default,
      candidateGen: graft.candidates.CandidateGenerator =
        graft.candidates.AutoSelect): DataFrame = {

    val spark = lsource.sparkSession
    import spark.implicits._
    Files.createDirectories(Paths.get(outDir))

    val items = testPairs.limit(maxRows).collect().toSeq
    val selection = graft.candidates.CandidateGenerator.resolve(candidateGen,
      Seq(lsource, rsource), items.size, model.costlyScorer)
    val explainer = new CertaExplainer(lsource, rsource, schema,
      candidateGen = selection.generator)
    val rows = try parMap(items, parallelism,
        spark) { tp =>
      val lid = tp.getAs[Number]("ltable_id").longValue()
      val rid = tp.getAs[Number]("rtable_id").longValue()
      val label = tp.getAs[Number]("label").intValue()
      val cfPath = s"$outDir/cf_${lid}_$rid"
      val t0 = System.nanoTime()

      val lRec = lsource.filter(col("id") === lid)
      val rRec = rsource.filter(col("id") === rid)
      val original = model.predict(schema.assemblePair(lRec, rRec)).head()
      val pc = if (original.getAs[Double]("match_score") >
        original.getAs[Double]("nomatch_score")) 1 else 0
      val classScoreCol = if (pc == 1) "match_score" else "nomatch_score"

      val result =
        if (escalate) explainEscalating(explainer, lRec, rRec, model,
          start = numTriangles)._1
        else explainer.explain(lRec, rRec, model, numTriangles)
      val latency = (System.nanoTime() - t0) / 1e9

      // reference eval.py:113-140 `compare` leg: SHAP-C and LIME-C
      // evidence counterfactuals persisted next to CERTA's (file-level
      // memoization like the reference's csv-exists checks)
      if (compareBaselines) {
        val shapPath = s"$outDir/shapc_${lid}_$rid"
        if (!Files.exists(Paths.get(shapPath))) {
          val sc = graft.baselines.ShapC.explain(lRec, rRec, model, schema = schema)
          if (sc.found) ErSources.writeCsv(sc.cfExample, shapPath)
        }
        val limePath = s"$outDir/limec_${lid}_$rid"
        if (!Files.exists(Paths.get(limePath))) {
          val lc = graft.baselines.LimeC.explain(lRec, rRec, model, schema = schema)
          if (lc.found) ErSources.writeCsv(lc.cfExample, limePath)
        }
        // dice_random leg (eval.py:142-161): domains from the merged
        // test pair frame
        val dicePath = s"$outDir/dice_random_${lid}_$rid"
        if (!Files.exists(Paths.get(dicePath))) {
          val domainFrame = schema.mergeSources(testPairs, lsource, rsource)
          val dice = graft.baselines.DiceRandom.explain(
            lRec, rRec, model, domainFrame, schema = schema)
          if (!dice.isEmpty) ErSources.writeCsv(dice, dicePath)
        }
      }

      if (result.cfExamples.columns.isEmpty) {
        CfRow(lid, rid, label, latency, 0L, 0.0, 0.0, 0.0, 0.0)
      } else {
        val cf = result.cfExamples.limit(cfSample)
        val nCf = cf.count()
        if (!Files.exists(Paths.get(cfPath)))
          ErSources.writeCsv(cf.withColumn("alteredAttributes",
              array_join(col("alteredAttributes"), "/"))
            .withColumn("droppedValues", array_join(col("droppedValues"), "/"))
            .withColumn("copiedValues", array_join(col("copiedValues"), "/")),
            cfPath)
        val attrs = schema.pairAttributes(
          schema.assemblePair(lRec, rRec))
        if (nCf == 0) CfRow(lid, rid, label, latency, 0L, 0.0, 0.0, 0.0, 0.0)
        else CfRow(lid, rid, label, latency, nCf,
          CfMetrics.validity(cf, classScoreCol),
          CfMetrics.proximity(cf, original, attrs),
          CfMetrics.sparsity(cf, original, attrs),
          CfMetrics.diversity(cf, attrs))
      }
    } finally selection.close()
    rows.toDF()
  }
}
