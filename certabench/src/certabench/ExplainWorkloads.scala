package certabench

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.candidates.CandidateGenerator
import graft.eval.EvalDriver
import graft.explain.CertaExplainer
import graft.matcher.{ExternalBatchScorer, NeuralScorerExample, TokenCosineModel}

/** Entity sources shared by the two explainer workloads. */
private[certabench] object ErSources {
  val attrs: Seq[String] = Seq("name", "brand", "category", "descr")
  val pairAttrs: Set[String] = attrs.flatMap(a => Seq(s"ltable_$a", s"rtable_$a")).toSet

  private val schema = StructType(StructField("id", LongType, nullable = false) +:
    attrs.map(a => StructField(a, StringType)))

  def write(spark: SparkSession, data: Inputs.ErData, dir: Path): (DataFrame, DataFrame) = {
    def rows(rs: Seq[Inputs.Rec]) = rs.map(r => Row(r.id, r.name, r.brand, r.category, r.descr))
    (Workload.writeParquet(spark, rows(data.left), schema, dir.resolve("left")),
      Workload.writeParquet(spark, rows(data.right), schema, dir.resolve("right")))
  }

  /** Layer split of the explainer, from the `certa: <stage>` job tags. */
  def explainerLayers(w: Window, units: Int): Map[String, Double] = {
    def exact(names: String*)(j: JobRec) = names.contains(j.desc)
    def sumOf(p: JobRec => Boolean): (Double, Int) = {
      val js = w.jobs.filter(j => j.desc != null && p(j))
      (js.map(j => j.endMs - j.startMs).sum / 1e3, js.size)
    }
    val (supportS, supportJobs) =
      sumOf(exact("certa: support search", "certa: augmented support search"))
    val (depthS, depthJobs) = sumOf(_.desc.startsWith("certa: perturb depth"))
    Workload.common(w, units) ++ Map(
      "explain.jobs" -> w.jobs.size.toDouble / units,
      "matcher.original_s" -> sumOf(exact("certa: original prediction"))._1 / units,
      "candidates.support_s" -> supportS / units,
      "candidates.support_jobs" -> supportJobs.toDouble / units,
      // the G2 fallback's own jobs: copy generation and the source maxima
      "perturb.augment_s" -> sumOf(exact("certa: augment", "certa: source max ids"))._1 / units,
      "triangles.discover_s" -> sumOf(exact("certa: triangle discovery"))._1 / units,
      "perturb.resolve_s" -> sumOf(exact("certa: vertex resolution"))._1 / units,
      "perturb.depth_s" -> depthS / units,
      "perturb.depth_jobs" -> depthJobs.toDouble / units,
      "explain.cf_examples_s" -> sumOf(exact("certa: cf examples"))._1 / units)
  }
}

/** `explain`: one client explains seeded pairs one after another with the
  * cheap column-program matcher, so AutoSelect picks the cross-scan
  * support search. Pairs alternate true match and non-match, which walk
  * the lattice differently.
  */
object ExplainWorkload extends Workload {
  val sourceRows = 2000
  val pairsPerOp = 4
  val numTriangles = 100

  override def setup(spark: SparkSession, seed: Long, dir: Path,
      tracer: Option[Tracer]): Instance = {
    val data = Inputs.erData(seed, sourceRows, nPairs = 64)
    val (lsrc, rsrc) = ErSources.write(spark, data, dir)
    val explainer = new CertaExplainer(lsrc, rsrc)
    val model = TokenCosineModel()

    val inst = new Instance {
      // one operation explains two matches and two non-matches,
      // alternating, so every operation walks both lattices equally often
      private def explainPairs(i: Int): (Seq[Inputs.Pair], Seq[Seq[Array[Row]]]) = {
        val ps = (0 until pairsPerOp).map(k => data.pairs((pairsPerOp * i + k) % data.pairs.size))
        val outs = ps.map { p =>
          val e = explainer.explain(lsrc.filter(col("id") === p.lid),
            rsrc.filter(col("id") === p.rid), model, numTriangles)
          if (e.saliency.columns.isEmpty) Seq.fill(4)(Array.empty[Row])
          else Seq(e.saliency, e.pss, e.triangles, e.cfExamples).map(_.collect())
        }
        (ps, outs)
      }
      private def explainOps(i: Int): (OpResult, Int) = {
        val ((ps, outs), wall) = Workload.seconds(explainPairs(i))
        val failures = ps.zip(outs).flatMap { case (p, Seq(sal, pss, tri, _)) =>
          Workload.failure(p.toString, check(sal, pss, tri))
        }
        val digests = ps.zip(outs).map { case (p, Seq(sal, pss, tri, cf)) =>
          s"${p.lid}-${p.rid}" -> Workload.digest(sal.map("s" + _) ++ pss.map("p" + _) ++
            tri.map("t" + _) ++ cf.map("c" + _))
        }
        (OpResult(wall / ps.size, ps.size, ps.size, failures, digests),
          outs.map(_(2).length).sum)
      }
      override def op(i: Int): OpResult = explainOps(i)._1
      override def tracedOp(i: Int, tracer: Tracer): OpResult = {
        val ((r, triangles), w) = Traced(tracer)(explainOps(i))
        r.copy(layers = ErSources.explainerLayers(w, r.units) +
          ("explain.triangles" -> triangles.toDouble / r.units))
      }
      override def close(): Unit = explainer.close()
    }
    // warm-up: a non-match, whose walk (support search, augmentation
    // fallback, triangles, lattice) covers what a match walk runs
    explainer.explain(lsrc.filter(col("id") === data.pairs(1).lid),
      rsrc.filter(col("id") === data.pairs(1).rid), model, numTriangles).saliency.collect()
    inst
  }

  private def check(sal: Array[Row], pss: Array[Row], tri: Array[Row]): Seq[String] = {
    val f = Seq.newBuilder[String]
    val attrs = sal.map(_.getString(0)).toSet
    if (attrs != ErSources.pairAttrs)
      f += s"saliency covers {${attrs.toSeq.sorted.mkString(",")}}, not every pair attribute"
    if (sal.exists(r => r.isNullAt(1) || !java.lang.Double.isFinite(r.getDouble(1))))
      f += "non-finite saliency"
    if (pss.exists(r => r.isNullAt(1) || !(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0)))
      f += "pos outside [0,1]"
    if (tri.isEmpty || tri.length > numTriangles)
      f += s"${tri.length} triangles (want 1..$numTriangles)"
    f.result()
  }
}

/** Scoring counters of the traced `eval` run, filled inside the scorer
  * sessions (executors share the JVM in local mode), split by the job
  * description of the task that asked for the scores.
  */
object ScoreCounters {
  val support = new AtomicLong
  val perturb = new AtomicLong
  val depth1 = new AtomicLong
  val other = new AtomicLong
  val scoreNs = new AtomicLong

  def reset(): Unit = Seq(support, perturb, depth1, other, scoreNs).foreach(_.set(0L))

  /** A scorer session that counts what the wrapped one scores. */
  final class Counting(inner: NeuralScorerExample.EmbeddingSession)
      extends (Seq[(Seq[String], Seq[String])] => Seq[Double]) with AutoCloseable {
    override def apply(batch: Seq[(Seq[String], Seq[String])]): Seq[Double] = {
      val t0 = System.nanoTime()
      val out = inner(batch)
      scoreNs.addAndGet(System.nanoTime() - t0)
      val desc = Option(TaskContext.get()).map(_.getLocalProperty("spark.job.description"))
        .flatMap(Option(_)).getOrElse("")
      val n = batch.size.toLong
      if (desc.contains("support search")) support.addAndGet(n)
      else if (desc.startsWith("certa: perturb depth")) {
        perturb.addAndGet(n)
        if (desc == "certa: perturb depth 1") depth1.addAndGet(n)
      } else other.addAndGet(n)
      out
    }
    override def close(): Unit = inner.close()
  }
}

/** `eval`: [[EvalDriver.evalCf]] over seeded batches of pairs with
  * parallelism = cpus and the costly external scorer, so AutoSelect runs
  * the blocking recall census and the prekeyed LSH support search.
  */
object EvalWorkload extends Workload {
  val sourceRows = 4500 // above CandidateGenerator.auto's 4096-row blocking gate
  val numTriangles = 10
  val cfSample = 10
  // the smallest batch for which AutoSelect considers the blocked path
  val batch = 2

  override def setup(spark: SparkSession, seed: Long, dir: Path,
      tracer: Option[Tracer]): Instance = {
    val cpus = spark.sparkContext.defaultParallelism
    val data = Inputs.erData(seed, sourceRows, nPairs = 32)
    val (lsrc, rsrc) = ErSources.write(spark, data, dir)
    val weights = dir.resolve("weights.bin").toString
    NeuralScorerExample.writeWeights(weights)
    val scorer = NeuralScorerExample.scorer(weights)
    val countingScorer = new ExternalBatchScorer(
      () => new ScoreCounters.Counting(new NeuralScorerExample.EmbeddingSession(weights)))
    val pairSchema = StructType(Seq(StructField("ltable_id", LongType),
      StructField("rtable_id", LongType), StructField("label", IntegerType)))

    val inst = new Instance {
      private def evalBatch(i: Int, model: graft.matcher.ERModel,
          gen: CandidateGenerator): (OpResult, Int) = {
        val ps = (0 until batch).map(k => data.pairs((i * batch + k) % data.pairs.size))
        val pairs = spark.createDataFrame(java.util.Arrays.asList(
          ps.map(p => Row(p.lid, p.rid, if (p.isMatch) 1 else 0)): _*), pairSchema)
        val out = dir.resolve(s"out-$i")
        val rows = EvalDriver.evalCf(lsrc, rsrc, pairs, model, out.toString,
          numTriangles = numTriangles, maxRows = batch, cfSample = cfSample,
          parallelism = cpus, candidateGen = gen).collect()
        Workload.deleteRecursively(out)
        val failures = check(ps, rows)
        val digests = rows.toSeq.map { r =>
          // every column but the wall-clock latency
          val key = s"${r.getAs[Long]("ltableId")}-${r.getAs[Long]("rtableId")}"
          key -> Workload.digest(Seq(r.schema.fieldNames.filter(_ != "latencySec")
            .map(n => s"$n=${r.getAs[Any](n)}").mkString(",")))
        }
        (OpResult(rows.map(_.getAs[Double]("latencySec")).sum / math.max(1, rows.length),
          rows.length,
          batch, failures, digests), rows.count(_.getAs[Long]("nCf") > 0))
      }

      override def op(i: Int): OpResult =
        evalBatch(i, scorer, graft.candidates.AutoSelect)._1

      override def tracedOp(i: Int, tracer: Tracer): OpResult = {
        ScoreCounters.reset()
        val (((r, cfFound), autoS), w) = Traced(tracer) {
          val (sel, autoS) = Workload.seconds(CandidateGenerator.auto(
            Seq(lsrc, rsrc), batch, countingScorer.costlyScorer))
          try (evalBatch(i, countingScorer, sel.generator), autoS)
          finally sel.close()
        }
        val scored = ScoreCounters.support.get + ScoreCounters.perturb.get +
          ScoreCounters.other.get
        // depth 1 perturbs one free attribute per triangle: one scored
        // pair per attribute of the perturbed side
        val triangles = ScoreCounters.depth1.get.toDouble / ErSources.attrs.size
        r.copy(layers = ErSources.explainerLayers(w, batch) ++ Map(
          "explain.triangles" -> triangles / batch,
          "candidates.auto_select_s" -> autoS,
          "matcher.pairs_scored" -> scored.toDouble / batch,
          "matcher.score_s" -> ScoreCounters.scoreNs.get / 1e9 / batch,
          "matcher.pairs_scored.support" -> ScoreCounters.support.get.toDouble / batch,
          "matcher.pairs_scored.perturb" -> ScoreCounters.perturb.get.toDouble / batch,
          "matcher.pairs_per_triangle" -> (if (triangles > 0) scored / triangles else 0.0),
          "eval.cf_found_frac" -> cfFound.toDouble / batch,
          "eval.untagged_s" -> w.untaggedS / batch))
      }
      override def close(): Unit = ()
    }
    inst.op(0) // warm-up
    inst
  }

  private def check(ps: Seq[Inputs.Pair], rows: Array[Row]): Seq[String] =
    if (rows.length != ps.size)
      ps.map(p => s"$p: evalCf returned ${rows.length} rows for ${ps.size} pairs")
    else ps.zip(rows).flatMap { case (p, r) =>
      val f = Seq.newBuilder[String]
      if (r.getAs[Long]("ltableId") != p.lid || r.getAs[Long]("rtableId") != p.rid)
        f += "row out of order"
      if (r.getAs[Int]("label") != (if (p.isMatch) 1 else 0)) f += "label lost"
      val nCf = r.getAs[Long]("nCf")
      if (nCf < 0 || nCf > cfSample) f += s"$nCf counterfactuals (want 0..$cfSample)"
      Seq("validity", "proximity", "sparsity", "diversity").foreach { m =>
        if (!java.lang.Double.isFinite(r.getAs[Double](m))) f += s"non-finite $m"
      }
      val v = r.getAs[Double]("validity")
      if (!(v >= 0.0 && v <= 1.0)) f += s"validity $v outside [0,1]"
      Workload.failure(p.toString, f.result())
    }
}
