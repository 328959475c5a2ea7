package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.explain.{CertaExplainer, Explanation}
import graft.matcher.{ERModel, ExternalBatchScorer, NeuralScorerExample}

/** Frozen explanations of the paths the golden fixtures do not walk: a
  * mapPartitions scorer (no column program folds over it) and the
  * invariant check with non-transitive triangles discarded. Every output
  * frame is rendered as in [[GoldenCfExamples]] and sorted, so the rows
  * are pinned and their order is not. A third test checks pss against
  * the groupBy census twin of the lattice.
  */
class ExplainerFreezeSpec extends SparkSpec {

  import spark.implicits._

  private def rec(src: DataFrame, id: Long): DataFrame = src.filter(col("id") === id)

  /** saliency (s), pss (p), cfExamples (c) and triangles (t) rows. */
  private def frozen(e: Explanation): Seq[String] =
    Seq("s" -> e.saliency, "p" -> e.pss, "c" -> e.cfExamples, "t" -> e.triangles)
      .flatMap { case (k, df) => GoldenCfExamples.rows(df).map(k + "|" + _) }.sorted

  test("an explanation under the external batch scorer equals its frozen rows") {
    val l = Seq((0L, "mu gamma beta", "berlin", "blue"),
      (1L, "pi theta xi", "berlin", "blue"), (2L, "mu nu epsilon", "rome", "pink"),
      (3L, "xi delta theta", "madrid", "green"), (4L, "omicron zeta delta", "berlin", "blue"),
      (5L, "alpha theta zeta", "oslo", "red"), (6L, "pi lambda omicron", "paris", "green"),
      (7L, "lambda delta alpha", "paris", "pink")).toDF("id", "name", "city", "color")
    val r = Seq((0L, "mu gamma beta", "berlin", "blue"),
      (1L, "zeta lambda xi", "madrid", "red"), (2L, "zeta mu epsilon", "madrid", "pink"),
      (3L, "beta zeta kappa", "oslo", "blue"), (4L, "delta mu alpha", "berlin", "pink"),
      (5L, "gamma delta pi", "berlin", "pink"), (6L, "lambda pi kappa", "rome", "red"),
      (7L, "nu kappa nu", "oslo", "grey")).toDF("id", "name", "city", "color")
    val weights = java.nio.file.Files.createTempFile("weights", ".bin").toString
    NeuralScorerExample.writeWeights(weights)
    LatticeScored.pairs.set(0L)
    val e = new CertaExplainer(l, r).explain(rec(l, 0), rec(r, 0),
      new ExternalBatchScorer(() =>
        new LatticeScored.Counting(new NeuralScorerExample.EmbeddingSession(weights))),
      numTriangles = 6)
    // the lattice is scored exactly once: 3 triangles per side × the
    // 6 subsets of depths 1-2 of a side's 3 attributes
    assert(LatticeScored.pairs.get === 36L)
    assert(frozen(e) === Seq(
      "c|alpha theta zeta|oslo|blue|mu gamma beta|berlin|blue|[ltable_name,ltable_city]|[mu gamma beta,berlin]|[alpha theta zeta,oslo]|0@0 1@0 0@5|0.7150712798408467|0.28492872015915327|2",
      "c|lambda delta alpha|paris|blue|mu gamma beta|berlin|blue|[ltable_name,ltable_city]|[mu gamma beta,berlin]|[lambda delta alpha,paris]|0@0 1@0 0@7|0.8496531051548684|0.15034689484513158|2",
      "c|mu gamma beta|berlin|blue|beta zeta kappa|oslo|blue|[rtable_name,rtable_city]|[mu gamma beta,berlin]|[beta zeta kappa,oslo]|1@0 0@0 1@3|0.7807368465776618|0.2192631534223381|2",
      "c|mu gamma beta|berlin|blue|lambda pi kappa|rome|blue|[rtable_name,rtable_city]|[mu gamma beta,berlin]|[lambda pi kappa,rome]|1@0 0@0 1@6|0.7776943005250188|0.22230569947498127|2",
      "c|mu gamma beta|berlin|blue|nu kappa nu|oslo|blue|[rtable_name,rtable_city]|[mu gamma beta,berlin]|[nu kappa nu,oslo]|1@0 0@0 1@7|0.6586087457535822|0.3413912542464178|2",
      "c|pi lambda omicron|paris|blue|mu gamma beta|berlin|blue|[ltable_name,ltable_city]|[mu gamma beta,berlin]|[pi lambda omicron,paris]|0@0 1@0 0@6|0.8475397711691152|0.15246022883088484|2",
      "p|[ltable_city,ltable_color]|0.0|ltable_city/ltable_color",
      "p|[ltable_city]|0.0|ltable_city",
      "p|[ltable_color]|0.0|ltable_color",
      "p|[ltable_name,ltable_city]|0.5|ltable_name/ltable_city",
      "p|[ltable_name,ltable_color]|0.3333333333333333|ltable_name/ltable_color",
      "p|[ltable_name]|0.3333333333333333|ltable_name",
      "p|[rtable_city,rtable_color]|0.0|rtable_city/rtable_color",
      "p|[rtable_city]|0.0|rtable_city",
      "p|[rtable_color]|0.0|rtable_color",
      "p|[rtable_name,rtable_city]|0.5|rtable_name/rtable_city",
      "p|[rtable_name,rtable_color]|0.16666666666666666|rtable_name/rtable_color",
      "p|[rtable_name]|0.16666666666666666|rtable_name",
      "s|ltable_city|0.5",
      "s|ltable_color|0.4444444444444444",
      "s|ltable_name|0.7222222222222222",
      "s|rtable_city|0.5",
      "s|rtable_color|0.38888888888888884",
      "s|rtable_name|0.6111111111111112",
      "t|0@0|1@0|0@5",
      "t|0@0|1@0|0@6",
      "t|0@0|1@0|0@7",
      "t|1@0|0@0|1@3",
      "t|1@0|0@0|1@6",
      "t|1@0|0@0|1@7"))
  }

  test("a check + discardBad explanation equals its frozen rows") {
    // match iff the names share a token: <u, v, w> with u~w sharing a
    // token is non-transitive (two of its three pairs match)
    val overlap = new ERModel {
      def predict(pairs: DataFrame): DataFrame = {
        val share = size(array_intersect(
          split(col("ltable_name"), " "), split(col("rtable_name"), " "))) > 0
        pairs.withColumn("match_score", when(share, 0.9).otherwise(0.1))
          .withColumn("nomatch_score", lit(1.0) - col("match_score"))
      }
    }
    val l = Seq((0L, "a b", "rome", "red"), (1L, "x y", "paris", "blue"),
      (2L, "a y", "oslo", "red")).toDF("id", "name", "city", "color")
    val r = Seq((0L, "b c", "rome", "red"), (1L, "e f", "lima", "pink"),
      (2L, "c k", "rome", "grey")).toDF("id", "name", "city", "color")
    val explainer = new CertaExplainer(l, r)
    val flagged = explainer.explain(rec(l, 0), rec(r, 0), overlap,
      numTriangles = 4, check = true)
    val kept = explainer.explain(rec(l, 0), rec(r, 0), overlap,
      numTriangles = 4, check = true, discardBad = true)
    assert(frozen(flagged) === Seq(
      "c|a b|rome|red|c k|rome|red|[rtable_name]|[b c]|[c k]|1@0 0@0 1@2|0.1|0.9|1",
      "c|a b|rome|red|e f|rome|red|[rtable_name]|[b c]|[e f]|1@0 0@0 1@1|0.1|0.9|1",
      "c|a y|rome|red|b c|rome|red|[ltable_name]|[a b]|[a y]|0@0 1@0 0@2|0.1|0.9|1",
      "c|x y|rome|red|b c|rome|red|[ltable_name]|[a b]|[x y]|0@0 1@0 0@1|0.1|0.9|1",
      "p|[ltable_city,ltable_color]|0.0|ltable_city/ltable_color",
      "p|[ltable_city]|0.0|ltable_city",
      "p|[ltable_color]|0.0|ltable_color",
      "p|[ltable_name,ltable_city]|0.5|ltable_name/ltable_city",
      "p|[ltable_name,ltable_color]|0.5|ltable_name/ltable_color",
      "p|[ltable_name]|0.5|ltable_name",
      "p|[rtable_city,rtable_color]|0.0|rtable_city/rtable_color",
      "p|[rtable_city]|0.0|rtable_city",
      "p|[rtable_color]|0.0|rtable_color",
      "p|[rtable_name,rtable_city]|0.5|rtable_name/rtable_city",
      "p|[rtable_name,rtable_color]|0.5|rtable_name/rtable_color",
      "p|[rtable_name]|0.5|rtable_name",
      "s|ltable_city|0.375",
      "s|ltable_color|0.375",
      "s|ltable_name|0.625",
      "s|rtable_city|0.375",
      "s|rtable_color|0.375",
      "s|rtable_name|0.625",
      "t|0@0|1@0|0@1|true|true|true",
      "t|0@0|1@0|0@2|true|true|false",
      "t|1@0|0@0|1@1|true|true|true",
      "t|1@0|0@0|1@2|true|true|false"))
    // the two non-transitive triangles and everything derived from them drop
    assert(frozen(kept) === Seq(
      "c|a b|rome|red|e f|rome|red|[rtable_name]|[b c]|[e f]|1@0 0@0 1@1|0.1|0.9|1",
      "c|x y|rome|red|b c|rome|red|[ltable_name]|[a b]|[x y]|0@0 1@0 0@1|0.1|0.9|1",
      "p|[ltable_city,ltable_color]|0.0|ltable_city/ltable_color",
      "p|[ltable_city]|0.0|ltable_city",
      "p|[ltable_color]|0.0|ltable_color",
      "p|[ltable_name,ltable_city]|0.5|ltable_name/ltable_city",
      "p|[ltable_name,ltable_color]|0.5|ltable_name/ltable_color",
      "p|[ltable_name]|0.5|ltable_name",
      "p|[rtable_city,rtable_color]|0.0|rtable_city/rtable_color",
      "p|[rtable_city]|0.0|rtable_city",
      "p|[rtable_color]|0.0|rtable_color",
      "p|[rtable_name,rtable_city]|0.5|rtable_name/rtable_city",
      "p|[rtable_name,rtable_color]|0.5|rtable_name/rtable_color",
      "p|[rtable_name]|0.5|rtable_name",
      "s|ltable_city|0.375",
      "s|ltable_color|0.375",
      "s|ltable_name|0.625",
      "s|rtable_city|0.375",
      "s|rtable_color|0.375",
      "s|rtable_name|0.625",
      "t|0@0|1@0|0@1|true|true|true",
      "t|1@0|0@0|1@1|true|true|true"))
  }

  test("pss equals the groupBy census twin, never-flipped sets included") {
    // every left donor differs from the explained record in its name
    // only, so copying its city or color changes nothing: those sets
    // never flip and must keep their pos-0 pss rows
    val l = Seq((0L, "alpha beta gamma", "rome", "red"),
      (1L, "delta epsilon zeta", "rome", "red"),
      (2L, "eta theta iota", "rome", "red"),
      (3L, "kappa lambda mu", "rome", "red")).toDF("id", "name", "city", "color")
    val r = Seq((0L, "alpha beta gamma", "rome", "red"),
      (1L, "nu xi omicron", "london", "black"),
      (2L, "pi rho sigma", "oslo", "pink"),
      (3L, "tau upsilon phi", "lisbon", "grey")).toDF("id", "name", "city", "color")
    val e = new CertaExplainer(l, r).explain(rec(l, 0), rec(r, 0), TwoDiffModel,
      numTriangles = 6)
    val depths = 1 until 3
    val preds = depths.map(d => TwoDiffModel.predict(
      ReferenceTwins.perturbForDepth(e.triangles, l, r, depth = d, classToExplain = 1)))
      .reduce(_ unionByName _)
    val twin = ReferenceTwins.censusPss(preds, "match_score", depths,
      e.triangles.count())
    val pss = e.pss.collect().map(r => r.getAs[String]("attrSet") -> r.getAs[Double]("pos")).toMap
    assert(pss === twin)
    assert(pss.count(_._2 == 0.0) >= 1, pss)
  }
}

/** Pairs the scorer sessions scored for the explainer's lattice job. */
object LatticeScored {
  val pairs = new java.util.concurrent.atomic.AtomicLong

  final class Counting(inner: NeuralScorerExample.EmbeddingSession)
      extends (Seq[(Seq[String], Seq[String])] => Seq[Double]) with AutoCloseable {
    override def apply(batch: Seq[(Seq[String], Seq[String])]): Seq[Double] = {
      val job = Option(org.apache.spark.TaskContext.get())
        .flatMap(t => Option(t.getLocalProperty("spark.job.description")))
      if (job.exists(_.startsWith("certa: perturb depth"))) pairs.addAndGet(batch.size)
      inner(batch)
    }
    override def close(): Unit = inner.close()
  }
}
