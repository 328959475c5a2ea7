package graft

import graft.queries.{ErQueries, GoldenExplainer}

/** The frozen-golden gate for the live explainer (reference
  * explain.py:155's tuple): recompute the full explanation on the
  * SF-invariant nation⋈region fixture and compare bit-for-bit against
  * the constants that also generate the driver's DuckDB VALUES oracle.
  * Any semantic drift in support search, triangle discovery,
  * perturbation, or the saliency/pss aggregations fails here (and in
  * CORRECTNESS) instead of passing a rows-only count.
  */
class GoldenExplainerSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("live explainer saliency equals the frozen golden exactly") {
    val got = ErQueries.q60GoldenSaliency(spark, dir).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got === GoldenExplainer.saliency)
  }

  test("live explainer pss equals the frozen golden exactly") {
    val got = ErQueries.q61GoldenPss(spark, dir).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got === GoldenExplainer.pss)
  }

  test("live explainer triangles equal the frozen golden exactly") {
    val got = ErQueries.q62GoldenTriangles(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(got === GoldenExplainer.triangles)
  }

  test("live explainer cfExamples equal the frozen golden exactly") {
    val cf = ErQueries.goldenExplained(spark, dir).cfExamples
    assert(cf.schema.treeString === GoldenCfExamples.schema(
      Seq("ltable_", "rtable_").flatMap(p =>
        Seq("name", "region", "grp").map(p + _))))
    assert(GoldenCfExamples.rows(cf) === GoldenCfExamples.golden)
  }

  test("baseline explainers equal their frozen goldens exactly") {
    val got = ErQueries.q63GoldenBaselines(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got === GoldenExplainer.baselines)
  }

  test("bench-scale live explainer (q25-q28) matches its per-SF golden") {
    import graft.queries.GoldenLive
    val g = GoldenLive.bySf("sf0.001")
    val sal = ErQueries.q25CertaSaliency(spark, dir).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(sal === g.saliency)
    val pss = ErQueries.q26CertaPss(spark, dir).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(pss === g.pss)
    val tri = ErQueries.q27CertaTriangles(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(tri === g.triangles)
    val base = ErQueries.q28BaselineSaliency(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    assert(base === g.baselines)
    val cf = ErQueries.explained(spark, dir).cfExamples
    assert(cf.schema.treeString === GoldenCfExamples.schema(
      Seq("ltable_", "rtable_").flatMap(p =>
        Seq("name", "brand", "ptype", "psize").map(p + _))))
    assert(GoldenCfExamples.rows(cf) === GoldenCfExamples.q25)
    // the driver's oracle strings key off the verify SF and must exist
    assert(GoldenLive.bySf.contains(GoldenLive.verifySf))
    assert(ErQueries.oracles("q25_certa_saliency")
      .startsWith("SELECT * FROM (VALUES"))
    // smoke contract: the flagship entry query returns rows
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every frame of the memoized explanation is a LocalRelation") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val e = ErQueries.explained(spark, dir)
    Seq("saliency" -> e.saliency, "pss" -> e.pss, "cfSummary" -> e.cfSummary,
      "cfExamples" -> e.cfExamples, "triangles" -> e.triangles).foreach { case (name, df) =>
      val plan = df.queryExecution.optimizedPlan
      assert(plan.isInstanceOf[LocalRelation], s"$name:\n$plan")
    }
  }

  test("golden VALUES oracles carry the same rows the constants do") {
    // the oracle SQL is generated, not hand-written: pin the generation
    // so an accidental edit to the formatter can't desync driver + spec
    assert(GoldenExplainer.saliencySql.contains("'ltable_region'"))
    assert(GoldenExplainer.saliencySql.contains("CAST('0.8823529411764706' AS DOUBLE)"))
    assert(GoldenExplainer.trianglesSql.contains("('0@0', '1@0', '0@13')"))
    assert(GoldenExplainer.pssSql.contains("('ltable_name/ltable_region', CAST('0.3' AS DOUBLE))"))
  }
}
