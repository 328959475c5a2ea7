package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.explain.CertaExplainer
import graft.matcher.TokenCosineModel
import graft.sources.Tables

/** Dumps the live explainer's full output tuple on the golden
  * nation⋈region fixture at a TRUNCATION-FREE numTriangles setting, for
  * comparison against the reference Python implementation
  * (tools/reference_parity.py).
  *
  * Why a separate setting from the frozen golden (numTriangles=10): the
  * reference's support search shuffles with UNSEEDED pandas
  * `sample(frac=1)` (local_explain.py:186) and truncates head+tail of
  * that random order when support > num_triangles
  * (local_explain.py:64), so its 10-triangle output is a random subset
  * — not reproducible even by the reference itself. At numTriangles ≥
  * the full qualifying-support size, no truncation, balancing, or
  * augmentation path runs in either engine and every remaining stage is
  * deterministic — exact cross-engine equality is then a meaningful
  * check of candidate polarity, triangle discovery, the perturbation
  * lattice, the monotonicity shortcut, flip counting, and the
  * saliency/pss aggregations (reference explain.py:34-158,
  * triangles_method.py:204-396).
  *
  * Usage: runMain graft.tools.ParityDump <numTriangles> <outDir>
  */
object ParityDump {
  def main(args: Array[String]): Unit = {
    val nt = args(0).toInt
    val out = args(1)
    val spark = graft.Session.local(8, logLevel = "ERROR")
    val dir = "/root/testdata/sf0.001"

    val n = Tables.load(spark, dir, "nation")
    val r = Tables.load(spark, dir, "region")
    val src = n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(
        col("n_nationkey").cast("long").as("id"),
        col("n_name").as("name"),
        col("r_name").as("region"),
        concat(lit("group "), pmod(col("n_nationkey"), lit(2)).cast("string"))
          .as("grp"))
    val l = src.filter(col("id") === 0)
    val e = new CertaExplainer(src, src).explain(l, l, TokenCosineModel(),
      numTriangles = nt)

    def dump(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").json(s"$out/$name")
    dump(e.saliency.orderBy(col("attribute")), "saliency")
    dump(e.pss.select(col("attrSet"), col("pos")).orderBy(col("attrSet")), "pss")
    dump(e.triangles.select(col("u"), col("v"), col("w"))
      .orderBy(col("u"), col("v"), col("w")), "triangles")
    dump(e.cfSummary.select(col("attrSet"), col("pos"))
      .orderBy(col("attrSet")), "cf_summary")
    println(s"[parity] wrote saliency/pss/triangles at numTriangles=$nt to $out")
    spark.stop()
  }
}
