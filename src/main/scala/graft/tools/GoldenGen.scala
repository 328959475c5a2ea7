package graft.tools

import graft.queries.ErQueries

/** Deliberate regeneration of [[graft.queries.GoldenExplainer]]'s frozen
  * constants: runs the golden explainer queries at every SF dir, asserts
  * the rows are identical across SFs (the fixture is nation⋈region, so
  * any difference means the fixture lost SF-invariance), and prints the
  * Scala literals to paste into GoldenExplainer.scala.
  */
object GoldenGen {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(8, logLevel = "ERROR")
    val dirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
      "/root/testdata/sf0.1")

    def rowsOf(dir: String): (Seq[(String, Double)], Seq[(String, Double)],
        Seq[(String, String, String)], Seq[(String, String, Double)]) = {
      val sal = ErQueries.q60GoldenSaliency(spark, dir).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      val pss = ErQueries.q61GoldenPss(spark, dir).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      val tri = ErQueries.q62GoldenTriangles(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
      val base = ErQueries.q63GoldenBaselines(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
      (sal, pss, tri, base)
    }

    val all = dirs.map(d => d -> rowsOf(d))
    val (_, ref) = all.head
    all.tail.foreach { case (d, got) =>
      require(got == ref, s"SF-invariance violated at $d:\n$got\nvs\n$ref")
    }
    // q96 BPE merge table (also nation∪region, so SF-invariant)
    def bpeOf(dir: String): Seq[(Int, String, String, String, Long)] =
      graft.queries.PipelineQueries.q96BpeVocab(spark, dir).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq
    val bpeAll = dirs.map(d => d -> bpeOf(d))
    bpeAll.tail.foreach { case (d, got) =>
      require(got == bpeAll.head._2,
        s"BPE SF-invariance violated at $d:\n$got\nvs\n${bpeAll.head._2}")
    }
    // q170/q171/q174 metric+lattice goldens (nation⋈region, SF-invariant)
    def metricsOf(dir: String): (Seq[(String, Double)], Seq[(String, Long)],
        Seq[(String, Long, Long, String)], Seq[(String, Long)],
        Seq[(String, Double)],
        Seq[(String, String, String, Long, Long, Long)],
        Seq[(String, Long, Long, String)]) = {
      val faith = ErQueries.q170GoldenFaithfulness(spark, dir).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      val conf = ErQueries.q171GoldenConfidence(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      val lat = ErQueries.q174LatticeGolden(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getString(3))).toSeq
      val cfm = ErQueries.q175CfMetricsGolden(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      val aug = ErQueries.q176AugmentedGolden(spark, dir).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      val inv = ErQueries.q177InvariantsGolden(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
      val ecf = ErQueries.q179EvidenceCfGolden(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getString(3))).toSeq
      (faith, conf, lat, cfm, aug, inv, ecf)
    }
    val metricsAll = dirs.map(d => d -> metricsOf(d))
    metricsAll.tail.foreach { case (d, got) =>
      require(got == metricsAll.head._2,
        s"metric SF-invariance violated at $d:\n$got\nvs\n${metricsAll.head._2}")
    }

    println("// identical across " + dirs.mkString(", "))
    def lit(s: String) = "\"" + s.replace("\"", "\\\"") + "\""
    println("  val saliency: Seq[(String, Double)] = Seq(")
    println(ref._1.map { case (a, v) => s"    (${lit(a)}, $v)" }.mkString(",\n") + ")")
    println("  val pss: Seq[(String, Double)] = Seq(")
    println(ref._2.map { case (a, v) => s"    (${lit(a)}, $v)" }.mkString(",\n") + ")")
    println("  val triangles: Seq[(String, String, String)] = Seq(")
    println(ref._3.map { case (u, v, w) =>
      s"    (${lit(u)}, ${lit(v)}, ${lit(w)})" }.mkString(",\n") + ")")
    println("  val baselines: Seq[(String, String, Double)] = Seq(")
    println(ref._4.map { case (m, a, v) =>
      s"    (${lit(m)}, ${lit(a)}, $v)" }.mkString(",\n") + ")")
    println("  val q96Golden: Seq[(Int, String, String, String, Long)] = Seq(")
    println(bpeAll.head._2.map { case (r, a, b, m, c) =>
      s"    ($r, ${lit(a)}, ${lit(b)}, ${lit(m)}, ${c}L)" }.mkString(",\n") + ")")
    println("  val frozen: Map[String, Seq[(String, Long)]] = Map(")
    println(dirs.map { d =>
      val sfTag = d.split("/").last
      val hs = graft.queries.GoldenFixture.hashes(spark, d)
        .map { case (t, h) => s"(${lit(t)}, ${h}L)" }.mkString(", ")
      s"""    "$sfTag" -> Seq($hs)"""
    }.mkString(",\n") + ")")
    println("  val faithfulness: Seq[(String, Double)] = Seq(")
    println(metricsAll.head._2._1.map { case (m, v) =>
      s"    (${lit(m)}, $v)" }.mkString(",\n") + ")")
    println("  val confidence: Seq[(String, Long)] = Seq(")
    println(metricsAll.head._2._2.map { case (m, v) =>
      s"    (${lit(m)}, ${v}L)" }.mkString(",\n") + ")")
    println("  val lattice: Seq[(String, Long, Long, String)] = Seq(")
    println(metricsAll.head._2._3.map { case (t, ne, ned, h) =>
      s"    (${lit(t)}, ${ne}L, ${ned}L, ${lit(h)})" }.mkString(",\n") + ")")
    println("  val cfMetrics: Seq[(String, Long)] = Seq(")
    println(metricsAll.head._2._4.map { case (m, v) =>
      s"    (${lit(m)}, ${v}L)" }.mkString(",\n") + ")")
    println("  val augSaliency: Seq[(String, Double)] = Seq(")
    println(metricsAll.head._2._5.map { case (a, v) =>
      s"    (${lit(a)}, $v)" }.mkString(",\n") + ")")
    println("  val invariants: Seq[(String, String, String, Long, Long, Long)] = Seq(")
    println(metricsAll.head._2._6.map { case (u, v, w, i, sy, tr) =>
      s"    (${lit(u)}, ${lit(v)}, ${lit(w)}, ${i}L, ${sy}L, ${tr}L)" }
      .mkString(",\n") + ")")
    println("  val evidenceCf: Seq[(String, Long, Long, String)] = Seq(")
    println(metricsAll.head._2._7.map { case (m, f, n, dt) =>
      s"    (${lit(m)}, ${f}L, ${n}L, ${lit(dt)})" }.mkString(",\n") + ")")

    // Per-SF frozen constants for the bench-scale live explainer
    // (q25-q28 on `part`). These are NOT SF-invariant — the support /
    // candidate structure grows with `part` — so each SF gets its own
    // frozen block and [[graft.queries.GoldenLive]] keys the oracle off
    // the verify SF (sf0.01). Regenerate whenever testdata changes.
    dirs.foreach { dir =>
      val sfTag = dir.split("/").last
      val sal = ErQueries.q25CertaSaliency(spark, dir).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      val pss = ErQueries.q26CertaPss(spark, dir).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      val tri = ErQueries.q27CertaTriangles(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
      val base = ErQueries.q28BaselineSaliency(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
      println(s"  // --- $sfTag ---")
      println(s"""  "$sfTag" -> LiveGolden(""")
      println("    saliency = Seq(")
      println(sal.map { case (a, v) => s"      (${lit(a)}, $v)" }.mkString(",\n") + "),")
      println("    pss = Seq(")
      println(pss.map { case (a, v) => s"      (${lit(a)}, $v)" }.mkString(",\n") + "),")
      println("    triangles = Seq(")
      println(tri.map { case (u, v, w) =>
        s"      (${lit(u)}, ${lit(v)}, ${lit(w)})" }.mkString(",\n") + "),")
      println("    baselines = Seq(")
      println(base.map { case (m, a, v) =>
        s"      (${lit(m)}, ${lit(a)}, $v)" }.mkString(",\n") + ")),")
    }
    spark.stop()
  }
}
