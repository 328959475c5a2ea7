package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.candidates.Candidates
import graft.explain.CertaExplainer
import graft.functions.TextSim
import graft.matcher.TokenCosineModel
import graft.schema.PairSchema
import graft.triangles.Triangles

/** Core CERTA dataflow on a hand-built ER fixture (FIXTURES.md §A
  * minimal fixture): 3-attribute entities, deterministic cosine
  * matcher, hand-checkable triangles and perturbation counts.
  */
class CertaCoreSpec extends SparkSpec {

  import spark.implicits._

  private val ps = PairSchema.default

  // Left/right sources: names chosen so token-cosine match/non-match
  // structure is obvious (shared tokens = match).
  private def lsource: DataFrame = Seq(
    (0L, "alpha beta gamma", "rome"),
    (1L, "delta epsilon zeta", "paris"),
    (2L, "eta theta iota", "berlin"),
    (3L, "alpha beta gamma", "rome"),
    (4L, "kappa lambda mu", "madrid")
  ).toDF("id", "name", "city")

  private def rsource: DataFrame = Seq(
    (0L, "alpha beta gamma", "rome"),
    (1L, "delta epsilon zeta", "paris"),
    (2L, "nu xi omicron", "london"),
    (3L, "kappa lambda mu", "madrid"),
    (4L, "eta theta iota", "berlin")
  ).toDF("id", "name", "city")

  private def rec(src: DataFrame, id: Long): DataFrame = src.filter(col("id") === id)

  // parquet-backed copies of the sources: a support search over them
  // takes the distributed path (a LocalRelation source folds)
  private lazy val parquetSources: (DataFrame, DataFrame) = {
    val dir = java.nio.file.Files.createTempDirectory("certa-sources").toString
    lsource.write.parquet(s"$dir/l")
    rsource.write.parquet(s"$dir/r")
    (spark.read.parquet(s"$dir/l"), spark.read.parquet(s"$dir/r"))
  }

  test("TextSim.cosineBags matches the reference cs() semantics") {
    assert(math.abs(TextSim.cosineBags("a b c", "a b c") - 1.0) < 1e-12)
    assert(TextSim.cosineBags("a b", "c d") === 0.0)
    assert(TextSim.cosineBags("", "a") === 0.0)
    // 2 shared of 3 tokens each: 2 / (sqrt(3)*sqrt(3))
    assert(math.abs(TextSim.cosineBags("a b c", "a b d") - 2.0 / 3.0) < 1e-12)
    // bag (not set) semantics: repeated tokens count
    assert(math.abs(TextSim.cosineBags("a a", "a") - 1.0) < 1e-12)
  }

  test("PairSchema prefix helpers and composite-id codec round-trip") {
    val pair = ps.assemblePair(rec(lsource, 0), rsource.filter(col("id") === 1))
    assert(pair.columns.toSet ===
      Set("ltable_id", "ltable_name", "ltable_city", "rtable_id", "rtable_name", "rtable_city"))
    val withId = pair.withColumn("id", ps.pairId(col("ltable_id"), col("rtable_id")))
    assert(withId.select("id").head().getString(0) === "0@0#1@1")
    val stripped = ps.stripPrefix(ps.selectPrefixed(withId, "ltable_"), "ltable_")
    assert(stripped.columns.toSeq === Seq("id", "name", "city"))
  }

  test("mergeSources resolves pair ids through broadcast equi-joins") {
    val pairs = Seq((0L, 0L, 1), (1L, 2L, 0)).toDF("ltable_id", "rtable_id", "label")
    val merged = ps.mergeSources(pairs, lsource, rsource)
    assert(merged.count() === 2)
    val row = merged.filter(col("label") === 1).head()
    assert(row.getAs[String]("ltable_name") === "alpha beta gamma")
    assert(row.getAs[String]("rtable_name") === "alpha beta gamma")
  }

  test("Triangles.discover finds exactly the expected mixed triangles") {
    // support pairs: (l0,r0)=match, (l1,r0)=nomatch, (l0,r2)=nomatch
    val support = Seq(
      ("0@0#1@0", 1),
      ("0@1#1@0", 0),
      ("0@0#1@2", 0)
    ).toDF("id", "label")
    val tri = Triangles.discover(support).collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2))).toSet
    // left-open: pos(l0,r0) ⋈ neg(l1,r0) on pivot r0 → <0@0, 1@0, 0@1>
    // right-open: pos(l0,r0) ⋈ neg(l0,r2) on pivot l0 → <1@0, 0@0, 1@2>
    assert(tri === Set(("0@0", "1@0", "0@1"), ("1@0", "0@0", "1@2")))
  }

  test("Perturb.forDepth fan-out and copy semantics (class 1)") {
    val tri = Seq(("0@0", "1@0", "0@1")).toDF("u", "v", "w")
    val pert = ReferenceTwins.perturbForDepth(tri, lsource, rsource, depth = 1, classToExplain = 1)
    val rows = pert.collect()
    // 2 free-side attrs (name, city) → C(2,1) = 2 perturbations
    assert(rows.length === 2)
    val byAttr = rows.map(r => (r.getAs[Seq[String]]("alteredAttributes").head, r)).toMap
    // perturbing ltable_name copies l1's name into l0's record
    val nameRow = byAttr("ltable_name")
    assert(nameRow.getAs[String]("ltable_name") === "delta epsilon zeta")
    assert(nameRow.getAs[String]("ltable_city") === "rome")
    assert(nameRow.getAs[Seq[String]]("droppedValues") === Seq("alpha beta gamma"))
    assert(nameRow.getAs[Seq[String]]("copiedValues") === Seq("delta epsilon zeta"))
    // pivot side untouched
    assert(nameRow.getAs[String]("rtable_name") === "alpha beta gamma")
    assert(nameRow.getAs[String]("triangle") === "0@0 1@0 0@1")
  }

  test("Perturb.forDepth swaps free and donor for class 0") {
    val tri = Seq(("0@0", "1@0", "0@1")).toDF("u", "v", "w")
    val pert = ReferenceTwins.perturbForDepth(tri, lsource, rsource, depth = 1, classToExplain = 0)
    val byAttr = pert.collect()
      .map(r => (r.getAs[Seq[String]]("alteredAttributes").head, r)).toMap
    // free record is w (= l1), donor u (= l0)
    val nameRow = byAttr("ltable_name")
    assert(nameRow.getAs[String]("ltable_name") === "alpha beta gamma")
    assert(nameRow.getAs[Seq[String]]("droppedValues") === Seq("delta epsilon zeta"))
  }

  test("candidate search returns polarity-filtered, similarity-ordered support") {
    val model = TokenCosineModel()
    val cands = Candidates.findCandidates(
      rec(lsource, 0), rsource, probeIsLeft = true, findPositives = true,
      model = model, numCandidates = 2)
    val got = cands.select("rtable_id", "match_score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    // only r0 shares tokens with l0 ("alpha beta gamma rome")
    assert(got.keySet === Set(0L))
    assert(got(0L) === 1.0)
  }

  test("SparkOrder.compareDoubles sorts as Spark's orderBy, asc and desc") {
    import graft.operators.SparkOrder
    // NaN and ±0.0 twice each, ties, nulls, infinities
    val values: Seq[Option[Double]] = Seq(Some(1.5), Some(Double.NaN), Some(-0.0),
      None, Some(0.0), Some(Double.NegativeInfinity), Some(1.5), Some(Double.NaN),
      None, Some(Double.PositiveInfinity), Some(-2.0), Some(0.0), Some(-0.0),
      Some(Double.MinPositiveValue))
    val df = values.zipWithIndex.toDF("d", "i").repartition(3)
    for (asc <- Seq(true, false)) {
      val byD = if (asc) col("d").asc else col("d").desc
      val sorted = df.orderBy(byD, col("i")).collect().map(_.getInt(1)).toSeq
      val driver = values.zipWithIndex.sortWith { case ((x, i), (y, j)) =>
        val c = SparkOrder.compareDoubles(x.map(Double.box).orNull,
          y.map(Double.box).orNull, ascending = asc)
        if (c != 0) c < 0 else i < j
      }.map(_._2)
      assert(driver === sorted, s"ascending = $asc")
    }
  }

  test("support search returns the same rows over local and distributed sources") {
    // local sources take the driver sort, parquet-backed ones the
    // TakeOrderedAndProject collect; l0/l3 tie on every score
    val (l, r) = parquetSources
    def rows(ls: DataFrame, rs: DataFrame, pc: Int): Seq[String] =
      Candidates.support(rec(lsource, 0), rec(rsource, 2), ls, rs, pc,
        TokenCosineModel(), numTriangles = 6)._2.collect().map(_.toString).toSeq
    for (pc <- Seq(0, 1)) {
      val local = rows(lsource, rsource, pc)
      assert(local.nonEmpty)
      assert(rows(l, r, pc) === local, s"class $pc")
    }
  }

  test("LSH-blocked candidate search: subset of exhaustive, full recall on dups") {
    import graft.candidates.{CrossJoinGenerator, LshBlockingGenerator, SampleGenerator}
    val probe = Seq((0L, "alpha beta gamma delta epsilon", "rome"))
      .toDF("id", "name", "city")
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon", "rome"),  // exact dup
      (1L, "alpha beta gamma delta epsilon", "rome"),  // exact dup
      (2L, "alpha beta gamma delta epsilon", "paris"), // near dup
      (3L, "zeta eta theta iota kappa", "london"),
      (4L, "lambda mu nu xi omicron", "berlin"),
      (5L, "pi rho sigma tau upsilon", "madrid")
    ).toDF("id", "name", "city")
    val model = TokenCosineModel()
    def ids(gen: graft.candidates.CandidateGenerator): Set[Long] =
      Candidates.findCandidates(probe, corpus, probeIsLeft = true,
        findPositives = true, model = model, numCandidates = 6, gen = gen)
        .select("rtable_id").collect().map(_.getLong(0)).toSet
    val exhaustive = ids(CrossJoinGenerator)
    val blocked = ids(LshBlockingGenerator())
    // blocking can only prune — never invent — candidates
    assert(blocked.subsetOf(exhaustive))
    // records sharing every shingle with the probe collide on every
    // band: exact duplicates are guaranteed recall
    assert(blocked.contains(0L) && blocked.contains(1L))
    assert(blocked.size.toDouble / exhaustive.size >= 2.0 / 3.0)
    // the bounded sampler yields a deterministic subset of the corpus
    val sampled = Candidates.findCandidates(probe, corpus, probeIsLeft = true,
      findPositives = false, model = model, numCandidates = 6,
      gen = SampleGenerator(maxCandidates = 3))
    assert(sampled.count() <= 3)
    // amortized variant: prekeyed band keys (cached caller-side) give
    // exactly the per-call generator's results
    val keyed = LshBlockingGenerator.withBandKeys(corpus).cache()
    try {
      keyed.count()
      val prekeyed = ids(LshBlockingGenerator(prekeyed = Map(corpus -> keyed)))
      assert(prekeyed === blocked)
    } finally keyed.unpersist(true)
  }

  test("explainer runs end-to-end with the LSH-blocked generator") {
    import graft.candidates.LshBlockingGenerator
    val model = TokenCosineModel()
    // explain a NON-match: pc = 0 → the support search hunts positives
    // (similar records) — the polarity LSH blocking is built for
    val explainer = new CertaExplainer(lsource, rsource,
      candidateGen = LshBlockingGenerator())
    val result = explainer.explain(rec(lsource, 0), rec(rsource, 2), model,
      numTriangles = 6)
    assert(result.saliency.columns.nonEmpty)
    val sal = result.saliency.collect().map(r =>
      r.getAs[String]("attribute") -> r.getAs[Double]("saliency")).toMap
    assert(sal.keySet === Set("ltable_name", "ltable_city", "rtable_name", "rtable_city"))
    assert(result.triangles.count() > 0)
  }

  test("AutoSelect default resolves per the cost rule with identical outputs") {
    import graft.candidates.{CrossJoinGenerator, LshBlockingGenerator}
    val model = TokenCosineModel()
    def fingerprint(e: graft.explain.Explanation): (Seq[(String, Double)], Seq[(String, Double)]) = (
      e.saliency.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq.sorted,
      e.pss.collect().map(r => (r.getAs[String]("attrSet"), r.getAs[Double]("pos"))).toSeq.sorted)
    // expectedBatch = 1, cheap scorer → the AutoSelect default IS the
    // reference-exact cross scan
    val auto1 = new CertaExplainer(lsource, rsource)
    val cross = new CertaExplainer(lsource, rsource,
      candidateGen = CrossJoinGenerator)
    try assert(
      fingerprint(auto1.explain(rec(lsource, 0), rec(rsource, 0), model, numTriangles = 6)) ===
      fingerprint(cross.explain(rec(lsource, 0), rec(rsource, 0), model, numTriangles = 6)))
    finally auto1.close()
    // expectedBatch ≥ 2 on an UNDER-GATE corpus: the size gate keeps
    // the cross scan (blocking a 5-row source can empty the support
    // set), so outputs still equal the cross path; the blocked-regime
    // explainer run is pinned by the explicit-generator test above and
    // the gate-disabled resolution by InvariantsSpec
    val autoBatch = new CertaExplainer(lsource, rsource, expectedBatch = 8)
    val cross2 = new CertaExplainer(lsource, rsource,
      candidateGen = CrossJoinGenerator)
    try assert(
      fingerprint(autoBatch.explain(rec(lsource, 0), rec(rsource, 2), model, numTriangles = 6)) ===
      fingerprint(cross2.explain(rec(lsource, 0), rec(rsource, 2), model, numTriangles = 6)))
    finally autoBatch.close()
    // suppress the unused-import style warning for the blocked twin
    val _ = LshBlockingGenerator
  }

  test("an explanation runs its post-search stages in a bounded number of jobs") {
    val (l, r) = parquetSources
    // jobs of this thread only: other suites share the session
    val (_, window) = Trace.window(spark)(assertNoNewPins {
      // a non-match whose support is short: walks the G2 fallback as well
      new CertaExplainer(l, r).explain(rec(l, 0), rec(r, 2),
        TokenCosineModel(), numTriangles = 6)
    })
    assert(window.flushed)
    val jobs = window.jobs.map(_.description.getOrElse(""))
    def count(desc: String): Int = jobs.count(_ == desc)
    // one collect per probe record; the pair prediction folds
    assert(count("certa: original prediction") <= 2, jobs)
    // one capped top-k action per searched side; scoring folds
    assert(count("certa: support search") <= 2, jobs)
    assert(count("certa: augmented support search") <= 2, jobs)
    assert(count("certa: source max ids") > 0, jobs)
    // the probe variants and the vertex records are driver work
    assert(count("certa: augment") === 0, jobs)
    assert(count("certa: triangle discovery") === 0, jobs)
    assert(count("certa: vertex resolution") === 0, jobs)
    // the whole lattice, cf examples included, is one action
    assert(jobs.count(d => d.startsWith("certa: perturb depth") ||
      d == "certa: cf examples") <= 1, jobs)
  }

  test("end-to-end explain on a matched pair") {
    val model = TokenCosineModel()
    val explainer = new CertaExplainer(lsource, rsource)
    val result = explainer.explain(rec(lsource, 0), rec(rsource, 0), model,
      numTriangles = 6)

    val sal = result.saliency.collect().map(r =>
      r.getAs[String]("attribute") -> r.getAs[Double]("saliency")).toMap
    // one saliency entry per pair attribute
    assert(sal.keySet === Set("ltable_name", "ltable_city", "rtable_name", "rtable_city"))
    sal.values.foreach(v => assert(v >= 0.0 && v <= 1.0 + 1e-9))

    // pss values are probabilities
    val pss = result.pss.collect()
    assert(pss.nonEmpty)
    pss.foreach { r =>
      val p = r.getAs[Double]("pos")
      assert(p >= 0.0 && p <= 1.0 + 1e-9)
    }

    // cf summary is an antichain: no member is a subset of another
    val sets = result.cfSummary.collect()
      .map(_.getAs[Seq[String]]("alteredAttributes").toSet)
    for (a <- sets; b <- sets if a != b) assert(!a.subsetOf(b) || !b.subsetOf(a))

    // every cf example actually flips the prediction: re-predicting the
    // cf pair must give match_score < 0.5 (original class was 1)
    val cfPairs = result.cfExamples
      .select((lsource.columns.filter(_ != "id").map(c => col("ltable_" + c)) ++
        rsource.columns.filter(_ != "id").map(c => col("rtable_" + c))).toIndexedSeq: _*)
    if (cfPairs.count() > 0) {
      val rescored = model.predict(cfPairs)
      assert(rescored.filter(col("match_score") >= 0.5).count() === 0)
    }
  }

  test("depths past a complete flip are synthesized, not scored") {
    // every depth-1 perturbation flips under TwoDiffModel, so depth 2 is
    // synthesized: all its perturbations count as flipped, although the
    // model would score each of them a match
    val l = Seq((0L, "alpha beta gamma", "rome", "red"),
      (1L, "delta epsilon zeta", "paris", "blue"),
      (2L, "eta theta iota", "berlin", "green"),
      (3L, "kappa lambda mu", "madrid", "white")).toDF("id", "name", "city", "color")
    val r = Seq((0L, "alpha beta gamma", "rome", "red"),
      (1L, "nu xi omicron", "london", "black"),
      (2L, "pi rho sigma", "oslo", "pink"),
      (3L, "tau upsilon phi", "lisbon", "grey")).toDF("id", "name", "city", "color")
    val e = new CertaExplainer(l, r).explain(rec(l, 0), rec(r, 0), TwoDiffModel,
      numTriangles = 6)
    val attrs = Seq("ltable_", "rtable_").flatMap(p => Seq("name", "city", "color").map(p + _))
    // 3 triangles per side: every depth-1 and depth-2 set flips all 3 of 6
    val pss = e.pss.collect().map(r => r.getAs[String]("attrSet") -> r.getAs[Double]("pos")).toMap
    val sets = Seq("ltable_", "rtable_").flatMap(p => Seq("name", "city", "color")
      .map(p + _).combinations(1).toSeq ++ Seq("name", "city", "color").map(p + _).combinations(2))
    assert(pss === sets.map(_.mkString("/") -> 0.5).toMap)
    // flips = 36 flipped perturbations + 6 triangles; each attribute is in
    // 3 depth-1 flips and 6 synthesized depth-2 flips: 6/42 + 9/42
    val sal = e.saliency.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(sal === attrs.map(_ -> 0.3571428571428571).toMap)
    assert(e.cfSummary.collect().map(_.getAs[String]("attrSet")).toSet === attrs.toSet)
    // the minimal max-pos sets are depth 1: the cf examples are the scored
    // depth-1 flips, one per (set, donor value)
    assert(e.cfExamples.schema.treeString === GoldenCfExamples.schema(attrs))
    assert(GoldenCfExamples.rows(e.cfExamples) === Seq(
      "alpha beta gamma|berlin|red|alpha beta gamma|rome|red|[ltable_city]|[rome]|[berlin]|0@0 1@0 0@2|0.0|1.0|1",
      "alpha beta gamma|madrid|red|alpha beta gamma|rome|red|[ltable_city]|[rome]|[madrid]|0@0 1@0 0@3|0.0|1.0|1",
      "alpha beta gamma|paris|red|alpha beta gamma|rome|red|[ltable_city]|[rome]|[paris]|0@0 1@0 0@1|0.0|1.0|1",
      "alpha beta gamma|rome|blue|alpha beta gamma|rome|red|[ltable_color]|[red]|[blue]|0@0 1@0 0@1|0.0|1.0|1",
      "alpha beta gamma|rome|green|alpha beta gamma|rome|red|[ltable_color]|[red]|[green]|0@0 1@0 0@2|0.0|1.0|1",
      "alpha beta gamma|rome|red|alpha beta gamma|lisbon|red|[rtable_city]|[rome]|[lisbon]|1@0 0@0 1@3|0.0|1.0|1",
      "alpha beta gamma|rome|red|alpha beta gamma|london|red|[rtable_city]|[rome]|[london]|1@0 0@0 1@1|0.0|1.0|1",
      "alpha beta gamma|rome|red|alpha beta gamma|oslo|red|[rtable_city]|[rome]|[oslo]|1@0 0@0 1@2|0.0|1.0|1",
      "alpha beta gamma|rome|red|alpha beta gamma|rome|black|[rtable_color]|[red]|[black]|1@0 0@0 1@1|0.0|1.0|1",
      "alpha beta gamma|rome|red|alpha beta gamma|rome|grey|[rtable_color]|[red]|[grey]|1@0 0@0 1@3|0.0|1.0|1",
      "alpha beta gamma|rome|red|alpha beta gamma|rome|pink|[rtable_color]|[red]|[pink]|1@0 0@0 1@2|0.0|1.0|1",
      "alpha beta gamma|rome|red|nu xi omicron|rome|red|[rtable_name]|[alpha beta gamma]|[nu xi omicron]|1@0 0@0 1@1|0.0|1.0|1",
      "alpha beta gamma|rome|red|pi rho sigma|rome|red|[rtable_name]|[alpha beta gamma]|[pi rho sigma]|1@0 0@0 1@2|0.0|1.0|1",
      "alpha beta gamma|rome|red|tau upsilon phi|rome|red|[rtable_name]|[alpha beta gamma]|[tau upsilon phi]|1@0 0@0 1@3|0.0|1.0|1",
      "alpha beta gamma|rome|white|alpha beta gamma|rome|red|[ltable_color]|[red]|[white]|0@0 1@0 0@3|0.0|1.0|1",
      "delta epsilon zeta|rome|red|alpha beta gamma|rome|red|[ltable_name]|[alpha beta gamma]|[delta epsilon zeta]|0@0 1@0 0@1|0.0|1.0|1",
      "eta theta iota|rome|red|alpha beta gamma|rome|red|[ltable_name]|[alpha beta gamma]|[eta theta iota]|0@0 1@0 0@2|0.0|1.0|1",
      "kappa lambda mu|rome|red|alpha beta gamma|rome|red|[ltable_name]|[alpha beta gamma]|[kappa lambda mu]|0@0 1@0 0@3|0.0|1.0|1"))
  }
}
