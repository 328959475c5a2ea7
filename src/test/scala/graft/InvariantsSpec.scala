package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.eval.EvalDriver
import graft.matcher.TokenCosineModel
import graft.perturb.Augment

/** Specs for the matcher-invariant probes (G6), the evaluation driver
  * (§3.2) and the augmentation generator (G1).
  */
class InvariantsSpec extends SparkSpec {

  import spark.implicits._

  private def lsource: DataFrame = Seq(
    (0L, "alpha beta gamma", "rome"),
    (1L, "delta epsilon zeta", "paris")
  ).toDF("id", "name", "city")

  private def rsource: DataFrame = Seq(
    (0L, "alpha beta gamma", "rome"),
    (2L, "nu xi omicron", "london")
  ).toDF("id", "name", "city")

  test("invariant probes: cosine matcher is identity/symmetry-consistent") {
    val tri = Seq(("0@0", "1@0", "0@1")).toDF("u", "v", "w")
    val checked = ReferenceTwins.checkAll(tri, lsource, rsource, TokenCosineModel())
    val row = checked.head()
    // cosine is reflexive and symmetric by construction
    assert(row.getAs[Boolean]("identity"))
    assert(row.getAs[Boolean]("symmetry"))
    // u~v match, v~w nomatch, u~w nomatch → matches=1 → transitive
    assert(row.getAs[Boolean]("transitivity"))
  }

  test("invariant probes flag a non-transitive matcher; explainer discards") {
    // overlap matcher: match iff the two names share ANY token — built
    // to violate transitivity: u~v and v~w match while u~w does not
    val overlapModel = new graft.matcher.ERModel {
      def predict(pairs: DataFrame): DataFrame = {
        val share = size(array_intersect(
          split(col("ltable_name"), " "), split(col("rtable_name"), " "))) > 0
        pairs.withColumn("match_score", when(share, 0.9).otherwise(0.1))
          .withColumn("nomatch_score", lit(1.0) - col("match_score"))
      }
    }
    val l = Seq((0L, "a b", "x"), (1L, "c d", "x")).toDF("id", "name", "city")
    val r = Seq((0L, "b c", "x"), (1L, "e f", "x")).toDF("id", "name", "city")
    // u=0@0 ("a b"), v=1@0 ("b c"), w=0@1 ("c d"):
    //   u~v share "b" (match), v~w share "c" (match), u~w disjoint →
    //   exactly 2 matches → transitivity violated
    val tri = Seq(("0@0", "1@0", "0@1")).toDF("u", "v", "w")
    val flags = ReferenceTwins.checkAll(tri, l, r, overlapModel).head()
    assert(!flags.getAs[Boolean]("transitivity"))

    // the explainer's check/discardBad path: with every triangle bad the
    // explanation must come back empty; with check only, triangles carry
    // the flags (reference explain_samples check/discard_bad)
    val explainer = new graft.explain.CertaExplainer(l, r)
    val dropped = explainer.explain(
      l.filter(col("id") === 0), r.filter(col("id") === 0), overlapModel,
      numTriangles = 4, check = true, discardBad = true)
    val flagged = explainer.explain(
      l.filter(col("id") === 0), r.filter(col("id") === 0), overlapModel,
      numTriangles = 4, check = true, discardBad = false)
    if (flagged.triangles.columns.nonEmpty) {
      assert(flagged.triangles.columns.contains("transitivity"))
      // every triangle this matcher yields here is non-transitive → all
      // dropped under discardBad
      if (flagged.triangles.filter(col("transitivity")).count() === 0)
        assert(dropped.saliency.columns.isEmpty)
    }
  }

  test("escalation schedule retries empty explanations with more triangles") {
    var calls = scala.collection.mutable.ArrayBuffer.empty[Int]
    // a model yielding NO support (always nomatch, scores never qualify
    // as positives) → every explanation is empty → full 10/60/110/160
    // schedule runs, as in generate.py:102-116
    val dudModel = new graft.matcher.ERModel {
      def predict(pairs: DataFrame): DataFrame = pairs
        .withColumn("match_score", lit(0.0))
        .withColumn("nomatch_score", lit(1.0))
    }
    val spyExplainer = new graft.explain.CertaExplainer(lsource, rsource) {
      override def explain(lRecord: DataFrame, rRecord: DataFrame,
          model: graft.matcher.ERModel, numTriangles: Int,
          attrLengthOpt: Int, maxPredict: Int, useLeft: Boolean,
          useRight: Boolean, check: Boolean, discardBad: Boolean)
          : graft.explain.Explanation = {
        calls += numTriangles
        super.explain(lRecord, rRecord, model, numTriangles, attrLengthOpt,
          maxPredict, useLeft, useRight, check, discardBad)
      }
    }
    val (result, n) = EvalDriver.explainEscalating(spyExplainer,
      lsource.filter(col("id") === 0), rsource.filter(col("id") === 0), dudModel)
    assert(result.saliency.columns.isEmpty)
    assert(calls.toSeq === Seq(10, 60, 110, 160))
    assert(n === 160)
  }

  test("G1 augmentation: fan-out = 2·Σ(tokens-1) per attribute, fresh ids") {
    val one = Seq((7L, "a b c", "x")).toDF("id", "name", "city")
    val gen = Augment.generateSubsequences(one, startId = 100L).cache()
    // name "a b c": cuts 1,2 → 4 variants; city "x": no cut → 0
    assert(gen.count() === 4)
    val names = gen.select("name").as[String].collect().toSet
    assert(names === Set("b c", "a", "c", "a b"))
    val ids = gen.select("id").as[Long].collect().sorted.toSeq
    assert(ids === Seq(100L, 101L, 102L, 103L))
    gen.unpersist()
    // ids are ranks in Spark's own (xxhash64(attrs, id), attrs, id) order
    val two = Seq((7L, "a b c", "x y"), (8L, "é b ü", "x"), (9L, "ü b", null))
      .toDF("id", "name", "city")
    val (variants, attrs) = Augment.subsequenceVariants(two)
    val keys = attrs.map(col) :+ col("id").cast("string")
    val ranked = variants.orderBy(xxhash64(keys: _*) +: keys: _*)
      .select(attrs.map(col): _*).collect().toSeq
    val assigned = Augment.generateSubsequences(two, startId = 100L)
    assert(assigned.orderBy("id").select(attrs.map(col): _*).collect().toSeq === ranked)
    assert(assigned.select("id").as[Long].collect().sorted.toSeq === (100L until 100L + ranked.size))
  }

  test("eval driver computes per-pair CF metrics with memoized sinks") {
    val out = java.nio.file.Files.createTempDirectory("evalcf").toString
    val pairs = Seq((0L, 0L, 1)).toDF("ltable_id", "rtable_id", "label")
    val metrics = EvalDriver.evalCf(lsource, rsource, pairs,
      TokenCosineModel(), out, numTriangles = 4, maxRows = 1)
    val row = metrics.head()
    assert(row.getAs[Double]("latencySec") > 0.0)
    // validity of CERTA cf examples is 1.0 by construction (all flipped)
    if (row.getAs[Long]("nCf") > 0)
      assert(row.getAs[Double]("validity") === 1.0)
  }

  test("parMap runs bodies concurrently and preserves order/results") {
    // genuine concurrency proof: each body blocks on a latch that only
    // opens once BOTH bodies have started — the pool must be running ≥2
    // explanations at once or this deadlocks (bounded by the timeout)
    val latch = new java.util.concurrent.CountDownLatch(2)
    val got = EvalDriver.parMap(Seq(1, 2), parallelism = 2, spark) { i =>
      latch.countDown()
      assert(latch.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "second body never started — no concurrency")
      i * 10
    }
    assert(got === Seq(10, 20))
  }

  test("parallel eval produces identical outputs to the sequential loop") {
    val pairs = Seq((0L, 0L, 1), (1L, 2L, 0), (0L, 2L, 0))
      .toDF("ltable_id", "rtable_id", "label")
    def run(par: Int): Seq[String] = {
      val out = java.nio.file.Files.createTempDirectory(s"evalpar$par").toString
      EvalDriver.evalCf(lsource, rsource, pairs, TokenCosineModel(), out,
          numTriangles = 4, maxRows = 3, parallelism = par)
        .drop("latencySec") // wall clock is the one legitimately varying column
        .collect().map(_.toString).toSeq
    }
    assert(run(1) === run(3))
  }

  test("batch-prekeyed blocked eval matches per-call blocking, pins nothing") {
    import graft.candidates.{CandidateGenerator, LshBlockingGenerator}
    // prekeyed frames match by reference identity — bind the sources
    // once and hand the SAME frames to forBatch and the driver
    val (l, r) = (lsource, rsource)
    val pairs = Seq((0L, 0L, 1), (1L, 2L, 0)).toDF("ltable_id", "rtable_id", "label")
    def run(gen: CandidateGenerator): Seq[String] = {
      val out = java.nio.file.Files.createTempDirectory("evalblk").toString
      EvalDriver.evalCf(l, r, pairs, TokenCosineModel(), out,
          numTriangles = 4, maxRows = 2, candidateGen = gen)
        .drop("latencySec").collect().map(_.toString).toSeq
    }
    val perCall = run(LshBlockingGenerator())
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val batch = LshBlockingGenerator.forBatch(Seq(l, r))
    val amortized = try run(batch.generator) finally batch.close()
    assert(amortized === perCall)
    // close() released the band-keyed caches — the batch leaves the
    // block manager as it found it
    assert(spark.sparkContext.getPersistentRDDs.keySet === before)
  }

  leakGatedTest("AutoSelect picks cross for one cheap call, prekeyed for a batch") {
    import graft.candidates.{AutoSelect, CandidateGenerator, CrossJoinGenerator}
    // the selection logic itself (the trade measured in SURVEY.md
    // round 5 ScaleSmoke);
    // gate disabled so the fixture-sized sources exercise it
    val single = CandidateGenerator.auto(Seq(lsource, rsource), 1,
      costlyScorer = false, minCorpusForBlocking = 0)
    assert(!single.isPrekeyed && (single.generator eq CrossJoinGenerator))
    single.close() // no-op for the cross path
    val batch = CandidateGenerator.auto(Seq(lsource, rsource), 2,
      costlyScorer = false, minCorpusForBlocking = 0)
    try assert(batch.isPrekeyed) finally batch.close()
    val costly = CandidateGenerator.auto(Seq(lsource, rsource), 1,
      costlyScorer = true, minCorpusForBlocking = 0)
    try assert(costly.isPrekeyed) finally costly.close()
    // the DEFAULT size gate: a corpus this small is never blocked —
    // the scan is cheap by definition and blocking's recall loss on a
    // handful of records can empty the support set (the MatcherSpec
    // MLP fixture would explain nothing)
    val gated = CandidateGenerator.auto(Seq(lsource, rsource), 8,
      costlyScorer = true)
    assert(!gated.isPrekeyed && (gated.generator eq CrossJoinGenerator))
    gated.close()
    // costlyScorer is carried by the model type
    assert(!TokenCosineModel().costlyScorer)
    assert(new graft.matcher.ExternalBatchScorer(
      () => batch2 => batch2.map(_ => 0.5)).costlyScorer)

    // end-to-end: AutoSelect through the driver produces outputs
    // identical to the manually-chosen generator for both regimes,
    // and leaves nothing pinned
    def run(gen: graft.candidates.CandidateGenerator,
        pairs: DataFrame, n: Int): Seq[String] = {
      val out = java.nio.file.Files.createTempDirectory("evalauto").toString
      EvalDriver.evalCf(lsource, rsource, pairs, TokenCosineModel(), out,
          numTriangles = 4, maxRows = n, candidateGen = gen)
        .drop("latencySec").collect().map(_.toString).toSeq
    }
    val one = Seq((0L, 0L, 1)).toDF("ltable_id", "rtable_id", "label")
    assert(run(AutoSelect, one, 1) === run(CrossJoinGenerator, one, 1))
    // on this under-gate fixture AutoSelect resolves to cross even for
    // a batch (the size gate above) — outputs must equal the cross loop
    val two = Seq((0L, 0L, 1), (1L, 2L, 0))
      .toDF("ltable_id", "rtable_id", "label")
    assert(run(AutoSelect, two, 2) === run(CrossJoinGenerator, two, 2))
    // the blocked regime end-to-end: gate disabled, prekeyed selection
    // resolved exactly as EvalDriver would at corpus scale; outputs
    // must match the per-call blocked generator's
    val sel = CandidateGenerator.auto(Seq(lsource, rsource), 2,
      costlyScorer = false, minCorpusForBlocking = 0)
    val autoBlocked = try run(sel.generator, two, 2) finally sel.close()
    val manual = graft.candidates.LshBlockingGenerator.forBatch(
      Seq(lsource, rsource))
    // NOTE: manual prekeyed matches frames by reference identity, and
    // lsource/rsource are defs — the selection re-keys internally, so
    // only output equality (not cache sharing) is asserted here
    val expected = try run(manual.generator, two, 2) finally manual.close()
    assert(autoBlocked === expected)
  }

  leakGatedTest("auto rejects blocking when the sampled recall census fails") {
    import graft.candidates.{CandidateGenerator, CrossJoinGenerator,
      LshBlockingGenerator}
    // 5000 two-token records: well above the size gate, but under the
    // shingle width the whole text is ONE shingle — the one-token-drop
    // near match shares no band, so banding would empty every support
    // set. The census must measure that and auto must fall back.
    val short = spark.range(5000).select(col("id"),
      concat(lit("ka"), col("id")).as("a"),
      concat(lit("kb"), col("id")).as("b"))
    val shortQ = LshBlockingGenerator.selfRecallCensus(short)
      .collect().head.getAs[Long]("pair_completeness_q")
    assert(shortQ < 100000000L) // < 10% of near matches survive
    val rejected = CandidateGenerator.auto(Seq(short, short), 8,
      costlyScorer = true)
    assert(!rejected.isPrekeyed && (rejected.generator eq CrossJoinGenerator))
    rejected.close()
    // same size, 11-token records: the dropped-token copy still shares
    // 8 of 9 shingles, bands collide, census passes, the cost logic's
    // blocking choice stands
    val long = spark.range(5000).select(col("id"),
      concat_ws(" ", lit("alpha"), concat(lit("w"), col("id")),
        lit("beta gamma delta epsilon zeta eta theta iota kappa")).as("a"))
    val longQ = LshBlockingGenerator.selfRecallCensus(long)
      .collect().head.getAs[Long]("pair_completeness_q")
    assert(longQ > 900000000L)
    val kept = CandidateGenerator.auto(Seq(long, long), 8,
      costlyScorer = true)
    try assert(kept.isPrekeyed) finally kept.close()
  }

  test("eval driver compare leg writes shapc/limec/dice CF sinks") {
    val out = java.nio.file.Files.createTempDirectory("evalcmp").toString
    // two pairs so the DiCE domain frame offers alternative values
    val pairs = Seq((0L, 0L, 1), (1L, 2L, 0)).toDF("ltable_id", "rtable_id", "label")
    EvalDriver.evalCf(lsource, rsource, pairs,
      TokenCosineModel(), out, numTriangles = 4, maxRows = 1,
      compareBaselines = true)
    def wrote(prefix: String): Boolean =
      new java.io.File(out).listFiles().exists(_.getName.startsWith(prefix))
    // the matched (0,0) pair flips under blanking → SHAP-C/LIME-C find
    // counterfactuals; DiCE finds flips from the domain values
    assert(wrote("shapc_0_0"))
    assert(wrote("limec_0_0"))
    assert(wrote("dice_random_0_0"))
  }

  test("saliency eval driver emits long-form scores for all methods") {
    val out = java.nio.file.Files.createTempDirectory("evalsal").toString
    val pairs = Seq((0L, 0L, 1)).toDF("ltable_id", "rtable_id", "label")
    val df = EvalDriver.evalSaliency(lsource, rsource, pairs,
      TokenCosineModel(), out, numTriangles = 4, maxRows = 1)
    val methods = df.select("method").distinct()
      .collect().map(_.getString(0)).toSet
    assert(methods.contains("mojito") && methods.contains("landmark") &&
      methods.contains("shap"))
    assert(df.filter(org.apache.spark.sql.functions.col("latency_sec") <= 0).count() === 0)
  }
}
