package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.metrics.{CfMetrics, SaliencyMetrics}
import graft.multimodal.Multimodal
import graft.similarity.Ann
import graft.text.TextAnalysis

/** Pipeline-operator specs: dedup families, ANN, text analysis,
  * multimodal plumbing, metrics — on literal fixtures with
  * hand-computable expectations.
  */
class PipelineSpec extends SparkSpec {

  import spark.implicits._

  private def docs: DataFrame = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "en", "a"),
    (1L, "the quick brown fox jumps over the lazy dog", "en", "a"), // exact dup of 0
    (2L, "dog lazy the over jumps fox brown quick the", "en", "b"), // reordering of 0
    (3L, "el rapido zorro marron salta por el perro", "es", "b"),
    (4L, "completely different words here today folks", "en", "c"),
    (5L, "the quick brown fox jumps over the lazy cat", "en", "c")  // near-dup of 0
  ).toDF("doc_id", "text", "lang", "source")

  test("profile: exact stats are right; HLL twin tracks them; one scan each") {
    import graft.operators.Profile
    val withNull = docs.unionByName(
      Seq((6L, null.asInstanceOf[String], "en", "a"))
        .toDF("doc_id", "text", "lang", "source"))
    val ex = Profile.exact(withNull, "doc_id", "lang", "text")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(ex("doc_id") === ((7L, 0L, 7L, "0")))
    assert(ex("lang") === ((7L, 0L, 2L, "en")))
    // one null text; two exact-identical texts collapse
    assert(ex("text")._2 === 1L)
    assert(ex("text")._3 === 5L)
    // HLL twin: same shape, counts within the configured rsd (small
    // cardinalities are exact in HLL++'s sparse mode)
    val sk = Profile.sketch(withNull, Seq("doc_id", "lang", "text"))
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(sk === ex.map { case (k, v) => k -> v._3 })
    // both paths are ONE scan of the input (AQE prints the initial plan
    // below the final one — count only the final)
    def scans(df: DataFrame): Int =
      "Scan ".r.findAllIn(df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head).length
    // (docs, not withNull: the union fixture is two local relations —
    // two scans by construction)
    assert(scans(Profile.exact(docs, "doc_id", "lang")) === 1)
    assert(scans(Profile.sketch(docs, Seq("doc_id", "lang"))) === 1)
  }

  test("capPerGroup keeps exactly the n hash-smallest rows per stratum") {
    import graft.operators.Sampling
    val capped = Sampling.capPerGroup(docs, Seq("source"), 1, "doc_id")
    // one row per source, and the winner is the hash-min of its group —
    // recompute the hash order driver-side to pin selection identity
    val bySource = docs.collect().map(r => (r.getString(3), r.getLong(0)))
      .groupBy(_._1)
    val expect = bySource.map { case (src, rows) =>
      src -> rows.map(_._2).minBy(id =>
        (java.security.MessageDigest.getInstance("MD5")
          .digest(s"$id#42".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString, id))
    }
    val got = capped.collect().map(r => (r.getString(3), r.getLong(0))).toMap
    assert(got === expect)
    // capping at group-size-or-more is the identity
    assert(Sampling.capPerGroup(docs, Seq("source"), 100, "doc_id").count()
      === docs.count())
  }

  test("exact dedup groups identical texts, keeps min-id survivor") {
    val surv = Dedup.exactSurvivors(docs, "text", "doc_id").collect()
    assert(surv.length === 5) // 6 docs, one exact pair
    val dup = surv.find(_.getAs[Long]("dup_count") == 2L).get
    assert(dup.getAs[Long]("doc_id") === 0L)
  }

  test("fingerprint clusters are order-insensitive") {
    val clusters = Dedup.fingerprintClusters(docs, "text", "doc_id").collect()
    // doc 2 is a token reordering of 0/1 → same fingerprint cluster of 3
    assert(clusters.map(_.getAs[Long]("cluster_size")).max === 3L)
  }

  test("shingles produce n-k+1 grams and degenerate gracefully") {
    val got = docs.filter($"doc_id" === 0)
      .select(Dedup.shingles(col("text"), 3).as("sh"))
      .head().getSeq[String](0)
    assert(got.length === 7) // 9 tokens → 7 3-grams
    assert(got.head === "the quick brown")
    val short = Seq((0L, "one two")).toDF("id", "text")
      .select(Dedup.shingles(col("text"), 3)).head().getSeq[String](0)
    assert(short === Seq("one two"))
  }

  test("minhash LSH finds the exact and near duplicates") {
    val pairs = Dedup.nearDuplicates(docs, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // exact dup always collides
    // jaccard(0,5) = 6/8 = 0.75 ≥ 0.5; may or may not LSH-collide but
    // exact pair must survive verification when it does
    val verified = Dedup.nearDuplicates(docs, "text", "doc_id", threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified === Set((0L, 1L)))
  }

  test("incremental near-dup == full replay restricted to the batch") {
    import spark.implicits._
    def doc(words: String*): String = words.mkString(" ")
    val base = "the quick brown fox jumps over the lazy dog again and again".split(" ")
    def variant(drop: Int): String =
      doc(base.zipWithIndex.filter(_._2 != drop).map(_._1).toIndexedSeq: _*)
    // history 0..9 (two of them near-dups of each other), batch
    // 100..109 with: an exact clone of a history doc, a near-dup of a
    // history doc, a batch-internal dup pair, and fresh docs
    val history = Seq(
      (0L, doc(base.toIndexedSeq: _*)), (1L, variant(3)), // near-dups
      (2L, "completely different text about spark catalyst planning"),
      (3L, "third unrelated document mentioning parquet column pruning"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, doc(base.toIndexedSeq: _*)),  // exact clone of doc 0
      (101L, variant(5)),                  // near-dup of doc 0
      (102L, "fresh batch document with novel content entirely its own"),
      (103L, "fresh batch document with novel content entirely its own"),
      (104L, "another genuinely new batch document nothing matches"))
      .toDF("doc_id", "text")
    val histR = Dedup.dropNearDuplicates(history, "text", "doc_id", 0.5)
    val histSurv = histR.survivors.cache()
    val inc = Dedup.incrementalNearDuplicates(histSurv, batch,
      "text", "doc_id", 0.5)
    val got = inc.survivors.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val full = Dedup.dropNearDuplicates(histSurv.unionByName(batch),
      "text", "doc_id", 0.5)
    val want = full.survivors.filter(col("doc_id") >= 100L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === want)
    // the contract bites: history collisions killed 100/101, the
    // batch-internal pair kept its min, fresh docs survived
    assert(!got.contains(100L) && !got.contains(101L))
    assert(got.contains(102L) && !got.contains(103L))
    assert(got.contains(104L))
    // prekeyed history (the amortization path) gives the same answer
    val keys = Dedup.lshBandKeys(histSurv, "text", "doc_id").cache()
    val inc2 = Dedup.incrementalNearDuplicates(histSurv, batch,
      "text", "doc_id", 0.5, historyKeys = Some(keys))
    assert(inc2.survivors.select("doc_id").collect()
      .map(_.getLong(0)).toSet === got)
    inc2.close(); keys.unpersist(); full.close(); inc.close()
    // dropNearDuplicatesFromKeys (the r12 one-sketch seam): identical
    // survivors AND losers to the single-pass surface
    val hKeys = Dedup.lshBandKeys(history, "text", "doc_id").cache()
    val viaKeys = Dedup.dropNearDuplicatesFromKeys(history, hKeys,
      "text", "doc_id", 0.5)
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(viaKeys.survivors) === ids(histR.survivors))
    assert(ids(viaKeys.losers) === ids(histR.losers))
    viaKeys.close(); hKeys.unpersist()
    histSurv.unpersist(); histR.close()
  }

  test("incremental near-dup probes without a broadcast above the session's broadcast threshold") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val drop = (i: Int) => base.split(" ").zipWithIndex.filter(_._2 != i).map(_._1).mkString(" ")
    val history = Seq((0L, base), (1L, drop(3)),
      (2L, "completely different text about spark catalyst planning"))
    val batch = Seq((100L, base), (101L, drop(5)),
      (102L, "fresh batch document with novel content entirely its own"),
      (103L, "fresh batch document with novel content entirely its own"),
      (104L, "another genuinely new batch document nothing matches"))
    // the loser ids and the number of broadcast-exchange jobs of one run
    // (this thread's jobs only: other suites share the context)
    def run(s: org.apache.spark.sql.SparkSession): (Set[Long], Int) = {
      val (losers, window) = Trace.window(s) {
        val r = Dedup.incrementalNearDuplicates(
          s.createDataFrame(history).toDF("doc_id", "text"),
          s.createDataFrame(batch).toDF("doc_id", "text"), "text", "doc_id", 0.5)
        try r.losers.collect().map(_.getLong(0)).toSet
        finally r.close()
      }
      assert(window.flushed)
      (losers, window.jobs.count(_.properties.get("spark.job.tags")
        .exists(_.contains("broadcast exchange"))))
    }
    val (broadcastLosers, broadcastJobs) = run(spark)
    assert(broadcastJobs > 0) // the batch keys fit: the probe broadcasts them
    // a session whose broadcast threshold every batch key frame exceeds
    // plans no broadcast at all (the probe hint is the only explicit one
    // on this path) and finds the same losers through the shuffle join
    val tight = spark.newSession()
    tight.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    val (shuffleLosers, shuffleBroadcastJobs) = run(tight)
    assert(shuffleBroadcastJobs === 0)
    assert(shuffleLosers === broadcastLosers)
    assert(broadcastLosers === Set(100L, 101L, 103L))
  }

  test("incremental semantic dedup == full replay restricted to the batch") {
    import spark.implicits._
    import graft.similarity.SemDedup
    val rnd = new scala.util.Random(11)
    def vec(): Seq[Float] = Seq.fill(8)(rnd.nextFloat() * 2 - 1)
    def jitter(v: Seq[Float]): Seq[Float] = v.map(x => x + 0.001f)
    val h0 = vec(); val h1 = vec()
    // history 0..4 (1 a clone of 0), batch 100..104 with a clone of a
    // history vector, a batch-internal clone pair, and fresh vectors
    val history = Seq((0L, h0), (1L, jitter(h0)), (2L, h1),
      (3L, vec()), (4L, vec())).toDF("vec_id", "embedding")
    val b0 = vec()
    val batch = Seq((100L, jitter(h1)), (101L, b0), (102L, jitter(b0)),
      (103L, vec()), (104L, vec())).toDF("vec_id", "embedding")
    val histR = SemDedup.dropEmbeddingNearDuplicates(history, "embedding",
      "vec_id", threshold = 0.99, numPlanes = 3, probeBits = 1)
    val histSurv = histR.survivors.cache()
    val inc = SemDedup.incrementalEmbeddingNearDuplicates(histSurv, batch,
      "embedding", "vec_id", threshold = 0.99, numPlanes = 3, probeBits = 1)
    val got = inc.survivors.select("vec_id").collect()
      .map(_.getLong(0)).toSet
    val full = SemDedup.dropEmbeddingNearDuplicates(
      histSurv.unionByName(batch), "embedding", "vec_id",
      threshold = 0.99, numPlanes = 3, probeBits = 1)
    val want = full.survivors.filter(col("vec_id") >= 100L)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got === want)
    // the contract bites: 100 died to history, 102 to its batch twin
    assert(!got.contains(100L))
    assert(got.contains(101L) && !got.contains(102L))
    assert(got.contains(103L) && got.contains(104L))
    full.close(); inc.close(); histSurv.unpersist(); histR.close()
  }

  test("first-arrival rule keeps history stable under interleaved ids") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val history = Seq((1L, base)).toDF("doc_id", "text")
    val batch = Seq(
      (0L, base), // exact clone of history doc 1 — but with a SMALLER id
      (2L, "completely different text about catalyst plan optimization"),
      (4L, "completely different text about catalyst plan optimization"))
      .toDF("doc_id", "text")
    // min-id rule: batch doc 0 beats history doc 1 (0 < 1) — the
    // ordered-id contract does NOT hold for interleaved ids, so the
    // established corpus would churn
    val minId = Dedup.incrementalNearDuplicates(history, batch,
      "text", "doc_id", 0.7)
    val gotMin = minId.survivors.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(gotMin.contains(0L))
    minId.close()
    // first-arrival: the history doc wins regardless of id; the
    // batch-only clone pair keeps its min
    val fa = Dedup.incrementalNearDuplicates(history, batch,
      "text", "doc_id", 0.7, historyWins = true)
    val gotFa = fa.survivors.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(gotFa === Set(2L))
    fa.close()
    // the ordering guard: enforceIdOrder turns the silent churn into a
    // loud failure naming the offending ids and the first-arrival fix
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDuplicates(history, batch,
        "text", "doc_id", 0.7, enforceIdOrder = true)
    }
    assert(e.getMessage.contains("min-id contract violated"))
    assert(e.getMessage.contains("historyWins"))
    // ordered ids pass the guard untouched
    val ok = Dedup.incrementalNearDuplicates(history,
      batch.filter(col("doc_id") > 1L), "text", "doc_id", 0.7,
      enforceIdOrder = true)
    assert(ok.survivors.count() === 1L) // 2 survives, clone 4 drops
    ok.close()
  }

  test("incremental dedup edge cases: empty batch survives; AutoProbe rejects string ids") {
    import spark.implicits._
    import graft.similarity.SemDedup
    val hist = Seq((0L, Seq(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")
    val empty = hist.filter(col("vec_id") < 0L)
    // the routine idle case for a maintenance op: nothing arrives,
    // nothing survives, nothing crashes
    val r = SemDedup.incrementalEmbeddingNearDuplicates(hist, empty,
      "embedding", "vec_id", threshold = 0.9, numPlanes = 2, probeBits = 0)
    try assert(r.survivors.count() === 0L) finally r.close()
    val histT = Seq((0L, "some history text here")).toDF("doc_id", "text")
    val r2 = graft.dedup.Dedup.incrementalNearDuplicates(histT,
      histT.filter(col("doc_id") < 0L), "text", "doc_id")
    try assert(r2.survivors.count() === 0L) finally r2.close()
    // the AutoProbe governor routes ids through the long-keyed TopK —
    // string ids must be rejected loudly, not silently curve to zero
    val strIds = Seq(("a", Seq(1.0f, 2.0f)), ("b", Seq(2.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      SemDedup.nearDuplicatePairs(strIds, "embedding", "vec_id", 0.9)
    }
    assert(e.getMessage.contains("integral id"))
    // pinned widths keep working for string ids
    assert(SemDedup.nearDuplicatePairs(strIds, "embedding", "vec_id",
      0.99, numPlanes = 2, probeBits = 0).count() === 0L)
  }

  test("decontamination: fraction rule spares quoters, catches embedders") {
    import spark.implicits._
    import graft.text.Decontaminate
    val benchText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val bench = Seq((900L, benchText)).toDF("doc_id", "text")
    val bg = Decontaminate.gramSet(bench, "text", 3).cache()
    // 8 distinct 3-grams in the benchmark doc
    assert(bg.count() === 8L)
    val train = Seq(
      // embeds half the benchmark: 4 of its 11 grams match (36.4%)
      (1L, "alpha beta gamma delta epsilon zeta own words following here six more tokens"),
      // quotes one phrase: 1 matching gram among many
      (2L, "totally unrelated text that happens to say alpha beta gamma once in passing somewhere"),
      (3L, "nothing shared at all with the benchmark document body"))
      .toDF("doc_id", "text")
    val census = Decontaminate.overlapCensus(train, "text", "doc_id", bg, 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(census.keySet === Set(1L, 2L)) // doc 3 has no hits
    assert(census(1L)._2 === 4L)
    assert(census(2L)._2 === 1L)
    // 10% threshold: the embedder dies, the quoter survives —
    // while the ANY rule would kill both
    val kept = Decontaminate.dropContaminated(train, "text", "doc_id",
        bg, 3, minFracQ = 100000000L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 3L))
    val anyRule = Decontaminate.contaminatedAnyShared(train, "text",
        "doc_id", bg, 3)
      .collect().map(_.getLong(0)).toSet
    assert(anyRule === Set(1L, 2L))
    // quantization boundary is exact: doc 1 overlap = 4/11
    assert(census(1L)._1 === 11L)
    assert(census(1L)._3 === math.floor(4.0 / 11.0 * 1e9).toLong)
    bg.unpersist()
  }

  test("decontamination: a doc EXACTLY at minFracQ drops; one quantum below survives") {
    import spark.implicits._
    import graft.text.Decontaminate
    val bench = Seq((900L, "alpha beta gamma")).toDF("doc_id", "text")
    val bg = Decontaminate.gramSet(bench, "text", 3) // one gram
    val train = Seq(
      // 2 distinct grams, 1 matched → overlap_q = 500000000 exactly
      (1L, "alpha beta gamma delta"),
      // 3 distinct grams, 1 matched → floor(1e9/3) = 333333333
      (2L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val census = Decontaminate.overlapCensus(train, "text", "doc_id", bg, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(census === Map(1L -> 500000000L, 2L -> 333333333L))
    // threshold AT the quantized value: the >= compare includes it
    def kept(minFracQ: Long): Set[Long] =
      Decontaminate.dropContaminated(train, "text", "doc_id", bg, 3,
        minFracQ).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept(500000000L) === Set(2L)) // doc 1 exactly at 50% → drops
    assert(kept(500000001L) === Set(1L, 2L)) // one quantum above → survives
    assert(kept(333333333L) === Set.empty) // doc 2 exactly at floor(1/3)
    assert(kept(333333334L) === Set(2L))
  }

  test("bloom decontamination: output identical to the exact census; " +
      "sketch prunes; empty benchmark yields empty census") {
    import graft.text.Decontaminate
    val benchText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val bench = Seq((900L, benchText)).toDF("doc_id", "text")
    val bg = Decontaminate.gramSet(bench, "text", 3).cache()
    // a train corpus where most grams DON'T match — the production
    // shape the prefilter exists for
    val train = (1L to 40L).map { i =>
      val filler = (0 until 12).map(j => s"w${i}_$j").mkString(" ")
      if (i % 10 == 0) s"alpha beta gamma delta epsilon $filler" else filler
    }.zip(1L to 40L).map { case (t, i) => (i, t) }.toDF("doc_id", "text")
    def rows(df: DataFrame): Set[(Long, Long, Long, Long)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val exact = rows(Decontaminate.overlapCensus(train, "text", "doc_id", bg, 3))
    val bloom = rows(Decontaminate.overlapCensusBloom(train, "text",
      "doc_id", bg, 3, expectedItems = 64L))
    assert(bloom === exact)
    assert(exact.map(_._1) === Set(10L, 20L, 30L, 40L)) // the planted hits
    // survivors identical through both drop paths, at a threshold that
    // actually fires on the planted docs
    val keptExact = Decontaminate.dropContaminated(train, "text", "doc_id",
      bg, 3, minFracQ = 100000000L).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val keptBloom = Decontaminate.dropContaminatedBloom(train, "text",
      "doc_id", bg, 3, minFracQ = 100000000L, expectedItems = 64L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptBloom === keptExact)
    assert(keptExact.size === 36) // the 4 embedders died
    // the sketch really prunes: probing the train corpus's distinct
    // grams directly, non-benchmark grams are (almost all) rejected
    // before any shuffle — deterministic for the fixed md5-fed xxhash
    // keys here
    val sketch = graft.dedup.IncrementalDedup.sketchOf(
      bg, xxhash64(col("g")), 64L, 1e-3)
    val trainGrams = train.select(explode(array_distinct(
      Dedup.shingles(col("text"), 3))).as("g")).distinct()
    val passed = trainGrams.filter(
      graft.dedup.IncrementalDedup.mightContain(sketch, xxhash64(col("g"))))
      .count()
    val total = trainGrams.count()
    val trueHits = trainGrams.join(bg, Seq("g"), "left_semi").count()
    assert(passed >= trueHits)       // no false negatives, ever
    assert(passed < total / 10)      // and the gate actually gates
    // the ANY rule through the gate: same ids as the exact form
    val anyExact = Decontaminate.contaminatedAnyShared(train, "text",
      "doc_id", bg, 3).collect().map(_.getLong(0)).toSet
    val anyBloom = Decontaminate.contaminatedAnySharedBloom(train, "text",
      "doc_id", bg, 3, expectedItems = 64L).collect().map(_.getLong(0)).toSet
    assert(anyBloom === anyExact)
    assert(anyExact === Set(10L, 20L, 30L, 40L))
    // empty benchmark: no sketch, empty census, everything survives
    val none = bg.filter(lit(false))
    assert(Decontaminate.overlapCensusBloom(train, "text", "doc_id",
      none, 3, expectedItems = 64L).count() === 0L)
    assert(Decontaminate.dropContaminatedBloom(train, "text", "doc_id",
      none, 3, minFracQ = 1L, expectedItems = 64L).count() === 40L)
    // the probe compiles into the scan stage as a codegen'd
    // might_contain filter (never a UDF barrier)
    val plan = Decontaminate.overlapCensusBloom(train, "text", "doc_id",
      bg, 3, expectedItems = 64L).queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"))
    bg.unpersist()
  }

  test("best-of-cluster dedup: highest score survives, ties to min id, " +
      "score -id reproduces the min-id election") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val corpus = Seq(
      (1L, base, "a"),
      (2L, base + " extra", "a"),   // near-dup of 1, longer → should win
      (3L, "something else entirely unrelated to the rest", "b"),
      (4L, base + " extra", "b"),   // exact dup of 2 → same length, id ties
      (5L, "unique little document", "c")
    ).toDF("doc_id", "text", "source")
      .withColumn("score", length(col("text")))
    // sanity: the cluster actually forms under the default band scheme
    val pairs = Dedup.nearDuplicates(corpus, "text", "doc_id", 0.7)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((2L, 4L)))
    assert(pairs.exists(p => p._1 == 1L || p._2 == 1L))
    val best = Dedup.dropNearDuplicatesBest(corpus, "text", "doc_id", "score")
    val kept = best.survivors.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    best.close()
    // cluster {1,2,4}: 2 and 4 tie on length, 2 wins on id; 1 (shorter) dies
    assert(kept === Set(2L, 3L, 5L))
    // min-id reference keeps 1 instead
    val minId = Dedup.dropNearDuplicates(corpus, "text", "doc_id")
    val keptMin = minId.survivors.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    minId.close()
    assert(keptMin === Set(1L, 3L, 5L))
    // the election with score = -id IS the min-id election — the two
    // surfaces agree exactly where they must
    val neg = Dedup.dropNearDuplicatesBest(
      corpus.withColumn("neg", -col("doc_id")), "text", "doc_id", "neg")
    val keptNeg = neg.survivors.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    neg.close()
    assert(keptNeg === keptMin)
  }

  test("winnowing: shared runs fingerprint together; guarantees coverage") {
    val fps = docs.select(col("doc_id"),
      Dedup.winnowFingerprints(col("text")).as("fps")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1)).toMap
    // exact dup pair → identical sketches; reordering → different grams
    assert(fps(0L) === fps(1L))
    assert(fps(0L) !== fps(2L))
    // doc 5 shares the 8-token prefix run with doc 0 → at least one
    // common fingerprint survives winnowing (the w+k-1 guarantee)
    assert(fps(0L).intersect(fps(5L)).nonEmpty)
    // sketch is sorted + distinct, and never larger than the gram count
    fps.values.foreach { s =>
      assert(s === s.sorted && s.distinct.length === s.length)
    }
    // short text (< k tokens) degenerates to one whole-text fingerprint
    val short = Seq((9L, "hi")).toDF("doc_id", "text")
    assert(short.select(Dedup.winnowFingerprints(col("text")))
      .head().getSeq[Long](0).length === 1)
  }

  test("salted join and salted aggregations equal their plain twins") {
    import graft.operators.Skew
    val e = Seq(
      (1L, "click", 1), (1L, "click", 2), (1L, "view", 3), (1L, "error", 4),
      (2L, "view", 5), (2L, "view", 6), (3L, "click", 7)
    ).toDF("user_id", "event_type", "event_id")
    val dim = Seq((1L, "gold"), (2L, "free")).toDF("user_id", "tier")

    val plainJoin = e.join(dim, Seq("user_id")).orderBy("event_id")
      .collect().toSeq
    val salted = Skew.saltedJoin(e, dim, Seq("user_id"), nSalts = 4)
      .select(plainJoin.headOption.map(_ => e.columns ++ Seq("tier"))
        .getOrElse(Array("user_id")).map(col).toIndexedSeq: _*)
      .orderBy("event_id").collect().toSeq
    assert(salted === plainJoin)
    // left join preserves unmatched skewed-side rows (user 3)
    assert(Skew.saltedJoin(e, dim, Seq("user_id"), 4, "left").count() === 7)

    val plainCounts = e.groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val saltedCounts = Skew.saltedCountByKey(e, Seq("user_id"), nSalts = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(saltedCounts === plainCounts)

    val sets = Skew.saltedCollectSet(e, Seq("user_id"), "event_type", nSalts = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sets(1L) === Seq("click", "error", "view")) // sorted merge
    assert(sets(2L) === Seq("view") && sets(3L) === Seq("click"))
    // the salt genuinely scatters: phase-1 groups exceed the key count
    val phase1 = e.withColumn("__salt",
      pmod(xxhash64(e.columns.map(col).toIndexedSeq: _*), lit(4L)))
      .select("user_id", "__salt").distinct().count()
    assert(phase1 > 3)
  }

  test("repetition signals: duplicate bigrams and top-token coverage") {
    val d = Seq(
      (0L, "a b a b a b a b"),        // heavy bigram repetition, top token a (4/8)
      (1L, "w x y z q r s t")         // all distinct
    ).toDF("doc_id", "text")
    val sig = TextAnalysis.withRepetitionSignals(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(sig(0L).getAs[Int]("n_bigrams") === 7)
    assert(sig(0L).getAs[Int]("n_distinct_bigrams") === 2) // "a b", "b a"
    assert(sig(0L).getAs[Int]("top_token_cnt") === 4)
    assert(sig(1L).getAs[Int]("n_distinct_bigrams") === 7)
    assert(sig(1L).getAs[Int]("top_token_cnt") === 1)
  }

  test("pii: counts and redaction for email/ip/phone patterns") {
    val d = Seq(
      (0L, "contact bob@example.com or admin@test.org at 10.0.0.1"),
      (1L, "call +1 555 123 4567 now"),
      (2L, "nothing sensitive here")
    ).toDF("doc_id", "text")
    val sig = TextAnalysis.withPiiSignals(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(sig(0L).getAs[Int]("n_emails") === 2)
    assert(sig(0L).getAs[Int]("n_ipv4") === 1)
    assert(sig(1L).getAs[Int]("n_phones") === 1)
    assert(sig(2L).getAs[Int]("n_emails") + sig(2L).getAs[Int]("n_ipv4") +
      sig(2L).getAs[Int]("n_phones") === 0)
    val red = d.select(TextAnalysis.redactPii(col("text"))).collect().map(_.getString(0))
    assert(red(0) === "contact <EMAIL> or <EMAIL> at <IP>")
    assert(red(1) === "call <PHONE> now")
    assert(red(2) === "nothing sensitive here")
  }

  test("mix sampling: deterministic, composable, rate-faithful") {
    import spark.implicits._
    val d = (0L until 1000L).map(i => (i, s"src${i % 2}")).toDF("doc_id", "source")
    val rates = Map("src0" -> 0.5, "src1" -> 0.1)
    val kept = TextAnalysis.mixSample(d, "source", "doc_id", rates)
    val again = TextAnalysis.mixSample(d, "source", "doc_id", rates)
    // deterministic: same rows both times
    assert(kept.collect().map(_.getLong(0)).sorted ===
      again.collect().map(_.getLong(0)).sorted)
    val bySrc = kept.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 500 candidates per stratum; md5-gate keeps ≈ rate within ~5σ
    assert(bySrc("src0") > 200 && bySrc("src0") < 300)
    assert(bySrc("src1") > 20 && bySrc("src1") < 90)
    // unlisted strata drop entirely
    val other = Seq((1L, "srcX")).toDF("doc_id", "source")
    assert(TextAnalysis.mixSample(other, "source", "doc_id", rates).count() === 0)
    // composable: 0.5-sample of the 0.5-sample == the 0.25-sample
    val quarter = TextAnalysis.mixSample(d, "source", "doc_id", Map("src0" -> 0.25))
      .collect().map(_.getLong(0)).sorted
    val halfOfHalf = TextAnalysis.mixSample(
      TextAnalysis.mixSample(d, "source", "doc_id", Map("src0" -> 0.5)),
      "source", "doc_id", Map("src0" -> 0.25))
      .collect().map(_.getLong(0)).sorted
    assert(halfOfHalf === quarter)
  }

  test("incremental dedup: bloom keeps no seen text, exact twin agrees") {
    import graft.dedup.IncrementalDedup
    val old = Seq((0L, "alpha beta"), (1L, "gamma delta")).toDF("doc_id", "text")
    val neu = Seq(
      (10L, "alpha beta"),   // seen — must be filtered by BOTH paths
      (11L, "epsilon zeta"), // new
      (12L, "gamma delta"),  // seen
      (13L, "eta theta")     // new
    ).toDF("doc_id", "text")
    val exact = IncrementalDedup.exactNewDocs(old, neu, "text")
      .collect().map(_.getAs[Long]("doc_id")).sorted
    assert(exact === Seq(11L, 13L))
    val bloom = IncrementalDedup.bloomNewDocs(old, neu, "text", 2L)
      .collect().map(_.getAs[Long]("doc_id")).sorted
    // no false negatives: bloom survivors ⊆ exact survivors; at this
    // size and fpp the sets are equal
    assert(bloom.forall(exact.contains))
    assert(bloom === Seq(11L, 13L))
    // even at an absurd fpp, a SEEN text never survives
    val sloppy = IncrementalDedup.bloomNewDocs(old, neu, "text", 2L, fpp = 0.5)
      .collect().map(_.getAs[Long]("doc_id"))
    assert(!sloppy.contains(10L) && !sloppy.contains(12L))
    // FPR magnitude: 1000 unseen probes at fpp=0.01 expect ~10 false
    // positives; losing >5% would mean the sketch is mis-sized
    val bigOld = (0 until 2000).map(i => (i.toLong, s"old text number $i"))
      .toDF("doc_id", "text")
    val bigNew = (0 until 1000).map(i => ((i + 10000).toLong, s"new text number $i"))
      .toDF("doc_id", "text")
    val survivors = IncrementalDedup
      .bloomNewDocs(bigOld, bigNew, "text", 2000L, fpp = 0.01).count()
    assert(survivors >= 950 && survivors <= 1000)
  }

  test("simhash: identical texts → distance 0; near-dups close, distinct far") {
    val sigs = docs.select($"doc_id", Dedup.simhash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) === sigs(1L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(0L), sigs(5L)) < ham(sigs(0L), sigs(3L)))
  }

  test("portable simhash: 60-bit, deterministic, same near-dup structure") {
    val sigs = docs.select($"doc_id", Dedup.simhashPortable(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sigs.values.foreach(s => assert(s >= 0L && s < (1L << 60)))
    assert(sigs(0L) === sigs(1L)) // exact dup → identical signature
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // near-dup (doc 5, one token changed) closer than a different language
    assert(ham(sigs(0L), sigs(5L)) < ham(sigs(0L), sigs(3L)))
    // portable near-dup scan agrees with the xxhash64 scan on exact dups
    val p = ReferenceTwins.simhashNearDuplicatesPortable(docs, "text", "doc_id",
      maxDistance = 0, prefixBits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p.contains((0L, 1L)))
  }

  test("pigeonhole simhash dedup is COMPLETE; prefix blocking provably is not") {
    // random 60-bit signature frame, brute-force ground truth
    val rnd = new scala.util.Random(31)
    val base = (0L until 120L).map(i => (i, rnd.nextLong() & ((1L << 60) - 1)))
    // plant near pairs the random cloud won't produce: clones of row 0
    // at Hamming 1/3/4 — 4 is OUTSIDE maxDistance 3 and must not appear
    val planted = Seq(
      (200L, base.head._2 ^ (1L << 59)),               // top-bit flip, d=1
      (201L, base.head._2 ^ ((1L << 59) | (1L << 30) | 1L)), // d=3
      (202L, base.head._2 ^ 0xFL))                     // d=4
    val sigs = (base ++ planted).toDF("doc_id", "sig")
    val got = Dedup.simhashNearDuplicatesComplete(sigs, "doc_id",
        maxDistance = 3, bits = 60)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2)))
    // exactly-once emission: no pair twice
    assert(got.map(_._1).distinct.length === got.length)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val all = (base ++ planted)
    val expected = (for {
      (ia, sa) <- all; (ib, sb) <- all
      if ia < ib && ham(sa, sb) <= 3
    } yield ((ia, ib), ham(sa, sb))).toSet
    assert(got.toSet === expected) // COMPLETE: every pair, none extra
    assert(expected.contains(((0L, 200L), 1)))
    assert(!got.map(_._1).contains((0L, 202L))) // d=4 excluded
    // the prefix heuristic misses the planted top-bit pair by
    // construction (they differ inside the 16-bit prefix window)
    val prefixGot = Dedup.simhashNearDuplicatesFromSigs(sigs, "doc_id",
        maxDistance = 3, prefixBits = 16, bits = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!prefixGot.contains((0L, 200L)))
    // block-UNION tables (Manku §3, the large-corpus key widening):
    // any numBlocks > d+1 must return the IDENTICAL pair set with
    // exactly-once emission — the semantic result is scheme-free
    Seq(5, 6, 8).foreach { nb =>
      val wide = Dedup.simhashNearDuplicatesComplete(sigs, "doc_id",
          maxDistance = 3, bits = 60, numBlocks = nb)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2)))
      assert(wide.map(_._1).distinct.length === wide.length, s"nb=$nb dup")
      assert(wide.toSet === expected, s"nb=$nb differs")
    }
    // maxDistance=0 over full-width 64-bit signatures: the (1L<<64)-1
    // mask pitfall — the raw signature must be the key, not a
    // degenerate single bucket
    val sigs64 = Seq((0L, -1L), (1L, -1L), (2L, 0x7FFFFFFFFFFFFFFFL))
      .toDF("doc_id", "sig")
    val exact64 = Dedup.simhashNearDuplicatesComplete(sigs64, "doc_id",
        maxDistance = 0, bits = 64, numBlocks = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(exact64.toSeq === Seq((0L, 1L)))
  }

  test("autoBlocks sizes the complete-scheme key width to the corpus") {
    // small corpora keep the minimal d+1 split (cheapest: 4 joins)
    assert(Dedup.autoBlocks(1000L, 3, 60) === 4)
    // the 15-bit key drowns at ~10^6+: wider unions get chosen
    assert(Dedup.autoBlocks(2_000_000L, 3, 60) > 4)
    // ... monotonically (never narrower for a bigger corpus)
    val seq = Seq(1e3, 1e5, 1e6, 1e8, 1e10).map(n =>
      Dedup.autoBlocks(n.toLong, 3, 60))
    assert(seq === seq.sorted)
    // capped at d+5 even for absurd counts, and always > d
    assert(Dedup.autoBlocks(Long.MaxValue, 3, 60) === 8)
    assert(Dedup.autoBlocks(0L, 0, 64) === 1)
  }

  test("candidate census counts exactly the pairs the complete join pays") {
    val rnd = new scala.util.Random(7)
    val sigsSeq = (0L until 90L).map(i =>
      (i, rnd.nextLong() & ((1L << 60) - 1))) ++
      Seq((200L, 0L), (201L, 0L), (202L, 1L)) // forced key collisions
    val sigs = sigsSeq.toDF("doc_id", "sig")
    Seq(4, 6).foreach { nb =>
      val got = Dedup.simhashCompleteCandidateCensus(sigs,
        maxDistance = 3, bits = 60, numBlocks = nb).head()
      // pure-Scala replay of the same layout arithmetic
      val widths = IndexedSeq.tabulate(nb)(i =>
        60 / nb + (if (i < 60 % nb) 1 else 0))
      val offsets = widths.scanLeft(0)(_ + _).init
      def block(sig: Long, i: Int): Long =
        (sig >>> offsets(i)) & ((1L << widths(i)) - 1L)
      val expected = (0 until nb).combinations(nb - 3).map { kept =>
        sigsSeq.groupBy { case (_, s) => kept.map(block(s, _)) }
          .values.map(g => g.size.toLong * (g.size - 1) / 2).sum
      }.sum
      assert(got.getLong(0) === sigsSeq.size.toLong)
      assert(got.getInt(1) === nb)
      assert(got.getLong(3) === expected, s"nb=$nb")
      // identical sigs collide in EVERY table
      assert(got.getLong(3) >= got.getInt(2).toLong)
    }
  }

  test("portable LSH bucket: literal md5 weights, groups identical vectors") {
    val embs = Seq(
      (0L, Seq(1.0f, 2.0f, 3.0f)),
      (1L, Seq(1.0f, 2.0f, 3.0f)),
      (2L, Seq(-5.0f, 1.0f, -2.0f))
    ).toDF("vec_id", "embedding")
    val buckets = embs.select($"vec_id",
        Ann.lshBucketPortable(col("embedding"), dim = 3).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(buckets(0L) === buckets(1L))
    // weight matrix itself is deterministic across calls
    assert(Ann.portablePlaneWeights(8, 3).toSeq.map(_.toSeq) ===
      Ann.portablePlaneWeights(8, 3).toSeq.map(_.toSeq))
  }

  test("ANN brute-force top-k ranks by exact cosine") {
    val embs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(-1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = Ann.bruteForceTopK(embs, "embedding", "vec_id",
      Seq(1.0f, 0.0f, 0.0f), k = 2, excludeId = Some(0L)).collect()
    assert(top.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(math.abs(top.head.getDouble(1) - 0.9 / math.sqrt(0.82)) < 1e-9)
  }

  test("int8 quantization: codes match the driver formula; error bounded") {
    val embs = Seq(
      (0L, Seq(1.0f, -0.5f, 0.25f)),
      (1L, Seq(0.0f, 0.0f, 0.0f)), // zero vector → all-zero codes
      (2L, Seq(-2.0f, 1.0f, 1.5f))
    ).toDF("vec_id", "embedding")
    val got = embs.select($"vec_id", Ann.int8Codes(col("embedding")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(got(0L) === Ann.int8CodesLocal(Seq(1.0f, -0.5f, 0.25f)))
    assert(got(0L) === Seq(127, -63, 32)) // -0.5→-63.5+0.5 floor; 0.25→32.25
    assert(got(1L) === Seq(0, 0, 0))
    assert(got(2L) === Seq(-127, 64, 95)) // 1.5·127/2=95.25
    // dequantized max error per dim ≤ scale/2 = max|x|/254
    got.foreach { case (id, codes) =>
      val v = Map(0L -> Seq(1.0f, -0.5f, 0.25f), 1L -> Seq(0f, 0f, 0f),
        2L -> Seq(-2.0f, 1.0f, 1.5f))(id)
      val mx = v.map(x => math.abs(x.toDouble)).foldLeft(0.0)(math.max)
      if (mx > 0) codes.zip(v).foreach { case (c, x) =>
        assert(math.abs(c * mx / 127.0 - x) <= mx / 254.0 + 1e-12)
      }
    }
  }

  test("int8 top-k tracks exact top-k on well-separated vectors") {
    val embs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f, 0.0f)),
      (2L, Seq(0.5f, 0.5f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f)),
      (4L, Seq(-1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val probe = Seq(1.0f, 0.0f, 0.0f)
    val exact = Ann.bruteForceTopK(embs, "embedding", "vec_id", probe,
      k = 3, excludeId = Some(0L)).collect().map(_.getLong(0)).toSeq
    val quant = Ann.int8TopK(embs, "embedding", "vec_id", probe,
      k = 3, excludeId = Some(0L)).collect()
    assert(quant.map(_.getLong(0)).toSeq === exact)
    // codes of id 1 are (127, 14, 0): qcos = 127·127 / (127·√16325)
    assert(math.abs(quant.head.getDouble(1) - 127.0 / math.sqrt(16325.0)) < 1e-12)
  }

  test("dupNgramFraction sees cross-doc sharing; broadcast twin identical") {
    // 9-token docs → five 5-grams each; docs 0/1 identical, doc 5 shares
    // its first four grams with them, docs 2/3/4 share none
    val r = TextAnalysis.dupNgramFraction(docs, "text", "doc_id",
        n = 5, minDocs = 2)
      .orderBy("doc_id").collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3))))
      .toMap
    assert(r(0L) === ((5L, 5L, 1.0)))
    assert(r(1L) === ((5L, 5L, 1.0)))
    assert(r(2L)._2 === 0L) // reordered tokens → different grams
    assert(r(4L) === ((2L, 0L, 0.0))) // 6 tokens → two 5-grams, unique
    assert(r(5L) === ((5L, 4L, 0.8)))
    val b = TextAnalysis.dupNgramFraction(docs, "text", "doc_id",
        n = 5, minDocs = 2, broadcastHot = true)
      .orderBy("doc_id").collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3))))
      .toMap
    assert(r === b)
  }

  leakGatedTest("leakage-safe split keeps each near-dup cluster whole; singletons gate on own id") {
    import graft.operators.Split
    val ids = (0L until 300L).toDF("doc_id")
    val edges = Seq((0L, 1L), (1L, 2L), (50L, 51L), (200L, 299L))
      .toDF("id_a", "id_b")
    val mapping = graft.dedup.Components.connectedComponents(edges)
    val out = Split.leakageSafeSplit(ids, mapping, "doc_id")
    // structural guarantee: one split per cluster key
    val torn = out.groupBy(col("split_key"))
      .agg(countDistinct(col("split")).as("n"))
      .filter(col("n") > 1).count()
    assert(torn === 0L)
    val by = out.collect().map(r2 => r2.getLong(0) -> r2.getString(2)).toMap
    assert(by(0L) === by(1L) && by(1L) === by(2L) && by(50L) === by(51L)
      && by(200L) === by(299L))
    // a singleton's split is exactly the direct gate on its own id
    val direct = ids.select(col("doc_id"),
        Split.splitOf(col("doc_id"), "split42").as("s"))
      .collect().map(r2 => r2.getLong(0) -> r2.getString(1)).toMap
    assert(by(7L) === direct(7L) && by(123L) === direct(123L))
    // all three splits populated at this size
    assert(out.select(col("split")).distinct().count() === 3L)
    // the components mapping is the one caller-owned cached frame
    mapping.unpersist(blocking = true)
  }

  test("training-order shards concatenate to the exact global hash order") {
    import graft.operators.Shard
    val d = (0L until 200L).toDF("doc_id")
    val out = Shard.trainingOrder(d, "doc_id", seed = 7L, nShards = 8)
      .select(col("shard"), col("order_key"), col("doc_id")).collect()
      .map(r2 => (r2.getInt(0), r2.getString(1), r2.getLong(2)))
    val concatenated = out.sortBy(x => (x._1, x._2)).map(_._3).toSeq
    val globalOrder = out.sortBy(_._2).map(_._3).toSeq
    assert(concatenated === globalOrder) // range sharding preserves prefix order
    // deterministic under any input layout
    val out2 = Shard.trainingOrder(d.repartition(13), "doc_id", 7L, 8)
      .select(col("shard"), col("order_key"), col("doc_id")).collect()
      .map(r2 => (r2.getInt(0), r2.getString(1), r2.getLong(2)))
    assert(out.sortBy(_._3).toSeq === out2.sortBy(_._3).toSeq)
  }

  test("target affinity ranks target-like docs above disjoint ones") {
    import graft.text.Importance
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta", true),
      (1L, "alpha beta gamma delta epsilon zeta", false), // = target text
      (2L, "alpha beta gamma other words here", false),   // partial overlap
      (3L, "nothing shared with anything else xx", false)
    ).toDF("doc_id", "text", "is_t")
    val r = Importance.targetAffinity(corpus, "text", "doc_id",
        col("is_t"), nBuckets = 64, n = 2)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r.keySet === Set(1L, 2L, 3L)) // target rows are never scored
    assert(r(1L)._1 === 5L) // 6 tokens → five bigrams
    assert(r(1L)._2 > r(2L)._2 && r(2L)._2 > r(3L)._2)
  }

  leakGatedTest("semantic dedup keeps min-id reps; handle releases its cache") {
    import graft.similarity.SemDedup
    val embs = Seq(
      (0L, Seq(1.0f, 2.0f, 3.0f)),
      (1L, Seq(1.0f, 2.0f, 3.0f)),   // exact dup of 0
      (2L, Seq(2.0f, 4.0f, 6.0f)),   // colinear with 0 → cosine 1
      (3L, Seq(-5.0f, 1.0f, -2.0f)),
      (4L, Seq(0.3f, -9.0f, 2.2f))
    ).toDF("vec_id", "embedding")
    // expected losers from the operator's OWN pair output (bucket
    // placement of near-but-not-identical vectors is plane-dependent)
    val pairs = SemDedup.nearDuplicatePairs(embs, "embedding", "vec_id", 0.95)
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(pairs.contains((0L, 1L))) // identical vectors always pair
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val rr = find(p); parent(x) = rr; rr }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val losers = parent.keys.filter(k => find(k) != k).toSet
    val result = SemDedup.dropEmbeddingNearDuplicates(
      embs, "embedding", "vec_id", threshold = 0.95)
    val kept = result.survivors.select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(kept === (0L to 4L).toSet -- losers)
    result.close()
  }

  test("upsampleByWeight: integer copies exact, zero drops, deterministic") {
    import graft.operators.Sampling
    val d = Seq((0L, "a"), (1L, "a"), (2L, "b"), (3L, "c"), (4L, "c"))
      .toDF("doc_id", "src")
    def run() = Sampling.upsampleByWeight(d, "src", "doc_id",
        Map("a" -> 3.0, "b" -> 0.0))
      .collect().map(r2 => (r2.getLong(0), r2.getString(1), r2.getInt(2)))
    val rows = run()
    // weight 3 → exactly copies 1..3 per doc
    assert(rows.filter(_._2 == "a").groupBy(_._1).values
      .forall(_.map(_._3).sorted.toSeq == Seq(1, 2, 3)))
    // weight 0 → stratum vanishes; absent strata pass through at 1×
    assert(!rows.exists(_._2 == "b"))
    assert(rows.filter(_._2 == "c").map(x => (x._1, x._3)).toSet
      === Set((3L, 1), (4L, 1)))
    assert(rows.toSeq === run().toSeq) // md5-gated, not rand()
  }

  test("quality funnel stages are monotone over the fixture corpus") {
    val r = graft.queries.PipelineQueries
      .q77QualityFunnel(spark, "/root/testdata/sf0.001").head()
    val vals = (0 until 5).map(r.getLong)
    assert(vals(0) > 0)
    assert(vals.zip(vals.tail).forall { case (a, b) => a >= b })
  }

  test("pipeline funnel: stages chain exactly and never add rows") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.queries.PipelineQueries
      .q196PipelineFunnel(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rows.map(_._2).toSeq === Seq("exact_dedup", "neardup_minhash",
      "semdedup", "gopher_quality", "decontaminate", "mix_sample", "pack_512"))
    // stage N's input IS stage N-1's survivor set — the composition claim
    assert(rows.zip(rows.tail).forall { case (a, b) => a._4 == b._3 })
    // filter/dedup stages never add rows (pack emits chunks, exempt)
    assert(rows.init.forall { case (_, _, nIn, nOut) => nOut <= nIn })
    val nDocs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("text").isNotNull).count()
    assert(rows.head._3 === nDocs)
    assert(rows.last._4 > 0L)
  }

  test("semantic dedup bucket cap bounds a degenerate cell deterministically") {
    import graft.similarity.SemDedup
    // 40 identical vectors: one cell, C(40,2)=780 pairs uncapped
    val degen = (0L until 40L).map(i => (i, Seq(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val uncapped = SemDedup.nearDuplicatePairs(degen, "embedding", "vec_id", 0.9)
    assert(uncapped.count() === 780L)
    val capped = SemDedup.nearDuplicatePairs(degen, "embedding", "vec_id", 0.9,
      maxBucketSize = 10)
    val pairs = capped.collect().map(r2 => (r2.getLong(0), r2.getLong(1))).toSet
    assert(pairs.size === 45) // C(10,2), id-smallest survivors
    assert(pairs.flatMap(p => Set(p._1, p._2)) === (0L until 10L).toSet)
  }

  test("semantic dedup probeBits: monotone candidates, planes = brute force") {
    import graft.similarity.SemDedup
    val rnd = new scala.util.Random(29)
    // clustered corpus: 30 random anchors, each with a jittered twin —
    // some twins straddle a hyperplane, which is exactly what probing
    // must recover
    val embs = (0L until 30L).flatMap { i =>
      val a = Seq.fill(8)(rnd.nextFloat() * 2 - 1)
      Seq((i * 2, a), (i * 2 + 1, a.map(x => x + rnd.nextFloat() * 0.1f)))
    }.toDF("vec_id", "embedding")
    def pairsAt(p: Int): Set[(Long, Long)] =
      SemDedup.nearDuplicatePairs(embs, "embedding", "vec_id", 0.8,
          numPlanes = 4, probeBits = p)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p0 = pairsAt(0); val p1 = pairsAt(1); val p4 = pairsAt(4)
    assert(p0.subsetOf(p1) && p1.subsetOf(p4)) // nested Hamming balls
    // probeBits = planes probes every cell → exact brute-force pairs
    val brute = {
      val rows = embs.collect().map(r =>
        (r.getLong(0), r.getSeq[Float](1).map(_.toDouble)))
      def cos(a: Seq[Double], b: Seq[Double]): Double = {
        val d = a.zip(b).map { case (x, y) => x * y }.sum
        d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      }
      (for {
        (ia, ea) <- rows; (ib, eb) <- rows
        if ia < ib && cos(ea, eb) >= 0.8
      } yield (ia, ib)).toSet
    }
    assert(p4 === brute)
    assert(p4.size > p0.size) // the lever recovers straddling pairs here
  }

  leakGatedTest("incremental near-dup dedup: history drop, batch closure, null pass") {
    import graft.dedup.IncrementalDedup
    val textA = "the quick brown fox jumps over the lazy dog again"
    val textA2 = textA + " x"        // near-dup of A (shares most shingles)
    val far = "completely different words nobody repeats anywhere here"
    // batch 0: A survives, A2 drops within-batch (min id wins), far
    // survives, null survives
    val b0 = Seq((1L, textA), (2L, textA2), (3L, far))
      .toDF("doc_id", "text")
      .unionByName(Seq((4L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val hist0 = IncrementalDedup.emptyHistory(spark, "doc_id")
    val r0 = IncrementalDedup.nearDupNewDocs(hist0, b0, "text", "doc_id")
    val s0 = r0.survivors.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s0 === Set(1L, 3L, 4L))
    val h0 = r0.historyRows.cache()
    // state carries band keys + sig for non-null survivors only
    assert(h0.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet === Set(1L, 3L))
    // batch 1: a near-dup of A drops AGAINST HISTORY; a new text stays
    val b1 = Seq((10L, textA), (11L, "fresh tokens appear exactly once"))
      .toDF("doc_id", "text")
    val r1 = IncrementalDedup.nearDupNewDocs(h0, b1, "text", "doc_id")
    val s1 = r1.survivors.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 === Set(11L))
    h0.unpersist(true)
  }

  test("knowledge injection rewrites tokens by the reference's rules") {
    import graft.text.Knowledge
    val rows = Seq(
      // reference knowledge.py:92-100 number normalization
      "007" -> "7",
      "11.0" -> "11",
      "900.1" -> "900.10",
      ".5" -> "0.50",
      "-1.239" -> "-1.24",
      // knowledge.py:101-103 identifier tagging (len>=7 with a digit)
      "Brand#17" -> "ID Brand#17",
      "ab1" -> "ab1", // too short for ID
      // heuristic entity marker: ALL-CAPS >= 4 chars; COL/VAL unmarked
      "ECONOMY" -> "PRODUCT ECONOMY",
      "COL" -> "COL",
      "VAL" -> "VAL",
      "ring" -> "ring")
    val got = rows.map(_._1).toDF("t")
      .select(Knowledge.injectKnowledge(col("t")).as("dk"))
      .collect().map(_.getString(0)).toSeq
    assert(got === rows.map(_._2))
    // whole-string pass keeps token positions aligned
    val s = Seq("COL size VAL 11 COL price VAL 900.1").toDF("t")
      .select(Knowledge.injectKnowledge(col("t"))).head().getString(0)
    assert(s === "COL size VAL 11 COL price VAL 900.10")
  }

  leakGatedTest("perceptual aHash: formula-exact bits; dedup closure matches brute force") {
    import graft.multimodal.Multimodal
    val idSeq = (0L until 60L)
    val ids = idSeq.toDF("doc_id")
    val hashed = Multimodal.withAverageHash(
      Multimodal.synthesizeGroupedPngs(ids, "doc_id", groups = 4))
    val got = hashed.collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    // closed-form replay of the grouped pixel formula (the q191 oracle)
    def expected(id: Long): (Long, Long) = {
      val gid = id % 4
      val gray = for (y <- 0 until 8; x <- 0 until 8) yield {
        var r = (gid * 37 + (x / 2) * 53 + y * 29) % 256
        if (x == 0 && y == 0) r = (r + id % 5) % 256
        val g = (gid * 91 + (x / 2) * 17 + y * 43) % 256
        val b = (gid * 53 + (x / 2) * 11 + y * 7) % 256
        r + g + b
      }
      val total = gray.map(_.toLong).sum
      var hi = 0L; var lo = 0L
      gray.zipWithIndex.foreach { case (gv, i) =>
        if (gv.toLong * 64 > total) {
          if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
        }
      }
      (hi, lo)
    }
    idSeq.foreach(id => assert(got(id) === expected(id), s"id $id"))
    // exact (d=0) survivors: one per distinct hash, min id
    val d0 = Multimodal.perceptualDedup(hashed, "media_id", maxHamming = 0)
    val s0 = try d0.survivors.select("media_id").collect()
      .map(_.getLong(0)).toSet finally d0.close()
    val byHash = idSeq.groupBy(expected)
    assert(s0 === byHash.values.map(_.min).toSet)
    // d=1 closure vs a brute-force union-find over hash Hamming balls
    val d1 = Multimodal.perceptualDedup(hashed, "media_id", maxHamming = 1)
    val s1 = try d1.survivors.select("media_id").collect()
      .map(_.getLong(0)).toSet finally d1.close()
    val hs = byHash.keys.toSeq
    val parent = scala.collection.mutable.Map[(Long, Long), (Long, Long)]()
    def find(x: (Long, Long)): (Long, Long) = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    for (a <- hs; b <- hs if ham(a, b) == 1) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(if (ra.hashCode < rb.hashCode) rb else ra) =
        if (ra.hashCode < rb.hashCode) ra else rb
    }
    val expectedS1 = byHash.toSeq.groupBy { case (h, _) => find(h) }
      .values.map(_.flatMap(_._2).min).toSet
    assert(s1 === expectedS1)
    assert(s1.size <= s0.size) // wider ball never keeps more
    // the synthetic corpus collapses each group to ONE hash (no H1
    // edges), so drive the closure path directly with a hand-built
    // hash frame: A–B–C is a Hamming-1 CHAIN (A↔C is distance 2 —
    // only the component closure merges them); D is far from all
    val hand = Seq(
      (10L, 0L, 3L),              // A = ...0011
      (11L, 0L, 3L),
      (12L, 0L, 7L),              // B = ...0111 (d1 from A)
      (13L, 0L, 15L),             // C = ...1111 (d1 from B, d2 from A)
      (14L, 1L << 20, 0L),        // D isolated
      (15L, 1L << 20, 0L)
    ).toDF("media_id", "ahash_hi", "ahash_lo")
    val hd0 = Multimodal.perceptualDedup(hand, "media_id", maxHamming = 0)
    val hs0 = try hd0.survivors.select("media_id").collect()
      .map(_.getLong(0)).toSet finally hd0.close()
    assert(hs0 === Set(10L, 12L, 13L, 14L)) // min per distinct hash
    val hd1 = Multimodal.perceptualDedup(hand, "media_id", maxHamming = 1)
    val hs1 = try hd1.survivors.select("media_id").collect()
      .map(_.getLong(0)).toSet finally hd1.close()
    assert(hs1 === Set(10L, 14L)) // chain closed transitively; D alone
  }

  leakGatedTest("perceptual dedup at Hamming 2-3: pigeonhole blocks, completeness") {
    import graft.multimodal.Multimodal
    // hand-built hash frame planting pairs at every distance 0..4,
    // including a pair straddling the hi/lo half boundary and one
    // touching bit 63 (pixel 63 — the packed signature's sign bit)
    val rnd = new scala.util.Random(47)
    def rnd32() = rnd.nextLong() & 0xFFFFFFFFL
    val cloud = (0L until 60L).map(i => (i, rnd32(), rnd32()))
    val a = cloud.head
    val planted = Seq(
      (100L, a._2 ^ 3L, a._3),              // d=2, both flips in hi
      (101L, a._2 ^ 1L, a._3 ^ (1L << 31)), // d=2 straddling hi/lo
      (102L, a._2 ^ (1L << 31), a._3 ^ 3L), // d=3, bit 63 + two lo bits
      // d=4 from row 0 AND >3 from every other planted clone (0xF00
      // shares no flipped bits with them — a naive 0xF plant sits at
      // distance 2 from the ^3 clone and merges transitively)
      (103L, a._2 ^ 0xF00L, a._3))
    val rows = cloud ++ planted
    val df = rows.toDF("media_id", "ahash_hi", "ahash_lo")
    def ham(x: (Long, Long), y: (Long, Long)): Int =
      java.lang.Long.bitCount(x._1 ^ y._1) + java.lang.Long.bitCount(x._2 ^ y._2)
    for (d <- 2 to 3) {
      val r = Multimodal.perceptualDedup(df, "media_id", maxHamming = d)
      val got = try r.survivors.select("media_id").collect()
        .map(_.getLong(0)).toSet finally r.close()
      // brute-force union-find ground truth at the same radius
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val root = find(p); parent(x) = root; root }
      }
      for ((ia, ha, la) <- rows; (ib, hb, lb) <- rows
           if ia < ib && ham((ha, la), (hb, lb)) <= d) {
        val (ra, rb) = (find(ia), find(ib))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = rows.map(_._1).groupBy(find).values.map(_.min).toSet
      assert(got === expected, s"maxHamming=$d")
      assert(got.contains(0L) && !got.contains(100L) && !got.contains(101L),
        s"maxHamming=$d planted d<=2 clones must collapse into row 0")
      if (d == 3) assert(!got.contains(102L)) else assert(got.contains(102L))
      assert(got.contains(103L), "d=4 clone must survive every ball")
    }
  }

  test("video keyframe hash equals the plain-PNG aHash of frame 0") {
    import graft.multimodal.Multimodal
    val ids = Seq(0L, 3L, 7L, 11L, 42L).toDF("doc_id")
    // frame 0 of synthesizeVideos uses EXACTLY synthesizePngs' pixel
    // formula, so the keyframe hash must equal the image aHash —
    // container parse + first-frame decode verified against the
    // already-formula-pinned image path
    val fromVideo = Multimodal.withVideoKeyframeHash(
        Multimodal.synthesizeVideos(ids, "doc_id"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    val fromImage = Multimodal.withAverageHash(
        Multimodal.synthesizePngs(ids, "doc_id", w = 8, h = 8))
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(fromVideo === fromImage)
    // frame counts come from the container header, not decode
    val nf = Multimodal.withVideoKeyframeHash(
        Multimodal.synthesizeVideos(ids, "doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.collect().map(_.getLong(0)).foreach(id =>
      assert(nf(id) === 4 + id % 5, s"id $id"))
  }

  leakGatedTest("audio fingerprint equals the closed-form energy-delta bits") {
    import graft.multimodal.Multimodal
    val idSeq = Seq(0L, 1L, 6L, 13L, 2002L, 2003L)
    val ids = idSeq.toDF("doc_id")
    val got = Multimodal.withAudioFingerprint(
        Multimodal.synthesizeWavs(ids, "doc_id"), windowSamples = 16)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    def expected(id: Long): (Long, Long, Long) = {
      val n = (1000 + (id % 7) * 100).toInt
      val nW = (n + 15) / 16
      val e = new Array[Long](nW)
      (0 until n).foreach(i =>
        e(i / 16) += math.abs((id * 31 + i.toLong * 7) % 2003 - 1001))
      var hi = 0L; var lo = 0L
      var w = 0
      while (w < nW - 1 && w <= 62) {
        if (e(w + 1) > e(w)) {
          if (w < 32) lo |= 1L << w else hi |= 1L << (w - 32)
        }
        w += 1
      }
      (nW.toLong, hi, lo)
    }
    idSeq.foreach(id => assert(got(id) === expected(id), s"id $id"))
    // ids congruent mod 2003 with equal length share the SAME samples,
    // so their fingerprints must collide (0 and 2003 differ in length:
    // 0%7=0 vs 2003%7=1 — compare the shared prefix hash halves only
    // when lengths match; here use 6 vs none — so just pin identity)
    assert(got(0L) !== got(1L)) // different streams, different bits
    // and perceptualDedup composes on the audio fingerprint columns
    val fp = Multimodal.withAudioFingerprint(
      Multimodal.synthesizeWavs(ids, "doc_id"), windowSamples = 16)
    val r = Multimodal.perceptualDedup(fp, "media_id", maxHamming = 0)
    val surv = try r.survivors.count() finally r.close()
    assert(surv === idSeq.map(id => expected(id) match {
      case (_, hi, lo) => (hi, lo) }).distinct.size)
  }

  test("image decode→embedding equals the closed-form pixel sums") {
    import graft.multimodal.Multimodal
    // the identity q104's oracle rests on: PNG-encode → real javax
    // decode → column-group sums == direct arithmetic on the formula
    val ids = Seq(0L, 3L, 16L, 19L, 37L).toDF("doc_id")
    val emb = Multimodal.decodeImageEmbedding(
        Multimodal.synthesizeGroupedPngs(ids, "doc_id"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def expected(id: Long): Seq[Float] = {
      val gid = id % 16
      val sums = Array.ofDim[Long](12)
      for (y <- 0 until 8; x <- 0 until 8) {
        var r = (gid * 37 + (x / 2) * 53 + y * 29) % 256
        if (x == 0 && y == 0) r = (r + id % 5) % 256
        val g = (gid * 91 + (x / 2) * 17 + y * 43) % 256
        val b = (gid * 53 + (x / 2) * 11 + y * 7) % 256
        sums(x / 2) += r; sums(4 + x / 2) += g; sums(8 + x / 2) += b
      }
      sums.map(_.toFloat).toSeq
    }
    Seq(0L, 3L, 16L, 19L, 37L).foreach(id =>
      assert(emb(id) === expected(id), s"id $id"))
    // same group (0 and 16) must be near-identical, not equal
    // (0 % 5 != 16 % 5 nudges one pixel); different groups far apart
    assert(emb(0L) !== emb(16L))
    val e0 = emb(0L).map(_.toDouble); val e16 = emb(16L).map(_.toDouble)
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    assert(cos(e0, e16) > 0.999)
    assert(cos(e0, emb(3L).map(_.toDouble)) < 0.999)
  }

  test("semantic dedup auto-sizes cells to corpus density by default") {
    import graft.similarity.SemDedup
    // the density rule: mean cell ~128 vectors, clamped to [4, 28]
    assert(SemDedup.autoPlanes(0L) === 4)
    assert(SemDedup.autoPlanes(1000L) === 4)       // small corpus → floor
    assert(SemDedup.autoPlanes(128L * 1024) === 10)
    // 64× growth adds exactly log2(64) = 6 planes — per-cell pair work
    // stays constant (measured, SURVEY.md round 6 ScaleSmoke
    // semantic-dedup leg)
    assert(SemDedup.autoPlanes(128L * 1024 * 64) ===
      SemDedup.autoPlanes(128L * 1024) + 6)
    assert(SemDedup.autoPlanes(Long.MaxValue) === 28) // ceiling
    // the default resolves planes from the corpus, and stays
    // pair-complete on identical vectors whatever the plane count
    val embs = (0L until 6L).map(i => (i, Seq(1.0f, 0.5f, -1.0f)))
      .toDF("vec_id", "embedding")
    val n = SemDedup.nearDuplicatePairs(embs, "embedding", "vec_id", 0.99)
      .count()
    assert(n === 15L) // C(6,2): identical vectors share a cell always
  }

  test("zValue interleaves bits; every z-bucket bounds BOTH dimensions") {
    import graft.operators.ZOrder
    // a=3 (011), b=5 (101), 3 bits: positions a→{1,3}, b→{0,4} = 27
    val hand = Seq((3L, 5L)).toDF("a", "b")
      .select(ZOrder.zValue(col("a"), col("b"), 3)).head().getLong(0)
    assert(hand === 27L)
    // uniform 64×64 grid, 6-bit z, top-4-bit buckets: every bucket
    // confines both dims to a 16-wide band — the skipping property
    val grid = spark.range(64L * 64L)
      .select((col("id") / 64L).cast("long").as("a"),
        (col("id") % 64L).as("b"))
    val cells = grid
      .select(col("a"), col("b"),
        org.apache.spark.sql.functions.shiftright(
          ZOrder.zValue(col("a"), col("b"), 6), 8).as("zb"))
      .groupBy(col("zb"))
      .agg(max(col("a")) - min(col("a")), max(col("b")) - min(col("b")))
      .collect()
    assert(cells.length === 16)
    assert(cells.forall(r2 => r2.getLong(1) <= 15L && r2.getLong(2) <= 15L))
  }

  test("count-min: estimates dominate exact counts; sketches merge bucket-wise") {
    import graft.operators.CountMin
    def tk(d: DataFrame) =
      d.select(explode(TextAnalysis.tokens(col("text"))).as("token"))
    val toks = tk(docs)
    // width 16 forces collisions — domination must hold regardless
    val exact = toks.groupBy(col("token")).agg(count(lit(1)).as("exact"))
    val est = CountMin.estimate(
      CountMin.sketch(toks, "token", depth = 4, width = 16),
      exact.select(col("token")), "token", depth = 4, width = 16)
    val j = est.join(exact, "token").collect()
    assert(j.nonEmpty)
    assert(j.forall(r2 => r2.getLong(1) >= r2.getLong(2)))
    // merge rule: sketch(A ⊎ B) == bucket-wise sum of the halves
    def rows(d: DataFrame) = d.collect()
      .map(r2 => (r2.getInt(0), r2.getLong(1), r2.getLong(2))).toSet
    val merged = CountMin.sketch(tk(docs.filter(col("doc_id") < 3)),
        "token", 4, 16)
      .unionByName(CountMin.sketch(tk(docs.filter(col("doc_id") >= 3)),
        "token", 4, 16))
      .groupBy(col("r"), col("bucket")).agg(sum(col("cnt")).as("cnt"))
    assert(rows(merged) === rows(CountMin.sketch(toks, "token", 4, 16)))
  }

  test("drift census terms are non-negative, finite, and bucket-complete") {
    val rows = graft.queries.PipelineQueries
      .q81DriftCensus(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r2 =>
      val t = r2.getDouble(3); t >= 0.0 && !t.isNaN && !t.isInfinite
    })
    // census covers every token of both sides: bucket counts reconcile
    assert(rows.map(_.getLong(1)).sum > 0 && rows.map(_.getLong(2)).sum > 0)
  }

  test("knn join: salted two-phase equals the flat per-probe top-k exactly") {
    val rnd = new scala.util.Random(11)
    val embs = Seq.tabulate(80)(i =>
      (i.toLong, Seq.fill(8)(rnd.nextFloat() * 2f - 1f))).toDF("vec_id", "embedding")
    val probes = embs.filter(col("vec_id") < 4)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val twoPhase = Ann.knnJoin(embs, "embedding", "vec_id", probes,
        "probe_id", "embedding", k = 5, nSalts = 16)
      .collect().map(r2 =>
        (r2.getLong(0), r2.getInt(1), r2.getLong(2), r2.getDouble(3))).toSet
    // flat reference: single window, no salting
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    val flat = embs.crossJoin(broadcast(probes
        .select(col("probe_id"), col("embedding").as("pemb"))))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        Ann.cosine(col("embedding"), col("pemb")).as("cosine"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .collect().map(r2 =>
        (r2.getLong(0), r2.getInt(3), r2.getLong(1), r2.getDouble(2))).toSet
    assert(twoPhase === flat)
    assert(twoPhase.size === 4 * 5)
  }

  test("knn join: null and dimension-mismatched embeddings rank no neighbour") {
    val rnd = new scala.util.Random(5)
    val good = Seq.tabulate(12)(i => (i.toLong, Seq.fill(4)(rnd.nextFloat() * 2f - 1f)))
    val embs = (good ++ Seq((100L, null), (101L, Seq(1f, 2f)))).toDF("vec_id", "embedding")
    val probes = embs.filter(col("vec_id") < 3 || col("vec_id") >= 100)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    def knn(corpus: DataFrame) = Ann.knnJoin(corpus, "embedding", "vec_id", probes,
        "probe_id", "embedding", k = 3)
      .collect().map(r2 => (r2.getLong(0), r2.getInt(1), r2.getLong(2), r2.getDouble(3))).toSet
    val got = knn(embs)
    // the malformed rows neither rank as neighbours nor get any as probes
    assert(got === knn(embs.filter(col("vec_id") < 100)))
    assert(got.map(_._1) === Set(0L, 1L, 2L) && got.size === 3 * 3)
  }

  test("knnGraph: cell-local edges equal brute force when cells are lossless") {
    // positive scalings of one direction share every hyperplane sign →
    // one family per LSH cell, so the bucketed graph loses nothing and
    // must equal the brute-force per-node top-k within each family
    val u = Seq(0.5f, -0.25f, 0.125f, 0.5f, -0.5f, 0.25f, -0.125f, 0.0625f)
    val embs = (0L until 6L).map { i =>
      val sign = if (i < 3) 1f else -1f
      (i, u.map(x => x * sign * (1 << (i % 3).toInt).toFloat))
    }.toDF("vec_id", "embedding")
    val got = Ann.knnGraph(embs, "embedding", "vec_id", k = 2, numPlanes = 1,
        probeBits = 0) // pinned: the assertion is cell-LOCAL equality
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    // flat reference over the SAME family structure with the SAME
    // cosine expression (identical doubles → identical tie behavior)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("cosine").desc, col("dst").asc)
    val a = embs.select(col("vec_id").as("src"), col("embedding").as("ea"))
    val b = embs.select(col("vec_id").as("dst"), col("embedding").as("eb"))
    val flat = a.join(b,
        (col("src") < 3) === (col("dst") < 3) && col("src") =!= col("dst"))
      .select(col("src"), col("dst"), Ann.cosine(col("ea"), col("eb")).as("cosine"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 2)
      .collect().map(r =>
        (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2))).toSet
    assert(got === flat)
    assert(got.map(_._1) === (0L until 6L).toSet) // every node has edges

    // probeBits = planes probes EVERY cell → exact global brute force,
    // across the family boundary single-probe cannot cross
    val full = Ann.knnGraph(embs, "embedding", "vec_id", k = 2,
        numPlanes = 1, probeBits = 1)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val flatAll = a.join(b, col("src") =!= col("dst"))
      .select(col("src"), col("dst"), Ann.cosine(col("ea"), col("eb")).as("cosine"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 2)
      .collect().map(r =>
        (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2))).toSet
    assert(full === flatAll)
    // a negative probe radius (other than the AutoProbe sentinel)
    // must fail loudly, not return an empty graph that downstream
    // PageRank would happily consume
    assertThrows[IllegalArgumentException](
      Ann.knnGraph(embs, "embedding", "vec_id", k = 1, probeBits = -2))
  }

  test("knnGraph/semdedup DEFAULT consults the autoProbe recall governor") {
    // clustered corpus whose twins straddle hyperplanes: single-probe
    // recall misses the target, so the governed default must pick a
    // width >= 1 and return MORE than the probeBits=0 edge set — the
    // q144 13% finding can no longer ship silently
    val rnd = new scala.util.Random(83)
    val embs = (0L until 40L).flatMap { i =>
      val a = Seq.fill(8)(rnd.nextFloat() * 2 - 1)
      Seq((i * 2, a), (i * 2 + 1, a.map(x => x + rnd.nextFloat() * 0.05f)))
    }.toDF("vec_id", "embedding")
    val (chosen, curve) = Ann.autoProbe(embs, "embedding", "vec_id", k = 2,
      Ann.sampleGate("vec_id", 80L, 200), targetRecallPct = 80L,
      numPlanes = 4)
    assert(chosen >= 1, curve.collect().mkString(";"))
    def edges(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val defaulted = edges(Ann.knnGraph(embs, "embedding", "vec_id", k = 2,
      numPlanes = 4))
    val pinned0 = edges(Ann.knnGraph(embs, "embedding", "vec_id", k = 2,
      numPlanes = 4, probeBits = 0))
    val pinnedChosen = edges(Ann.knnGraph(embs, "embedding", "vec_id", k = 2,
      numPlanes = 4, probeBits = chosen))
    assert(defaulted === pinnedChosen) // the default IS the governed width
    assert(defaulted !== pinned0)      // and not the silent single-probe
    // same contract on the semantic-dedup pair surface
    import graft.similarity.SemDedup
    def pairs(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sdDefault = pairs(SemDedup.nearDuplicatePairs(
      embs, "embedding", "vec_id", 0.9, numPlanes = 4))
    val sd0 = pairs(SemDedup.nearDuplicatePairs(
      embs, "embedding", "vec_id", 0.9, numPlanes = 4, probeBits = 0))
    assert(sd0.subsetOf(sdDefault) && sdDefault.size > sd0.size)
  }

  test("fused int8 scoring expression matches the declarative twin bit-for-bit") {
    val rnd = new scala.util.Random(19)
    val embs = Seq.tabulate(50)(i =>
      (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2f - 1f))).toDF("vec_id", "embedding")
    val probe = Seq.fill(16)(rnd.nextFloat() * 2f - 1f)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val fused = rows(Ann.int8TopK(embs, "embedding", "vec_id", probe, k = 50))
    val decl = rows(ReferenceTwins.int8TopKDeclarative(embs, "embedding", "vec_id", probe, k = 50))
    assert(fused === decl) // exact double equality, all 50 rows
  }

  test("fused vector cosine matches the declarative twin bit-for-bit, " +
      "including zero/null/length edge cases") {
    val rnd = new scala.util.Random(41)
    val embs = Seq.tabulate(60)(i =>
      (i.toLong, Seq.fill(24)(rnd.nextFloat() * 2f - 1f),
        Seq.fill(24)(rnd.nextFloat() * 2f - 1f)))
      .toDF("id", "a", "b")
    def pair(d: org.apache.spark.sql.DataFrame,
        f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
          org.apache.spark.sql.Column) =
      d.select(col("id"), f(col("a"), col("b")).as("c")).collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    // exact double equality on every random row
    assert(pair(embs, Ann.cosine) === pair(embs, ReferenceTwins.cosineDeclarative))
    // edge cases: zero vector (den==0 → 0.0), null side, null element,
    // unequal lengths — all must agree with the declarative semantics
    val edges = Seq(
      (1L, Seq(0f, 0f), Seq(1f, 2f)),                    // zero left
      (2L, Seq(0f, 0f), Seq(0f, 0f)),                    // both zero
      (3L, null.asInstanceOf[Seq[Float]], Seq(1f, 2f)),  // null side
      (4L, Seq(1f, 2f), Seq(3f, 4f, 5f)),                // unequal len
      (5L, Seq(1f, 2f, 3f), Seq(1f, 2f, 3f))             // identical
    ).toDF("id", "a", "b")
    val fe = pair(edges, Ann.cosine)
    assert(fe === pair(edges, ReferenceTwins.cosineDeclarative))
    assert(fe(1L) === Some(0.0) && fe(2L) === Some(0.0))
    assert(fe(3L) === None && fe(4L) === None && fe(5L) === Some(1.0))
    // null ELEMENT inside an array (nulls that side's norm → null out)
    val ne = Seq((6L, Seq[java.lang.Float](1f, null, 3f),
      Seq[java.lang.Float](1f, 2f, 3f))).toDF("id", "a", "b")
    assert(pair(ne, Ann.cosine) === pair(ne, ReferenceTwins.cosineDeclarative))
    assert(pair(ne, Ann.cosine)(6L) === None)
    // double-element arrays take the same path
    val dd = Seq((7L, Seq(0.5, -0.25, 0.125), Seq(1.0, 2.0, -4.0)))
      .toDF("id", "a", "b")
    assert(pair(dd, Ann.cosine) === pair(dd, ReferenceTwins.cosineDeclarative))
    // codegen coverage is asserted in PlanQualitySpec (formatted-plan
    // '* Project' gate over the parquet scan, the q70 precedent)
  }

  test("precomputed-norm cosine (norm × norm → cosinePre) matches the " +
      "fused cosine bit-for-bit, including zero/null/length edge cases") {
    // the r12 pairwise-scan shape: both sides' self-norms computed per
    // ROW, the per-PAIR expression reduced to one dot loop — must be
    // indistinguishable from VecCosineExpr on every input
    import graft.functions.VecMath
    def cosPre(a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      VecMath.cosinePre(a, b, VecMath.norm(a) * VecMath.norm(b))
    def pair(d: org.apache.spark.sql.DataFrame,
        f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
          org.apache.spark.sql.Column) =
      d.select(col("id"), f(col("a"), col("b")).as("c")).collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val rnd = new scala.util.Random(43)
    val embs = Seq.tabulate(60)(i =>
      (i.toLong, Seq.fill(24)(rnd.nextFloat() * 2f - 1f),
        Seq.fill(24)(rnd.nextFloat() * 2f - 1f)))
      .toDF("id", "a", "b")
    assert(pair(embs, Ann.cosine) === pair(embs, cosPre))
    val edges = Seq(
      (1L, Seq(0f, 0f), Seq(1f, 2f)),                    // zero left
      (2L, Seq(0f, 0f), Seq(0f, 0f)),                    // both zero
      (3L, null.asInstanceOf[Seq[Float]], Seq(1f, 2f)),  // null side
      (4L, Seq(1f, 2f), Seq(3f, 4f, 5f)),                // unequal len
      (5L, Seq(1f, 2f, 3f), Seq(1f, 2f, 3f))             // identical
    ).toDF("id", "a", "b")
    assert(pair(edges, Ann.cosine) === pair(edges, cosPre))
    // zero×mismatched-length: den==0 wins over the length test in BOTH
    // forms (the declarative when(den === 0.0, ...) evaluation order)
    val zl = Seq((8L, Seq(0f, 0f), Seq(1f, 2f, 3f))).toDF("id", "a", "b")
    assert(pair(zl, cosPre)(8L) === Some(0.0))
    assert(pair(zl, Ann.cosine) === pair(zl, cosPre))
    val ne = Seq((6L, Seq[java.lang.Float](1f, null, 3f),
      Seq[java.lang.Float](1f, 2f, 3f))).toDF("id", "a", "b")
    assert(pair(ne, Ann.cosine) === pair(ne, cosPre))
    val dd = Seq((7L, Seq(0.5, -0.25, 0.125), Seq(1.0, 2.0, -4.0)))
      .toDF("id", "a", "b")
    assert(pair(dd, Ann.cosine) === pair(dd, cosPre))
  }

  test("fused LSH bucket and signature agreement match their " +
      "declarative twins bit-for-bit") {
    val rnd = new scala.util.Random(47)
    val embs = Seq.tabulate(80)(i =>
      (i.toLong, Seq.fill(12)(rnd.nextFloat() * 2f - 1f)))
      .toDF("id", "emb")
    def buckets(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      embs.select(col("id"), f(col("emb")).as("b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(
      buckets(e => Ann.lshBucketPortable(e, 12, numPlanes = 6)) ===
      buckets(e => ReferenceTwins.lshBucketPortableDeclarative(e, 12, numPlanes = 6)))
    // degenerate inputs follow the declarative bucket-0 fall-through
    val weird = Seq(
      (1L, null.asInstanceOf[Seq[Float]]),   // null array
      (2L, Seq(1f, 2f)),                     // wrong length (dim = 12)
      (3L, Seq.fill(12)(0f))                 // zero vector: proj 0 >= 0
    ).toDF("id", "emb")
    val wf = buckets2(weird, e => Ann.lshBucketPortable(e, 12, 6))
    assert(wf === buckets2(weird,
      e => ReferenceTwins.lshBucketPortableDeclarative(e, 12, 6)))
    assert(wf(1L) === 0L && wf(2L) === 0L && wf(3L) === 63L)
    // signature agreement over string arrays, including unequal
    // lengths (pad counts 0) and null elements
    val sigs = Seq(
      (1L, Seq("a", "b", "c", "d"), Seq("a", "x", "c", "d")),
      (2L, Seq("a", "b"), Seq("a", "b", "c", "d")),
      (3L, Seq[String](null, "b", "c", "d"), Seq("a", "b", "c", "d"))
    ).toDF("id", "sa", "sb")
    def agr(f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column) =
      sigs.select(col("id"), f(col("sa"), col("sb")).as("g")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    import graft.dedup.IncrementalDedup
    val fa = agr(IncrementalDedup.sigAgreement(_, _, 4))
    assert(fa === agr(ReferenceTwins.sigAgreementDeclarative(_, _, 4)))
    assert(fa === Map(1L -> 0.75, 2L -> 0.5, 3L -> 0.75))
  }

  private def buckets2(d: org.apache.spark.sql.DataFrame,
      f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
    d.select(col("id"), f(col("emb")).as("b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("int8 rerank recovers the exact ranking from the quantized shortlist") {
    val rnd = new scala.util.Random(3)
    val embs = Seq.tabulate(40)(i =>
      (i.toLong, Seq.fill(8)(rnd.nextFloat() - 0.5f))).toDF("vec_id", "embedding")
    val probe = Seq.fill(8)(rnd.nextFloat() - 0.5f)
    val exact = Ann.bruteForceTopK(embs, "embedding", "vec_id", probe, k = 5)
      .collect().map(_.getLong(0)).toSeq
    val reranked = Ann.int8TopKRerank(embs, "embedding", "vec_id", probe,
      k = 5, overfetch = 4).collect().map(_.getLong(0)).toSeq
    // with 4× overfetch on 40 vectors the shortlist holds half the
    // corpus — the exact top-5 survives quantization at that margin
    assert(reranked === exact)
  }

  test("sequence packing: chunk intervals and census are exact") {
    import graft.operators.Packing
    val d = Seq(
      ("en", 0L, 300L), ("en", 1L, 300L), ("en", 2L, 500L),
      ("fr", 0L, 512L), ("fr", 1L, 1L)
    ).toDF("lang", "doc_id", "sz")
    val a = Packing.chunkAssignments(d, Seq("lang"), "doc_id", "sz", 512)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // en: cum 300/600/1100 → doc0 [0,0]@0, doc1 [0,1]@300, doc2 [1,2]@88
    assert(a(("en", 0L)) === ((0L, 0L, 0L)))
    assert(a(("en", 1L)) === ((0L, 1L, 300L)))
    assert(a(("en", 2L)) === ((1L, 2L, 88L)))
    // fr: doc0 fills chunk 0 exactly; doc1 opens chunk 1
    assert(a(("fr", 0L)) === ((0L, 0L, 0L)))
    assert(a(("fr", 1L)) === ((1L, 1L, 0L)))
    val census = Packing.packingCensus(d, Seq("lang"), "doc_id", "sz", 512)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(census("en") === ((3L, 1100L, 3L, 2L)))
    assert(census("fr") === ((2L, 513L, 2L, 0L)))
  }

  leakGatedTest("dropNearDuplicates keeps cluster minima and untouched docs") {
    // expected survivors derived from the operator's OWN pair output
    // via a driver union-find (whether (0,5) LSH-collides is
    // band-dependent; (0,1) always does)
    val pairs = Dedup.nearDuplicates(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val losers = parent.keys.filter(k => find(k) != k).toSet
    assert(losers.contains(1L)) // the exact dup always clusters
    val result = Dedup.dropNearDuplicates(docs, "text", "doc_id")
    val kept = result.survivors.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(kept === (0L to 5L).toSet -- losers)
    result.close()
  }

  test("ANN LSH bucket is deterministic and groups identical vectors") {
    val embs = Seq(
      (0L, Seq(1.0f, 2.0f, 3.0f)),
      (1L, Seq(1.0f, 2.0f, 3.0f)),
      (2L, Seq(-5.0f, 1.0f, -2.0f))
    ).toDF("vec_id", "embedding")
    val buckets = embs.select($"vec_id", Ann.lshBucket(col("embedding")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(buckets(0L) === buckets(1L))
  }

  test("language id picks the stopword-argmax language") {
    val langs = docs.select($"doc_id", TextAnalysis.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(langs(0L) === "en")
    assert(langs(3L) === "es") // "el ... por el" hits the es list
  }

  test("quality signals and rolling hash are deterministic") {
    val q = TextAnalysis.withQualitySignals(docs).filter($"doc_id" === 0).head()
    assert(q.getAs[Int]("n_tokens") === 9)
    assert(q.getAs[Int]("n_distinct_tokens") === 8)
    val h1 = docs.filter($"doc_id" === 0)
      .select(TextAnalysis.rollingHash(col("text"))).head().getLong(0)
    val h2 = docs.filter($"doc_id" === 1)
      .select(TextAnalysis.rollingHash(col("text"))).head().getLong(0)
    assert(h1 === h2)
  }

  test("multimodal: binary table, feature extraction, frame sampling") {
    val media = Multimodal.asBinaryTable(docs)
    assert(media.columns.toSet === Set("media_id", "content", "meta"))
    val feats = Multimodal.extractFeatures(media, dim = 16).collect()
    assert(feats.length === 6)
    feats.foreach(r => assert(r.getSeq[Float](1).length === 16))
    // identical payloads → identical features (deterministic stub)
    val byId = feats.map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(byId(0L) === byId(1L))
    val frames = Multimodal.sampleFrames(media, frameBytes = 8, everyNth = 2)
    assert(frames.count() > 6) // multiple frames per payload
  }

  test("image decode: real PNG round trip, one reader per partition") {
    val ids = (0L until 40L).toDF("doc_id").repartition(4)
    val media = Multimodal.synthesizePngs(ids, "doc_id", w = 8, h = 8)
    val inits = spark.sparkContext.longAccumulator("readerInits")
    val stats = Multimodal.decodeImageStats(media, Some(inits)).collect()
    assert(stats.length === 40)
    // decoded pixel sums equal the generation formula exactly (PNG is
    // lossless): check one row by hand
    val row = stats.find(_.getLong(0) == 3L).get
    def ch(f: (Long, Long, Long) => Long): Long =
      (for (x <- 0L until 8L; y <- 0L until 8L) yield f(3L, x, y)).sum
    assert(row.getInt(1) === 8 && row.getInt(2) === 8)
    assert(row.getLong(3) === ch((id, x, y) => (id * 31 + x * 7 + y * 13) % 256))
    assert(row.getLong(4) === ch((id, x, y) => (id * 17 + x * 3 + y * 5) % 256))
    assert(row.getLong(5) === ch((id, x, y) => (id * 11 + x + y) % 256))
    // codec lifecycle: the reader is acquired once per PARTITION (4),
    // never once per row (40) — the expensive-init contract real codecs
    // need
    assert(inits.value === 4L)
  }

  test("image resize: nearest-neighbor mapping exact; output re-decodes") {
    val ids = (0L until 12L).toDF("doc_id").repartition(3)
    val media = Multimodal.synthesizePngs(ids, "doc_id", w = 8, h = 8)
    val out = Multimodal.resizeImages(media, outW = 5, outH = 3).collect()
    assert(out.length === 12)
    def px(id: Long, x: Long, y: Long): (Long, Long, Long) =
      ((id * 31 + x * 7 + y * 13) % 256,
        (id * 17 + x * 3 + y * 5) % 256,
        (id * 11 + x + y) % 256)
    // resized channel sums equal the floor-mapping formula replay
    val row = out.find(_.getLong(0) == 7L).get
    val expected = for (x <- 0 until 5; y <- 0 until 3)
      yield px(7L, x * 8 / 5, y * 8 / 3)
    assert((row.getInt(1), row.getInt(2), row.getInt(3), row.getInt(4)) ===
      ((8, 8, 5, 3)))
    assert(row.getLong(6) === expected.map(_._1).sum)
    assert(row.getLong(7) === expected.map(_._2).sum)
    assert(row.getLong(8) === expected.map(_._3).sum)
    // the re-encoded PNG decodes back to exactly the resized pixels
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(row.getAs[Array[Byte]](5)))
    assert(img.getWidth === 5 && img.getHeight === 3)
    for (x <- 0 until 5; y <- 0 until 3) {
      val (r, g, b) = px(7L, x * 8 / 5, y * 8 / 3)
      val p = img.getRGB(x, y)
      assert(((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff) === ((r, g, b)))
    }
    // upscale duplicates source pixels (2×2 → 4×4: each src pixel 4×)
    val small = Multimodal.synthesizePngs(ids.limit(1), "doc_id", w = 2, h = 2)
    val up = Multimodal.resizeImages(small, 4, 4).collect().head
    val srcSum = (for (x <- 0L until 2L; y <- 0L until 2L) yield px(0L, x, y))
    assert(up.getLong(6) === srcSum.map(_._1).sum * 4)
    assert(up.getLong(8) === srcSum.map(_._3).sum * 4)
  }

  test("audio decode: real WAV round trip, windowed stats match the formula") {
    val ids = (0L until 21L).toDF("doc_id").repartition(3)
    val media = Multimodal.synthesizeWavs(ids, "doc_id")
    val stats = Multimodal.decodeAudioStats(media, windowSamples = 256).collect()
    def sample(id: Long, i: Long): Long = (id * 31 + i * 7) % 2003 - 1001
    def n(id: Long): Int = (1000 + (id % 7) * 100).toInt
    // window counts: ceil(n/256), with a PARTIAL last window (n is never
    // a multiple of 256 here)
    val byDoc = stats.groupBy(_.getLong(0))
    assert(byDoc.keySet === (0L until 21L).toSet)
    for (id <- Seq(0L, 3L, 6L)) {
      val ws = byDoc(id).sortBy(_.getInt(1))
      assert(ws.length === (n(id) + 255) / 256)
      assert(ws.last.getInt(2) === n(id) - 256 * (ws.length - 1))
      // header fields come from the REAL javax.sound parse
      assert(ws.head.getInt(3) === 16000 && ws.head.getInt(4) === 1)
      // window 1 stats replayed from the generation formula
      val w1 = ws(1)
      val range = 256 until math.min(512, n(id))
      assert(w1.getLong(5) === range.map(i => math.abs(sample(id, i))).sum)
      assert(w1.getLong(6) === range.map(i => math.abs(sample(id, i))).max)
      assert(w1.getLong(7) === range.drop(1).count(i =>
        sample(id, i - 1) < 0 && sample(id, i) >= 0))
    }
  }

  test("upsert: updates win, inserts land, census classifies key fates") {
    import graft.operators.Upsert
    val current = Seq(
      (1L, "alpha", "en"), (2L, "beta", "en"),
      (3L, null.asInstanceOf[String], "en"), (4L, "delta", "fr")
    ).toDF("id", "text", "lang")
    val updates = Seq(
      (2L, "beta v2", "en"),                     // changed text
      (3L, null.asInstanceOf[String], "en"),     // identical incl. null text
      (9L, "new doc", "de")                      // brand-new key
    ).toDF("id", "text", "lang")
    val merged = Upsert.upsert(current, updates, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(merged === Set(
      (1L, "alpha", "en"), (2L, "beta v2", "en"),
      (3L, null, "en"), (4L, "delta", "fr"), (9L, "new doc", "de")))
    val c = Upsert.changeCensus(current, updates, Seq("id"),
      Seq("text", "lang")).collect().head
    assert((c.getLong(0), c.getLong(1), c.getLong(2), c.getLong(3)) ===
      ((1L, 1L, 1L, 2L))) // inserted=9; updated=2; unchanged=3 (null-safe); untouched=1,4
  }

  test("range join: bucketized equals the naive theta join; bounds inclusive") {
    import graft.operators.RangeJoin
    val intervals = Seq(
      (1L, 100L, 200L),   // within one cell
      (2L, 150L, 150L),   // degenerate point interval
      (3L, 1000L, 2600L)  // spans 8 cells at width 256
    ).toDF("iv_id", "lo", "hi")
    val points = Seq(99L, 100L, 150L, 200L, 201L, 1799L, 2600L)
      .zipWithIndex.map { case (t, i) => (10L + i, t) }.toDF("pt_id", "t")
    val got = RangeJoin.pointInInterval(points, "t", intervals,
        "lo", "hi", bucketWidth = 256L)
      .select("pt_id", "iv_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = points.join(intervals,
        col("t") >= col("lo") && col("t") <= col("hi"))
      .select("pt_id", "iv_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === naive)
    // inclusive at both ends, exclusive just outside
    assert(got.contains((11L, 1L)) && got.contains((13L, 1L)))
    assert(!got.exists(_._1 == 10L) && !got.exists(_._1 == 14L))
    assert(got.contains((12L, 2L)))
    // the multi-cell interval matches points in interior AND last cell
    assert(got.contains((15L, 3L)) && got.contains((16L, 3L)))
  }

  test("bpe: hand corpus learns expected merges; apply is greedy and lossless") {
    import graft.text.Bpe
    val words = Seq(("abab", 3L), ("ab", 2L)).toDF("w", "freq")
      .select(Bpe.charSyms(col("w")).as("sym"), col("freq"))
    // r0: (a,b) count 2·3+2 = 8 beats (b,a) 3; r1: (ab,ab) count 3;
    // then no adjacent pairs remain → early stop despite numMerges=5
    val merges = Bpe.learnMerges(words, numMerges = 5)
    assert(merges === Seq(
      Bpe.Merge(0, "a", "b", "ab", 8L),
      Bpe.Merge(1, "ab", "ab", "abab", 3L)))
    // inference side: greedy left-to-right, non-overlapping, lossless
    val toks = Seq("ababab").toDF("w")
      .select(Bpe.applyMerges(Bpe.charSyms(col("w")), merges).as("sym"))
      .collect().head.getSeq[String](0)
    assert(toks === Seq("abab", "ab"))
    assert(toks.mkString === "ababab")
  }

  test("bpe: live q96 training reproduces the frozen golden merge table") {
    val got = graft.queries.PipelineQueries
      .q96BpeVocab(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(got === graft.queries.PipelineQueries.q96Golden)
  }

  test("bpe: distributed training ≡ sequential driver replay on the live fixture") {
    // regeneration-proof twin of the frozen-golden test: derive the
    // expected merge table by replaying BPE sequentially over whatever
    // names the CURRENT fixture holds. If the driver regenerates
    // testdata with different content, this still validates the
    // distributed trainer (only the golden/oracle then needs GoldenGen)
    val dir = "/root/testdata/sf0.001"
    val names = spark.read.parquet(s"$dir/nation.parquet")
      .select(col("n_name").as("name"))
      .unionByName(spark.read.parquet(s"$dir/region.parquet")
        .select(col("r_name").as("name")))
      .collect().map(_.getString(0)).toSeq
    val freqs = names.flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    var ws: Seq[(Vector[String], Long)] = freqs.toSeq
      .map { case (w, f) => (w.split("").filter(_.nonEmpty).toVector, f) }
    val expected = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var r = 0
    var done = false
    while (r < 12 && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- ws; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) =
          counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      if (counts.isEmpty) done = true
      else {
        val ((a, b), c) = counts.toSeq
          .sortBy { case ((x, y), n) => (-n, x, y) }.head
        expected += ((r, a, b, a + b, c))
        // exactly Bpe.mergeSyms' fold: if the last accumulated symbol
        // is `a` and the incoming one is `b`, fuse them in place
        ws = ws.map { case (syms, f) =>
          val acc = scala.collection.mutable.ArrayBuffer.empty[String]
          for (x <- syms) {
            if (acc.nonEmpty && acc.last == a && x == b) {
              acc.remove(acc.length - 1)
              acc += (a + b)
            } else acc += x
          }
          (acc.toVector, f)
        }
        r += 1
      }
    }
    val got = graft.queries.PipelineQueries.q96BpeVocab(spark, dir).collect()
      .map(x => (x.getInt(0), x.getString(1), x.getString(2),
        x.getString(3), x.getLong(4))).toSeq
    assert(got === expected.toSeq)
  }

  // the leak gate: the materialized merge is released once the overwrite commits
  leakGatedTest("partitioned upsert rewrites touched partitions only, byte-identical rest") {
    import graft.operators.Upsert
    val base = java.nio.file.Files.createTempDirectory("pupsert").toString + "/t"
    Seq((1L, "a", "p0"), (2L, "b", "p0"), (3L, "c", "p1"), (4L, "d", "p2"))
      .toDF("id", "v", "part")
      .write.partitionBy("part").parquet(base)
    def files(p: String): Map[String, (Long, Long)] = {
      val d = new java.io.File(s"$base/part=$p")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> ((f.length(), f.lastModified()))).toMap
    }
    val p1Before = files("p1")
    val p2Before = files("p2")
    val batch = Seq((2L, "b2", "p0"), (9L, "new", "p0")).toDF("id", "v", "part")
    val touched = Upsert.upsertPartitioned(spark, base, batch, Seq("id"), "part")
    assert(touched === Seq("p0"))
    // untouched partitions: the exact same files, never rewritten
    assert(files("p1") === p1Before)
    assert(files("p2") === p2Before)
    val back = spark.read.parquet(base).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(back === Set((1L, "a", "p0"), (2L, "b2", "p0"), (9L, "new", "p0"),
      (3L, "c", "p1"), (4L, "d", "p2")))
  }

  test("approx_percentile tracks exact percentile within its rank-error bound") {
    // q67/q97 state approx_percentile as the 100 TB swap for the exact
    // percentile — hold that claim to its contract: with accuracy A the
    // result's RANK error is ≤ n/A, so on 10k distinct values the value
    // error at accuracy 1000 is ≤ ~10 ranks
    val n = 10000
    val df = spark.range(n).select((col("id") + 1).cast("double").as("v"))
    val row = df.agg(
      expr("percentile(v, array(0.25D, 0.5D, 0.75D))").as("exact"),
      expr("approx_percentile(v, array(0.25D, 0.5D, 0.75D), 1000)").as("approx"))
      .collect().head
    val exact = row.getSeq[Double](0)
    val approx = row.getSeq[Double](1)
    exact.zip(approx).foreach { case (e, a) =>
      assert(math.abs(e - a) <= n / 1000.0 + 1.0, s"exact=$e approx=$a")
    }
  }

  test("range join: bucketized ≡ naive for randomized intervals, points, widths") {
    import graft.operators.RangeJoin
    val rnd = new scala.util.Random(42)
    for (round <- 1 to 5) {
      val ivs = (0 until 1 + rnd.nextInt(20)).map { i =>
        val lo = rnd.nextInt(10000).toLong
        (i.toLong, lo, lo + rnd.nextInt(1500).toLong)
      }
      val pts = (0 until 1 + rnd.nextInt(40))
        .map(j => (100L + j, rnd.nextInt(12000).toLong))
      val width = Seq(64L, 256L, 1024L)(rnd.nextInt(3))
      val got = RangeJoin.pointInInterval(
          pts.toDF("pt_id", "t"), "t",
          ivs.toDF("iv_id", "lo", "hi"), "lo", "hi", width)
        .select("pt_id", "iv_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = (for {
        (iid, lo, hi) <- ivs
        (pid, t) <- pts if t >= lo && t <= hi
      } yield (pid, iid)).toSet
      assert(got === expected, s"round=$round width=$width")
    }
  }

  test("video frames: container round trip, sampling pattern, formula-exact pixels") {
    val ids = (0L until 10L).toDF("doc_id").repartition(2)
    val media = Multimodal.synthesizeVideos(ids, "doc_id")
    val rows = Multimodal.sampleVideoFrames(media, everyNth = 2).collect()
    // doc 3: 4 + 3%5 = 7 frames → sampled 0,2,4,6
    val d3 = rows.filter(_.getLong(0) == 3L).sortBy(_.getInt(1))
    assert(d3.map(_.getInt(1)).toSeq === Seq(0, 2, 4, 6))
    assert(d3.forall(_.getInt(2) === 7))
    // frame 4 channel sums replay from the generation formula
    val f4 = d3.find(_.getInt(1) == 4).get
    def ch(fm: (Long, Long, Long, Long) => Long): Long =
      (for (x <- 0L until 8L; y <- 0L until 8L) yield fm(3L, 4L, x, y)).sum
    assert(f4.getLong(3) === ch((id, f, x, y) => (id * 31 + f * 19 + x * 7 + y * 13) % 256))
    assert(f4.getLong(4) === ch((id, f, x, y) => (id * 17 + f * 23 + x * 3 + y * 5) % 256))
    assert(f4.getLong(5) === ch((id, f, x, y) => (id * 11 + f * 29 + x + y) % 256))
    // every doc samples ceil(nFrames/2) frames
    val counts = rows.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    (0L until 10L).foreach { id =>
      assert(counts(id) === ((4 + id % 5) + 1) / 2, s"doc $id")
    }
  }

  test("interval overlap: ≡ naive theta, exactly once per pair, randomized") {
    import graft.operators.RangeJoin
    val rnd = new scala.util.Random(7)
    for (round <- 1 to 5) {
      val as = (0 until 1 + rnd.nextInt(15)).map { i =>
        val lo = rnd.nextInt(8000).toLong
        (i.toLong, lo, lo + rnd.nextInt(2000).toLong)
      }
      val bs = (0 until 1 + rnd.nextInt(15)).map { j =>
        val lo = rnd.nextInt(8000).toLong
        (100L + j, lo, lo + rnd.nextInt(2000).toLong)
      }
      val width = Seq(128L, 512L, 2048L)(rnd.nextInt(3))
      val got = RangeJoin.intervalOverlap(
          as.toDF("a_id", "a_lo", "a_hi"), "a_lo", "a_hi",
          bs.toDF("b_id", "b_lo", "b_hi"), "b_lo", "b_hi", width)
        .select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // exactly once: no duplicate pairs even though overlapping
      // intervals share many cells
      assert(got.length === got.toSet.size, s"round=$round width=$width")
      val expected = (for {
        (aid, alo, ahi) <- as
        (bid, blo, bhi) <- bs if alo <= bhi && blo <= ahi
      } yield (aid, bid)).toSet
      assert(got.toSet === expected, s"round=$round width=$width")
    }
  }

  test("cf metrics: validity/proximity/diversity on a toy CF set") {
    val cf = Seq(
      ("x", "b", 0.2), // 1 of 2 attrs changed, flipped
      ("a", "y", 0.6)  // 1 of 2 attrs changed, not flipped
    ).toDF("attr1", "attr2", "match_score")
    val original = Seq(("a", "b")).toDF("attr1", "attr2").head()
    assert(CfMetrics.validity(cf, "match_score") === 0.5)
    assert(math.abs(CfMetrics.proximity(cf, original, Seq("attr1", "attr2")) - 0.5) < 1e-9)
    // the two rows differ in both attrs → diversity 1.0
    assert(math.abs(CfMetrics.diversity(cf, Seq("attr1", "attr2")) - 1.0) < 1e-9)
  }

  test("faithfulness: trapezoid AUC and ablation wiring") {
    assert(math.abs(SaliencyMetrics.trapezoidAuc(
      Seq(0.0, 1.0), Seq(1.0, 1.0)) - 1.0) < 1e-12)
    val pairs = Seq(
      ("alpha beta", "alpha beta", 1),
      ("alpha beta", "gamma delta", 0)
    ).toDF("ltable_name", "rtable_name", "label")
    val scorer = (df: DataFrame) =>
      graft.matcher.TokenCosineModel().predict(df)
    val (scores, auc) = SaliencyMetrics.faithfulnessAuc(
      pairs, scorer, Seq("ltable_name", "rtable_name"), Seq(0.1, 0.9))
    assert(scores.head === 1.0) // no ablation at t=0.1 (top-0 attrs)
    assert(auc >= 0.0)
  }

  leakGatedTest("library dedup ops leave nothing pinned in the block manager") {
    spark.catalog.clearCache()
    // the round-4 implementations cached band keys / shingle frames /
    // candidate pairs and never unpersisted — loop these in a long-lived
    // session (EvalDriver-style) and the block manager filled without
    // bound. The rebuilt single-pass stages cache nothing at all.
    (1 to 2).foreach { _ =>
      Dedup.nearDuplicates(docs, "text", "doc_id", threshold = 0.5).count()
      Dedup.lshCandidatePairs(docs, "text", "doc_id").count()
      Dedup.verifyJaccard(
        Dedup.lshCandidatePairs(docs, "text", "doc_id"),
        docs, "text", "doc_id", threshold = 0.5).count()
    }
  }

  leakGatedTest("IVF index handle owns its cache; close() releases it") {
    spark.catalog.clearCache()
    val rnd = new scala.util.Random(3)
    val embs = (0L until 64L).map(i => (i, Seq.fill(4)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    val index = Ann.ivfBuild(embs, "embedding", "vec_id", nCells = 2)
    val probe = Seq.fill(4)(rnd.nextFloat())
    assert(Ann.ivfTopK(index, probe, k = 3, nProbe = 2).count() === 3)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty) // the index cache
    index.close()
  }

  test("LSH bucket cap bounds degenerate-corpus fan-out deterministically") {
    // pathological corpus: every text identical → all band keys equal →
    // ONE bucket holds the whole corpus and one task would run the full
    // O(n²) verify. The cap keeps the smallest `cap` ids per bucket.
    val degenerate = (0L until 200L).map(i => (i, "same exact text every time"))
      .toDF("doc_id", "text")
    val capped = Dedup.lshCandidatePairs(degenerate, "text", "doc_id",
      maxBucketSize = 16)
    assert(capped.count() === 16L * 15 / 2) // C(16,2), both bands identical
    val ids = capped.select(col("id_a")).union(capped.select(col("id_b")))
      .distinct().collect().map(_.getLong(0))
    assert(ids.forall(_ < 16L)) // deterministic smallest-id survivors
    // uncapped default remains oracle-exact all-pairs within the bucket
    assert(Dedup.lshCandidatePairs(degenerate, "text", "doc_id")
      .count() === 200L * 199 / 2)
  }

  test("lshTopK: always k results; multi-probe recall ≥ single bucket") {
    val rnd = new scala.util.Random(11)
    val embs = (0L until 300L).map(i => (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val probe = Seq.fill(8)(rnd.nextFloat() * 2 - 1)
    val brute = Ann.bruteForceTopK(embs, "embedding", "vec_id", probe, k = 10)
      .collect().map(_.getLong(0)).toSet
    // 3 planes → 8 buckets (~37 rows each): the single-bucket search has
    // enough candidates that neither run trips the exact fallback, so
    // the superset comparison below tests multi-probe itself
    val single = Ann.lshTopK(embs, "embedding", "vec_id", probe, k = 10,
      numPlanes = 3, probeBits = 0).collect().map(_.getLong(0))
    val multi = Ann.lshTopK(embs, "embedding", "vec_id", probe, k = 10,
      numPlanes = 3, probeBits = 1).collect().map(_.getLong(0))
    // the documented contract: never a silently-short answer
    assert(single.length === 10 && multi.length === 10)
    // multi-probe candidates are a superset → recall can only improve
    assert(multi.count(brute.contains) >= single.count(brute.contains))
    // sparse corpus (fewer rows in any bucket than k) → exact fallback
    val tiny = (0L until 6L).map(i => (i, Seq.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    val fb = Ann.lshTopK(tiny, "embedding", "vec_id", probe, k = 5, probeBits = 0)
      .collect().map(_.getLong(0)).toSet
    val fbBrute = Ann.bruteForceTopK(tiny, "embedding", "vec_id", probe, k = 5)
      .collect().map(_.getLong(0)).toSet
    assert(fb === fbBrute)
    // probe-bucket enumeration: 1 + C(8,1) + C(8,2) masks at ≤2 flips
    assert(Ann.probeBuckets(0b10110L, 8, 2).length === 37)
  }

  test("lshRecallCensus: invariants; colinear one-bucket corpus → 100%") {
    val rnd = new scala.util.Random(13)
    val embs = (0L until 200L).map(i =>
        (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val r = Ann.lshRecallCensus(embs, "embedding", "vec_id",
      pmod(col("vec_id"), lit(20L)) === 0L, k = 5, dim = 8, numPlanes = 3).head()
    assert(r.getAs[Long]("n_probes") === 10L)
    assert(r.getAs[Long]("n_exact") === 50L) // corpus >> k: k per probe
    assert(r.getAs[Long]("n_approx") <= 50L)
    assert(r.getAs[Long]("n_hits") <=
      math.min(r.getAs[Long]("n_exact"), r.getAs[Long]("n_approx")))
    assert(r.getAs[Long]("recall_pct") ===
      100L * r.getAs[Long]("n_hits") / r.getAs[Long]("n_exact"))
    // positive-colinear corpus (power-of-two scalings of one vector):
    // identical sign projections → one bucket holds everything, and all
    // pair cosines are the SAME double → both sides rank purely by id,
    // so bucket-restricted search is lossless: recall must be 100
    val u = Seq(0.5f, -0.25f, 0.125f, 0.5f, -0.5f, 0.25f, -0.125f, 0.0625f)
    val clones = (0L until 40L).map(i =>
        (i, u.map(x => x * (1L << (i % 5)).toFloat)))
      .toDF("vec_id", "embedding")
    val full = Ann.lshRecallCensus(clones, "embedding", "vec_id",
      col("vec_id") < 4L, k = 5, dim = 8, numPlanes = 3).head()
    assert(full.getAs[Long]("n_exact") === 20L)
    assert(full.getAs[Long]("recall_pct") === 100L)
  }

  test("attribution: U-shaped integer credit sums to exactly 10000 per journey") {
    import graft.operators.Attribution
    // journeys: u1 has 5 touches (credits 4000,667,667,666,4000 — the
    // 2000 middle pool floor-splits 666 with remainder 2 to the two
    // EARLIEST middles), u2 has 1 touch (10000), u3 never converts;
    // u1 also has a post-conversion touch that must not credit
    val ev = Seq(
      (1L, 10L, "view"), (1L, 11L, "click"), (1L, 12L, "view"),
      (1L, 13L, "click"), (1L, 14L, "view"), (1L, 15L, "purchase"),
      (1L, 16L, "click"),
      (2L, 20L, "click"), (2L, 21L, "purchase"),
      (3L, 30L, "view"),
      (4L, 40L, "view"), (4L, 41L, "click"), (4L, 42L, "purchase"))
      .map { case (u, t, ty) => (u, t, ty, t * 1000000L) }
      .toDF("user_id", "event_id", "event_type", "us")
    val got = Attribution.uShapedCredit(ev,
      "user_id", "event_id", "event_type", "us")
    val perUser = got.groupBy("user_id").agg(sum(col("credit_bp")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // u3 absent; u4 (the n=2 degenerate journey) must ALSO sum to
    // 10000 — the U-shape folds the middle pool into the endpoints
    assert(perUser === Map(1L -> 10000L, 2L -> 10000L, 4L -> 10000L))
    val u1 = got.filter(col("user_id") === 1L).orderBy("r")
      .collect().map(_.getAs[Long]("credit_bp")).toSeq
    assert(u1 === Seq(4000L, 667L, 667L, 666L, 4000L))
    val u4 = got.filter(col("user_id") === 4L).orderBy("r")
      .collect().map(_.getAs[Long]("credit_bp")).toSeq
    assert(u4 === Seq(5000L, 5000L)) // 50/50, not 4000+4000=8000
  }

  test("trendCensus: exact slope on a perfect line; null on zero variance") {
    import graft.operators.Regression
    val pts = Seq(
      ("up", 0L, 0L), ("up", 1L, 2L), ("up", 2L, 4L),    // slope exactly 2
      ("down", 0L, 10L), ("down", 2L, 4L),               // slope -3
      ("flatx", 5L, 1L), ("flatx", 5L, 9L))              // no x variance
      .toDF("g", "x", "y")
    val out = Regression.trendCensus(pts, Seq("g"), col("x"), col("y"))
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(r.fieldIndex("slope_q"))) None
        else Some(r.getAs[Long]("slope_q")))).toMap
    assert(out === Map("up" -> Some(2000000L),
      "down" -> Some(-3000000L), "flatx" -> None))
  }

  test("corrCensus: exact ±1 on perfect lines; null on zero variance") {
    import graft.operators.Regression
    val pts = Seq(
      ("up", 1L, 2L), ("up", 2L, 4L), ("up", 3L, 6L),     // r = +1 exactly
      ("down", 1L, -1L), ("down", 2L, -2L), ("down", 3L, -3L), // r = -1
      ("flat", 4L, 1L), ("flat", 4L, 9L))                 // zero x variance
      .toDF("g", "x", "y")
    val out = Regression.corrCensus(pts, Seq("g"), col("x"), col("y"))
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(r.fieldIndex("corr_q"))) None
        else Some(r.getAs[Long]("corr_q")))).toMap
    assert(out === Map("up" -> Some(1000000L),
      "down" -> Some(-1000000L), "flat" -> None))
  }

  test("quotaSample: Hamilton apportionment, exact total, bonus to largest remainder") {
    import graft.operators.Sampling
    // strata a:5 b:3 c:2, K=7 → floors 3/2/1 (remainders 5/1/4),
    // one bonus seat → a gets it: quotas 4/2/1
    val rows = (0 until 5).map(i => (s"a", i.toLong)) ++
      (0 until 3).map(i => (s"b", 100L + i)) ++
      (0 until 2).map(i => (s"c", 200L + i))
    val df = rows.toDF("source", "doc_id")
    val kept = Sampling.quotaSample(df, "source", "doc_id", totalK = 7)
    val quotas = kept.groupBy("source").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(quotas === Map("a" -> 4L, "b" -> 2L, "c" -> 1L))
    assert(kept.count() === 7L)
    // exact-total contract holds on the fixture too
    val fx = graft.sources.Tables.load(spark,
      "/root/testdata/sf0.001", "documents")
    assert(Sampling.quotaSample(fx, "source", "doc_id", 137).count() === 137L)
  }

  test("PQ: codes drawn from codebooks; full-overfetch ADC = exact top-k") {
    import graft.similarity.{Centroids, Pq}
    val rnd = new scala.util.Random(7)
    val embs = (0L until 120L).map(i =>
        (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val probeV = embs.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0)
    val model = Pq.train(embs, "vec_id", "embedding",
      dim = 8, m = 2, k = 4, iters = 2)
    assert(model.books.size === 2 && model.books.forall(_.size === 4))
    val enc = Pq.encode(embs, "embedding", model)
    (0 until 2).foreach { s =>
      val ids = model.books(s).map(_._1).toSet
      assert(enc.select(col(s"code_$s")).distinct()
        .collect().map(_.getLong(0)).forall(ids.contains))
    }
    // when the shortlist spans the corpus, the rerank IS the exact
    // integer search — codebook quality cannot matter
    val got = Pq.adcTopK(enc, "embedding", "vec_id", model, probeV,
        k = 5, overfetch = 24, excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val pq = probeV.map(x => math.floor(x.toDouble * 4096).toLong).toSeq
    val exact = embs.filter(col("vec_id") =!= 0L)
      .withColumn("dist_q", Centroids.sqDistLong(
        Centroids.quantizeVec(col("embedding"), 4096L), typedLit(pq)))
      .orderBy(col("dist_q"), col("vec_id")).limit(5)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("dist_q")))
    assert(got.toSeq === exact.toSeq)
  }

  test("lshRecallCurve: nested levels, monotone recall, widest ⊇ census") {
    val rnd = new scala.util.Random(17)
    val embs = (0L until 200L).map(i =>
        (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val rows = Ann.lshRecallCurve(embs, "embedding", "vec_id",
        pmod(col("vec_id"), lit(20L)) === 0L, k = 5, dim = 8,
        numPlanes = 3, maxProbeBits = 2)
      .orderBy("probe_bits").collect()
    assert(rows.map(_.getInt(0)).toSeq === Seq(0, 1, 2))
    val recalls = rows.map(_.getAs[Long]("recall_pct")).toSeq
    assert(recalls === recalls.sorted) // nested candidate sets
    val approx = rows.map(_.getAs[Long]("n_approx")).toSeq
    assert(approx === approx.sorted)
    // level 0 must agree with the single-bucket census
    val census = Ann.lshRecallCensus(embs, "embedding", "vec_id",
      pmod(col("vec_id"), lit(20L)) === 0L, k = 5, dim = 8,
      numPlanes = 3).head()
    assert(rows.head.getAs[Long]("n_hits") === census.getAs[Long]("n_hits"))
  }

  test("autoProbe: smallest level meeting the target; widest on a miss") {
    val rnd = new scala.util.Random(17)
    val embs = (0L until 200L).map(i =>
        (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val gate = pmod(col("vec_id"), lit(20L)) === 0L
    val curve = Ann.lshRecallCurve(embs, "embedding", "vec_id", gate,
        k = 5, dim = 8, numPlanes = 3, maxProbeBits = 2)
      .orderBy("probe_bits").collect()
      .map(r => r.getInt(0) -> r.getAs[Long]("recall_pct"))
    // pick a target BETWEEN two measured levels so the expected choice
    // is derived from the curve itself, not a hard-coded recall value
    val (loBits, loRec) = curve.head
    val hi = curve.find(_._2 > loRec).get
    val target = loRec + 1 // just above level-0 recall → level hi expected
    val (bits, _) = Ann.autoProbe(embs, "embedding", "vec_id", k = 5,
      probeGate = gate, targetRecallPct = target, numPlanes = 3,
      maxProbeBits = 2)
    assert(bits === curve.find(_._2 >= target).get._1 && bits > loBits)
    // target at or below level 0's recall → cheapest level wins
    val (bits0, _) = Ann.autoProbe(embs, "embedding", "vec_id", k = 5,
      probeGate = gate, targetRecallPct = loRec, numPlanes = 3,
      maxProbeBits = 2)
    assert(bits0 === loBits)
    // unreachable target → the widest level, not a failure
    val (bitsMax, curveMax) = Ann.autoProbe(embs, "embedding", "vec_id",
      k = 5, probeGate = gate, targetRecallPct = 101L, numPlanes = 3,
      maxProbeBits = 2)
    assert(bitsMax === 2)
    // probeBits = planes degenerates to brute force: a curve swept to
    // the plane count must reach 100% at its widest level
    val (bitsAll, curveAll) = Ann.autoProbe(embs, "embedding", "vec_id",
      k = 5, probeGate = gate, targetRecallPct = 100L, numPlanes = 3,
      maxProbeBits = 3)
    assert(bitsAll <= 3)
    assert(curveAll.orderBy(col("probe_bits").desc).head()
      .getAs[Long]("recall_pct") === 100L)
    assert(curveMax.count() === 3L) // maxProbeBits+1 levels reported
  }

  test("hardNegatives: positives excluded, negatives ranked by cosine") {
    // anchor (1,0); cosines: id1 → 1.0 (positive at thr 0.9),
    // id2=(3,4) → 0.6, id3=(0,1) → 0.0, id4=(-1,0) → -1.0
    val vecs = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(2f, 0f)), (2L, Seq(3f, 4f)),
      (3L, Seq(0f, 1f)), (4L, Seq(-1f, 0f))).toDF("vec_id", "embedding")
    val out = Ann.hardNegatives(vecs, "embedding", "vec_id",
        col("vec_id") === 0L, posThreshold = 0.9, k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    assert(out.toSeq === Seq(
      (0L, 1, 2L, 3.0 / 5.0, 1L),
      (0L, 2, 3L, 0.0, 1L)))
  }

  test("IVF index: probing enough cells recovers the brute-force top-k") {
    val rnd = new scala.util.Random(7)
    val embs = (0L until 200L).map { i =>
      (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
    val probe = Seq.fill(8)(rnd.nextFloat() * 2 - 1)
    val brute = graft.similarity.Ann.bruteForceTopK(
      embs, "embedding", "vec_id", probe, k = 5)
      .collect().map(_.getLong(0)).toSeq
    val index = graft.similarity.Ann.ivfBuild(embs, "embedding", "vec_id", nCells = 4)
    val ivfAll = graft.similarity.Ann.ivfTopK(index, probe, k = 5, nProbe = 4)
      .collect().map(_.getLong(0)).toSeq
    // probing every cell == exact search
    assert(ivfAll === brute)
    // probing one cell returns a subset of plausible neighbors quickly
    val ivf1 = graft.similarity.Ann.ivfTopK(index, probe, k = 5, nProbe = 1)
    assert(ivf1.count() <= 5)
    // approximate regime: half the cells must already recover most of
    // the true top-k (recall ≥ 3/5 on this seeded fixture)
    val ivf2 = graft.similarity.Ann.ivfTopK(index, probe, k = 5, nProbe = 2)
      .collect().map(_.getLong(0)).toSet
    assert(brute.count(ivf2.contains) >= 3)
    index.close()
  }

  test("topKPerGroup ≡ window rank on randomized data, incl. score ties") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    // scores drawn from a SMALL range so cross-id ties are guaranteed
    val rows = (0L until 500L).map(i => (i, s"g${i % 7}", rnd.nextInt(20).toDouble))
    val df = rows.toDF("id", "g", "s").repartition(8)
    val viaAgg = graft.operators.TopK
      .topKPerGroup(df, Seq("g"), col("s"), col("id"), k = 4)
      .select("g", "rank", "id", "score").collect()
    val w = Window.partitionBy(col("g")).orderBy(col("s").desc, col("id").asc)
    val viaWindow = df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 4)
      .select(col("g"), col("rank").cast("int"), col("id"),
        col("s").as("score"))
      .collect()
    assert(viaAgg.map(_.toString).sorted.toSeq
      === viaWindow.map(_.toString).sorted.toSeq)
  }

  test("canonicalize: idempotent, punctuation/case-insensitive, order-preserving") {
    val c = Seq(
      ("Hello,   World!!", "hello world"),
      ("hello world", "hello world"),
      ("  A--B  c_d ", "a b c d"),
      ("fox dog", "fox dog")).toDF("raw", "want")
      .withColumn("got", TextAnalysis.canonicalize(col("raw")))
    assert(c.filter(col("got") =!= col("want")).count() === 0)
    // idempotence: canonicalize(canonicalize(x)) == canonicalize(x)
    val twice = c.withColumn("again", TextAnalysis.canonicalize(col("got")))
    assert(twice.filter(col("again") =!= col("got")).count() === 0)
    // order preserved (unlike fingerprint, which sorts tokens)
    assert(twice.filter(col("raw") === "fox dog").head().getAs[String]("got")
      === "fox dog")
  }

  test("temperatureRates: caps at 1, up-weights small strata, hits the target") {
    val rows = (0L until 1000L).map(i =>
      (i, if (i < 900) "big" else if (i < 990) "mid" else "tiny"))
    val df = rows.toDF("id", "src")
    val rates = TextAnalysis.temperatureRates(df, "src", targetDiv = 2L)
    assert(rates.values.forall(r => r > 0.0 && r <= 1.0))
    // √n weighting: smaller stratum keeps a fraction at least as large
    // (the two small strata may both cap at 1.0), and the dominant
    // stratum is strictly thinned
    assert(rates("tiny") >= rates("mid") && rates("mid") > rates("big"))
    assert(rates("big") < 1.0)
    // expected kept ≈ target (tiny stratum may cap at 1.0 and undershoot)
    val counts = Map("big" -> 900L, "mid" -> 90L, "tiny" -> 10L)
    val expected = rates.map { case (k, r) => counts(k) * r }.sum
    assert(expected <= 500.0 + 1e-6 && expected > 400.0)
  }

  test("oov counts: vocabulary cut is total-ordered; counts are exact") {
    // dfs: the=3, fox=2, dog=2, cat=1, run=1 → V=3 picks the,dog,fox
    // (df desc, token asc: dog before fox at df 2)
    val d = Seq(
      (0L, "the fox the dog"),
      (1L, "the dog fox"),
      (2L, "the cat run run"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = TextAnalysis.withOovCounts(d, "text", vocabSize = 3)
      .select("doc_id", "n_tokens", "n_oov").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(0L) === ((4L, 0L)))
    assert(got(1L) === ((3L, 0L)))
    assert(got(2L) === ((4L, 3L))) // cat + run + run outside {the,dog,fox}
    assert(got(3L) === ((0L, 0L))) // null text → zero counts, row kept
  }

  test("centroid assign ≡ driver-side argmin with (dist, cid) tie-break") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 60L).map(i =>
      (i, Seq.fill(6)(rnd.nextInt(5).toFloat))) // small ints → exact ties
    val df = vecs.toDF("vec_id", "embedding")
    val cents = graft.similarity.Centroids.seedByMinId(df, "vec_id", "embedding", 4)
    assert(cents.map(_._1) === Seq(0L, 1L, 2L, 3L))
    val got = graft.similarity.Centroids.assign(df, "embedding", cents)
      .select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = vecs.map { case (id, v) =>
      val best = cents.map { case (cid, c) =>
        val d = v.zip(c).foldLeft(0.0) { case (acc, (x, y)) =>
          acc + (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble)
        }
        (d, cid)
      }.min
      id -> best._2
    }.toMap
    assert(got === want)
  }

  test("fused sqDistLong ≡ declarative zip_with/aggregate twin") {
    val rnd = new scala.util.Random(13)
    val rows = (0L until 200L).map(i => (i,
      Seq.fill(17)(rnd.nextLong() % 100000L),
      Seq.fill(17)(rnd.nextLong() % 100000L)))
    val df = rows.toDF("id", "a", "b")
    val diff = df.select(
        graft.similarity.Centroids.sqDistLong(col("a"), col("b")).as("f"),
        ReferenceTwins.sqDistLongDeclarative(col("a"), col("b"))
          .as("d"))
      .filter(col("f") =!= col("d")).count()
    assert(diff === 0L)
  }

  leakGatedTest("integer PageRank matches hand-computed fixed-point values") {
    // star: 1→2, 2→1, 3→1 (all out-degree 1)
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    // the ranks come back persisted and caller-owned
    def ranks(e: DataFrame, iters: Int) = {
      val pr = graft.graph.PageRank.rankInt(e, iters)
      try pr.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally pr.unpersist()
    }
    def prMap(iters: Int) = ranks(edges, iters)
    assert(prMap(1) === Map(
      1L -> 1850000L, // 150000 + 850000 (from 2) + 850000 (from 3)
      2L -> 1000000L, // 150000 + 850000 (from 1)
      3L -> 150000L)) // no in-edges: base only
    assert(prMap(2) === Map(
      1L -> 1127500L, // 150000 + 850000 + floor(150000·85/100)
      2L -> 1722500L, // 150000 + floor(1850000·85/100)
      3L -> 150000L))
    // pure cycle is a fixed point of the scheme (mass neither leaks
    // nor concentrates): every node stays at the initial base
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    assert(ranks(cyc, 3).values.toSet === Set(1000000L))
    // out-degree 2 splits the damped mass with floor division
    val split = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val m = ranks(split, 1)
    assert(m(2L) === 150000L + 425000L && m(3L) === 150000L + 425000L)
  }

  test("fixed-point Lloyd ≡ independent driver-side replay (3 iters)") {
    // independent reimplementation of the whole loop: quantize → assign by
    // exact integer distance (ties to smaller cid) → floorDiv means,
    // empty centroids keep position. Any divergence in the engine's
    // literal-fold/agg path shows up as a different assignment map.
    val rnd = new scala.util.Random(7)
    val scale = 4096L
    val vecs = (0L until 80L).map(i =>
      (i, Seq.fill(5)((rnd.nextDouble() - 0.5).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val k = 4; val iters = 3
    val q = vecs.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * scale).toLong)
    }.toMap
    var cents: Seq[(Long, Seq[Long])] =
      (0L until k.toLong).map(i => (i, q(i)))
    def assignAll(cs: Seq[(Long, Seq[Long])]): Map[Long, (Long, Long)] =
      q.map { case (id, v) =>
        val best = cs.map { case (cid, c) =>
          (v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum, cid)
        }.min
        id -> ((best._2, best._1))
      }
    for (_ <- 1 to iters) {
      val a = assignAll(cents)
      val byC = a.toSeq.groupBy(_._2._1)
      cents = cents.map { case (cid, old) =>
        byC.get(cid) match {
          case Some(members) =>
            val ids = members.map(_._1)
            val n = ids.size.toLong
            (cid, (0 until 5).map(d =>
              Math.floorDiv(ids.map(q(_)(d)).sum, n)))
          case None => (cid, old)
        }
      }
    }
    val want = assignAll(cents)
    val got = graft.similarity.Centroids
      .lloyd(df, "vec_id", "embedding", k, iters, scale)
      .select("vec_id", "centroid_id", "dist_q").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === want)
  }

  test("autoBands: hand-computed schemes, recall target met, budget respected") {
    import graft.dedup.Dedup.autoBands
    // hand-computed against b = ceil(ln(0.1)/ln(1 - t^r)), max feasible r
    assert(autoBands(0.5) === ((4, 1)))
    assert(autoBands(0.6) === ((6, 2)))
    assert(autoBands(0.7) === ((4, 2)))
    assert(autoBands(0.8) === ((4, 3)))
    assert(autoBands(0.9) === ((3, 5)))
    // the contract, property-checked over a grid: recall at the
    // threshold >= target, budget respected, and no steeper (larger-r)
    // scheme was feasible
    for (t <- Seq(0.3, 0.45, 0.55, 0.65, 0.75, 0.85, 0.95);
         target <- Seq(0.8, 0.9, 0.99); budget <- Seq(16, 64)) {
      val (b, r) = autoBands(t, target, budget)
      val recall = 1 - math.pow(1 - math.pow(t, r), b.toDouble)
      assert(recall >= target - 1e-12, s"recall $recall at t=$t")
      assert(b * r <= budget)
      val steeper = (r + 1 to budget).exists { r2 =>
        val b2 = math.ceil(
          math.log(1 - target) / math.log1p(-math.pow(t, r2))).toLong
        b2 >= 1 && b2 <= budget / r2 // overflow-proof, as in the impl
      }
      assert(!steeper, s"steeper feasible scheme exists for t=$t")
    }
    // a larger budget never picks a shallower curve
    assert(autoBands(0.7, 0.9, 64)._2 >= autoBands(0.7, 0.9, 16)._2)
    // infeasible target throws with guidance instead of under-recalling
    val e = intercept[IllegalArgumentException](autoBands(0.1, 0.99, 4))
    assert(e.getMessage.contains("raise maxHashes"))
  }

  test("autoBands scheme measurably outrecalls the default on planted near-dups") {
    import spark.implicits._
    // 150 planted pairs: partner shares the first 30 of 40 tokens, so
    // 3-shingle jaccard sits at 28/48 ≈ 0.58 — above a 0.55 threshold
    // but squarely in the band where the default (2,2) S-curve leaks
    // (expected candidate recall 1-(1-s²)² ≈ 0.56) and the governed
    // scheme holds (autoBands(0.55, 0.9) = (7,2) ⇒ ≈ 0.95). MinHash is
    // seedless md5, so for this fixed corpus both numbers are exact
    // constants, not statistics.
    val rnd = new scala.util.Random(42)
    def tok() = "w" + rnd.nextInt(1000000)
    val docs = (0 until 150).flatMap { i =>
      val base = Seq.fill(40)(tok())
      val partner = base.take(30) ++ Seq.fill(10)(tok())
      Seq((2L * i, base.mkString(" ")), (2L * i + 1, partner.mkString(" ")))
    }
    val df = docs.toDF("doc_id", "text")
    def recall(nb: Int, rpb: Int): Double = {
      val cand = graft.dedup.Dedup
        .lshCandidatePairs(df, "text", "doc_id", nb, rpb)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (0 until 150).count(i => cand((2L * i, 2L * i + 1))).toDouble / 150
    }
    val (b, r) = graft.dedup.Dedup.autoBands(0.55, 0.9)
    assert((b, r) === ((7, 2)))
    val rAuto = recall(b, r)
    val rDef = recall(2, 2)
    assert(rAuto > rDef + 0.15, s"auto $rAuto vs default $rDef")
    assert(rAuto >= 0.85, s"auto recall $rAuto below the governed target band")
  }

  test("semantic decontamination: planted paraphrase caught, " +
      "full probe equals brute force, train pairs never reported") {
    import graft.text.Decontaminate
    val rnd = new scala.util.Random(13)
    def vec(): Seq[Float] = Seq.fill(16)(rnd.nextFloat() * 2f - 1f)
    val bench0 = vec()
    // train 100: a near-copy of the benchmark vector (the paraphrase);
    // train 101 and 102: near-dups of EACH OTHER but far from bench —
    // they must not appear (decontam is not dedup)
    val twin = vec()
    val train = Seq(
      (100L, bench0.map(x => x * 0.98f + 0.01f)),
      (101L, twin), (102L, twin.map(x => x * 0.99f))
    ) ++ Seq.tabulate(40)(i => (200L + i, vec()))
    val benchDf = Seq((0L, bench0)).toDF("vec_id", "embedding")
    val trainDf = train.toDF("vec_id", "embedding")
    // full probe = every cell reachable → exact brute-force matching
    val exact = Decontaminate.semanticContaminated(trainDf, "embedding",
      "vec_id", benchDf, "embedding", threshold = 0.8,
      numPlanes = 4, probeBits = 4).collect().map(_.getLong(0)).toSet
    assert(exact === Set(100L))
    // brute-force ground truth agrees
    val brute = trainDf.crossJoin(
        benchDf.select(col("embedding").as("bemb")))
      .filter(Ann.cosine(col("embedding"), col("bemb")) >= 0.8)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(brute === exact)
    // narrower probes return a subset (recall lever, never extras)
    val p1 = Decontaminate.semanticContaminated(trainDf, "embedding",
      "vec_id", benchDf, "embedding", threshold = 0.8,
      numPlanes = 4, probeBits = 1).collect().map(_.getLong(0)).toSet
    assert(p1.subsetOf(exact))
    // drop surface: survivors = train minus contaminated
    val kept = Decontaminate.dropSemanticContaminated(trainDf, "embedding",
      "vec_id", benchDf, "embedding", 0.8, 4, probeBits = 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept === train.map(_._1).toSet - 100L)
  }

  test("kNN label propagation: majority vote with deterministic ties") {
    import graft.similarity.LabelPropagate
    // 1-D embeddings make the neighbor order hand-computable: cosine
    // of same-sign scalars is 1, opposite-sign -1 — so vote counts are
    // driven purely by the seed's sign mix, and ties are real
    val labeled = Seq(
      (1L, Seq(1.0f), "a"), (2L, Seq(2.0f), "b"),
      (3L, Seq(3.0f), "a"), (4L, Seq(-1.0f), "c")
    ).toDF("vec_id", "embedding", "label")
    val unlabeled = Seq(
      (10L, Seq(5.0f)),   // 3 nearest positive seeds: a, b, a → a wins 2-1
      (11L, Seq(-2.0f))   // k=3 takes c (cos 1) then ties among a/b/a at -1
    ).toDF("vec_id", "embedding")
    val out = LabelPropagate.knnVote(unlabeled, labeled, "embedding",
      "vec_id", "label", k = 3).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(10L) === (("a", 2L)))
    // for 11: neighbors by (cosine desc, id asc) = 4 (c), then among
    // cos -1 ties ids 1, 2 → labels c, a, b → all 1 vote, label asc → a
    assert(out(11L) === (("a", 1L)))
  }

  test("mixture plan: binding source exact, integer arithmetic, " +
      "zero-inventory weighted source binds to zero") {
    import graft.operators.Sampling
    val d = Seq(
      ("w1", 1L, 600L), ("w1", 2L, 400L),   // 1000 tokens
      ("w2", 3L, 3000L),                    // 3000 tokens
      ("x", 4L, 50L)                        // unweighted
    ).toDF("source", "doc_id", "n_tokens")
    val plan = Sampling.mixturePlan(d, "source", "n_tokens",
      Map("w1" -> 7000L, "w2" -> 3000L), maxEpochs = 2L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    // caps: w1 1000·2·10000/7000 = 2857, w2 3000·2·10000/3000 = 20000
    // → budget 2857; w1 allotted 1999 (1.999 epochs ≤ 2), w2 857
    assert(plan("w1") === ((2857L, 1999L, 1999L, true)))
    assert(plan("w2") === ((2857L, 857L, 286L, false)))
    assert(plan("x") === ((2857L, 0L, 0L, false)))
    // a weighted source with zero inventory binds the budget to 0
    val p0 = Sampling.mixturePlan(d, "source", "n_tokens",
      Map("w1" -> 5000L, "ghost" -> 5000L), maxEpochs = 2L)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(p0("ghost") === 0L && p0("w1") === 0L)
    // weights must sum to 10000
    intercept[IllegalArgumentException] {
      Sampling.mixturePlan(d, "source", "n_tokens", Map("w1" -> 5000L))
    }
  }

  test("FIM transform: integer split points, PSM exact, gate " +
      "deterministic, token multiset preserved") {
    import graft.text.Fim
    val d = Seq((1L, "a b c d e f g h i j"), (2L, "x y z"))
      .toDF("id", "text")
    val all = Fim.fimTransform(d, "text", "id", rateBp = 10000L)
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[String]("fim_text")).toMap
    // n=10: p = 10·3333∕10000 = 3, m = 10·3334∕10000 = 3
    assert(all(1L) === "<PRE> a b c <SUF> g h i j <MID> d e f")
    // n=3: p = 0, m = ⌊10002/10000⌋ = 1 — empty prefix renders empty
    assert(all(2L) === "<PRE>  <SUF> y z <MID> x")
    // every token survives the reorder (loss-free transform)
    val sentinels = Set(Fim.Pre, Fim.Suf, Fim.Mid)
    all.foreach { case (id, t) =>
      val orig = d.filter(col("id") === id).head().getString(1)
      assert(t.split(" ").filterNot(sentinels).filter(_.nonEmpty).sorted
        .toSeq === orig.split(" ").sorted.toSeq)
    }
    // rate 0 → passthrough; rate gate is deterministic across calls
    val none = Fim.fimTransform(d, "text", "id", rateBp = 0L)
      .collect().map(r => (r.getAs[Boolean]("fim_applied"),
        r.getAs[String]("fim_text") === r.getAs[String]("text")))
    assert(none.forall { case (applied, same) => !applied && same })
    val g1 = Fim.fimTransform(d, "text", "id", rateBp = 5000L)
      .select("id", "fim_applied").collect().map(r =>
        (r.getLong(0), r.getBoolean(1))).toSet
    val g2 = Fim.fimTransform(d, "text", "id", rateBp = 5000L)
      .select("id", "fim_applied").collect().map(r =>
        (r.getLong(0), r.getBoolean(1))).toSet
    assert(g1 === g2)
  }

  test("length-bucketed batches: batch-mates share the bucket, pad " +
      "target bounded by the bucket ceiling, census recomputes exactly") {
    import graft.operators.Packing
    val d = (1L to 20L).map(i => (i, i)).toDF("id", "len") // len = id
    val a = Packing.lengthBucketedBatches(d, "id", "len",
      bucketWidth = 8, batchSize = 4).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("len"),
        r.getAs[Long]("bucket"), r.getAs[Long]("batch_idx"),
        r.getAs[Long]("pos_in_batch")))
    // bucket = (len-1) div 8: 1-8 → 0, 9-16 → 1, 17-20 → 2
    a.foreach { case (_, len, b, _, _) => assert(b === (len - 1) / 8) }
    // positions are a permutation of 0..(batch size-1) per batch
    a.groupBy(t => (t._3, t._4)).foreach { case (_, rows) =>
      assert(rows.map(_._5).sorted.toSeq === (0L until rows.length).toSeq)
      assert(rows.length <= 4)
    }
    // census equals a direct recomputation from the assignments
    val census = Packing.paddingCensus(d, "id", "len", 8, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("pad_to"),
          r.getAs[Long]("padded_tokens"), r.getAs[Long]("utilization_bp"))))
      .toMap
    a.groupBy(t => (t._3, t._4)).foreach { case (key, rows) =>
      val lens = rows.map(_._2)
      val (n, mx, sm) = (rows.length.toLong, lens.max, lens.sum)
      assert(census(key) === ((n, mx, n * mx - sm, sm * 10000L / (n * mx))))
      // the bucketing point: pad target never exceeds the bucket ceiling
      assert(mx <= (key._1 + 1) * 8)
    }
  }
}
