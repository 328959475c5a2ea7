package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.text.TextAnalysis

/** Scaling smoke: replicate the documents corpus 1×/4×/16× (each
  * replica's text salted with a unique token so sketch buckets don't
  * degenerate into all-duplicate blow-ups) and time the text-pipeline
  * stages. The point is the GROWTH RATE, not the absolute numbers: a
  * stage whose time grows ~linearly with corpus size has no hidden
  * all-pairs/driver bottleneck and extrapolates to cluster scale;
  * super-linear growth flags the operator long before a 100 TB run
  * would.
  *
  * Dev tool — run manually; results recorded in SURVEY.md §8.1.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.local(32, logLevel = "ERROR", conf = Map(
      // The 10M-doc finding this line records: with shuffles PINNED at
      // 32 partitions, the shingle-verify join at 2048× (10.24M docs)
      // dies with "Can't acquire 1073741824 bytes to build hash
      // relation" — per-task hash builds outgrow their 1/32 share of
      // execution memory. The cluster-correct posture is to let AQE
      // START wide and coalesce down by advisory size (exactly what a
      // 1000-executor default does); partition width must scale with
      // data, never be a constant of the harness.
      // env-gated so the width-vs-scale trade is itself measurable
      // (SMOKE_INIT_PARTS=32 reproduces the pinned-width death)
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
        sys.env.getOrElse("SMOKE_INIT_PARTS", "1024")))

    def corpus(mult: Int): DataFrame = {
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
      // suffix EVERY token with the replica id: replicas share no
      // shingles, so the m× corpus is m× DISTINCT documents. A mere
      // text suffix leaves replicas mutual near-dups and the near-dup
      // censuses then legitimately emit O(replicas²) pairs per base doc
      // — a pathological corpus, not an operator scaling measurement.
      val replicated = base.crossJoin(
          spark.range(mult).select(col("id").as("__rep")))
        .select(
          (col("doc_id") * mult + col("__rep")).as("doc_id"),
          regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1r"), col("__rep"))).as("text"),
          col("lang"), col("source"))
      replicated.repartition(32).cache()
    }

    // Spill accounting (the memory-pressure leg's evidence): every
    // timed run also records the shuffle/aggregation bytes that spilled
    // to memory-serialized form and to disk. Under the normal 16 GiB
    // heap these stay 0; under a constrained heap (SPARK_DRIVER_MEM=4g)
    // a stage that completes WITH spill degraded gracefully — an OOM
    // is the finding this leg exists to surface.
    val spillMem = new java.util.concurrent.atomic.AtomicLong
    val spillDisk = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            spillMem.addAndGet(m.memoryBytesSpilled)
            spillDisk.addAndGet(m.diskBytesSpilled)
            ()
          }
        }
      })
    def spillSnapshot(): (Long, Long) = {
      org.apache.spark.GraftCoreBridge.flushListenerBus(spark.sparkContext)
      (spillMem.get, spillDisk.get)
    }
    var lastSpill: (Long, Long) = (0L, 0L)
    def time(f: => Any): Double = {
      val (m0, d0) = spillSnapshot()
      val t0 = System.nanoTime(); f
      val t = (System.nanoTime() - t0) / 1e9
      val (m1, d1) = spillSnapshot()
      lastSpill = (m1 - m0, d1 - d0)
      t
    }

    // header printed after mults resolve (below)
    // every stage aggregates OVER the computed value — a bare count
    // lets Catalyst prune the sketch expression and time nothing
    val stages: Seq[(String, DataFrame => Any)] = Seq(
      "minhash signatures" -> (d => Dedup.withMinhashSignature(d, "text")
        .agg(min(col("mh0"))).collect()),
      "lsh near-dup census" -> (d => Dedup.nearDuplicates(d, "text", "doc_id")
        .agg(count(lit(1))).collect()),
      "simhash census" -> (d => d.select(Dedup.simhashPortable(col("text")).as("s"))
        .agg(min(col("s"))).collect()),
      "winnow census" -> (d => d.select(sum(size(
        Dedup.winnowFingerprints(col("text"))))).collect()),
      "language id" -> (d => d.withColumn("l", TextAnalysis.langId(col("text")))
        .groupBy("l").count().collect()),
      "repetition signals" -> (d => TextAnalysis.withRepetitionSignals(d)
        .agg(sum(col("top_token_cnt"))).collect()),
      "exact dedup" -> (d => Dedup.exactSurvivors(d, "text", "doc_id")
        .agg(count(lit(1))).collect()),
      "dup-ngram fraction" -> (d => TextAnalysis.dupNgramFraction(
        d, "text", "doc_id", n = 5, minDocs = 5)
        .agg(sum(col("n_dup"))).collect()),
      "target affinity" -> (d => graft.text.Importance.targetAffinity(
        d, "text", "doc_id", col("source") === "src0")
        .agg(sum(col("affinity"))).collect()),
      "quality funnel" -> (d => {
        val sig = TextAnalysis.withPiiSignals(
          TextAnalysis.withRepetitionSignals(TextAnalysis.withQualitySignals(d)))
        sig.agg(sum(when(col("is_quality")
          && TextAnalysis.langId(col("text")) === col("lang")
          && col("n_emails") + col("n_ipv4") + col("n_phones") === 0, 1L)
          .otherwise(0L))).collect()
      }),
      "upsample 2.5x" -> (d => graft.operators.Sampling.upsampleByWeight(
        d, "source", "doc_id", Map("src0" -> 2.5))
        .agg(count(lit(1))).collect()),
      "training order" -> (d => graft.operators.Shard.trainingOrder(
        d, "doc_id", seed = 7L, nShards = 8)
        .groupBy(col("shard")).count().collect()),
      "span dedup census" -> (d => graft.text.SpanDedup.spanCensus(
        d, "text", "doc_id", n = 8, minCount = 2)
        .agg(sum(col("covered_tokens")), sum(col("n_spans"))).collect()),
      "inverted index" -> (d => graft.text.Search.invertedIndex(
        d, "text", "doc_id")
        .agg(count(lit(1)), sum(col("tf"))).collect()),
      // replica-salted tokens make cross-replica phrases impossible, so
      // probe the un-salted replica-0 phrase form of a common bigram
      "phrase search" -> (d => graft.text.Search.phraseTopK(
        d, "text", "doc_id", Seq("tabler0", "tabler0"), k = 15)
        .collect()),
      "chunking" -> (d => graft.text.Chunking.chunk(
        d, "text", "doc_id", chunkSize = 32, stride = 24)
        .agg(count(lit(1)), sum(col("n_chunk_tokens"))).collect()),

      // round-11 legs: the Bloom decontamination gate next to its exact
      // form — same rule, same survivors (q206's oracle proves output
      // equality; the printed counts here must agree at every mult).
      // The bloom leg's lever is SHUFFLE VOLUME: only sketch-probable
      // grams reach the confirm join's exchange, so the prune census
      // leg prints how many exploded train grams pass the probe vs the
      // total the exact path shuffles — the number that decides the
      // posture at a benchmark set too big to broadcast.
      "decontam exact" -> (d => {
        val bg = graft.text.Decontaminate.gramSet(
          d.filter(col("source") === "src19"), "text", 5)
        val n = graft.text.Decontaminate.dropContaminated(
          d.filter(col("source") =!= "src19"), "text", "doc_id", bg, 5,
          minFracQ = 200000000L).agg(count(lit(1))).collect()(0).getLong(0)
        println(s"    [decontam exact] survivors=$n")
      }),
      "decontam bloom" -> (d => {
        val bg = graft.text.Decontaminate.gramSet(
          d.filter(col("source") === "src19"), "text", 5)
        val n = graft.text.Decontaminate.dropContaminatedBloom(
          d.filter(col("source") =!= "src19"), "text", "doc_id", bg, 5,
          minFracQ = 200000000L, expectedItems = 1L << 22)
          .agg(count(lit(1))).collect()(0).getLong(0)
        println(s"    [decontam bloom] survivors=$n")
      }),
      "decontam prune census" -> (d => {
        val bg = graft.text.Decontaminate.gramSet(
          d.filter(col("source") === "src19"), "text", 5).persist()
        val sketch = graft.dedup.IncrementalDedup.sketchOf(
          bg, xxhash64(col("g")), 1L << 22, 1e-3)
        val grams = d.filter(col("source") =!= "src19")
          .select(explode(array_distinct(
            Dedup.shingles(col("text"), 5))).as("g"))
        // probe in a FILTER, the operator's own posture: embedding the
        // multi-MB sketch literal inside an aggregate expression costs
        // ~250 ms/task fixed (ProbeBloom measurement; partial+final agg
        // projections each carry and rehash the literal), while the
        // codegen'd filter pays it once per task — the first census
        // form here read 47 s flat where the real shape reads seconds
        val total = grams.count()
        val passed = grams.filter(graft.dedup.IncrementalDedup
          .mightContain(sketch, xxhash64(col("g")))).count()
        println(f"    [prune] grams=$total passed=$passed" +
          f" (${100.0 * passed / total}%.3f%%)")
        bg.unpersist(): Unit
      }),

      // the two STATED 100 TB swaps, executed next to their exact forms
      // with error-bound assertions (q67/q97's approx_percentile claim,
      // q81's float-ratio claim) — each leg times both variants itself
      // and prints the delta; the harness time covers the pair.
      "percentile swap" -> (d => {
        val base = d.select(col("lang"),
          size(split(col("text"), " ")).cast("double").as("tok"))
        def tm(f: => Any): Double = {
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }
        val exactT = tm(base.groupBy(col("lang")).agg(expr(
          "percentile(tok, array(0.25D, 0.5D, 0.75D))")).collect())
        val approxT = tm(base.groupBy(col("lang")).agg(expr(
          "approx_percentile(tok, array(0.25D, 0.5D, 0.75D), 1000)")).collect())
        // contract: rank error ~ n/accuracy ⇒ the approx value must lie
        // between the exact quantiles 5/1000 either side of the target
        // (5x margin over the nominal 1/1000: the GK-sketch bound is
        // approximate after compression and tied integer values
        // quantize ranks into steps)
        val rows = base.groupBy(col("lang")).agg(expr(
            "percentile(tok, array(0.245D, 0.255D, 0.495D, 0.505D, 0.745D, 0.755D))")
            .as("bounds"),
          expr("approx_percentile(tok, array(0.25D, 0.5D, 0.75D), 1000)")
            .as("approx")).collect()
        rows.foreach { r =>
          val b = r.getSeq[Double](1); val a = r.getSeq[Double](2)
          (0 until 3).foreach { i =>
            // approx returns an actual (integer token-count) data value;
            // exact CONT interpolates between adjacent integers — widen
            // the rank band to whole-value granularity
            val (lo, hi) = (math.floor(b(2 * i)), math.ceil(b(2 * i + 1)))
            require(a(i) >= lo - 1e-9 && a(i) <= hi + 1e-9,
              s"approx p${i} ${a(i)} outside exact rank band " +
                s"[$lo, $hi] for lang ${r.getString(0)}")
          }
        }
        println(f"    [swap] percentile exact $exactT%.2fs vs " +
          f"approx $approxT%.2fs (${exactT / approxT}%.2fx)")
      }),
      "drift float swap" -> (d => {
        // q81's chi2 term: long integer cross-products (exact to ~3e9
        // tokens/side) vs the overflow-proof double form — same plan
        // shape, cast moved before the multiply
        val toks = d.filter(col("text").isNotNull &&
            col("source").isin("src0", "src1"))
          .select(col("source"),
            explode(graft.text.TextAnalysis.tokens(col("text"))).as("token"))
          .select(col("source"),
            pmod(Dedup.portableHash60(col("token")), lit(256L)).as("bucket"))
        def census(src: String, nm: String) = toks
          .filter(col("source") === src).groupBy(col("bucket"))
          .agg(count(lit(1)).as(nm))
        val j = census("src0", "n_a")
          .join(census("src1", "n_b"), Seq("bucket"), "full_outer")
          .select(col("bucket"), coalesce(col("n_a"), lit(0L)).as("n_a"),
            coalesce(col("n_b"), lit(0L)).as("n_b"))
        def tm(f: => Any): Double = {
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }
        val r0 = j.agg(sum(col("n_a")), sum(col("n_b"))).head()
        val (ta, tb) = (r0.getLong(0), r0.getLong(1))
        def longTerm = ((col("n_a") * tb - col("n_b") * ta)
          * (col("n_a") * tb - col("n_b") * ta)).cast("double") /
          ((col("n_a") + col("n_b")) * lit(ta) * lit(tb)).cast("double")
        def diff = col("n_a").cast("double") * lit(tb.toDouble) -
          col("n_b").cast("double") * lit(ta.toDouble)
        def floatTerm = diff * diff /
          ((col("n_a") + col("n_b")).cast("double")
            * lit(ta.toDouble) * lit(tb.toDouble))
        val zero = col("n_a") + col("n_b") === 0L
        val longT = tm(j.select(
          when(zero, 0.0).otherwise(longTerm).as("t")).agg(sum(col("t"))).head())
        val floatT = tm(j.select(
          when(zero, 0.0).otherwise(floatTerm).as("t")).agg(sum(col("t"))).head())
        val terms = j.select(col("bucket"),
            when(zero, 0.0).otherwise(longTerm).as("lt"),
            when(zero, 0.0).otherwise(floatTerm).as("ft")).collect()
        terms.foreach { r =>
          val (lt, ft) = (r.getDouble(1), r.getDouble(2))
          require(math.abs(lt - ft) <= 1e-6 * math.max(1.0, math.abs(lt)),
            s"chi2 float form diverged at bucket ${r.getLong(0)}: $lt vs $ft")
        }
        println(f"    [swap] drift chi2 long $longT%.2fs vs " +
          f"float $floatT%.2fs (${longT / floatT}%.2fx)")
      }),
      // replica-salted tokens ⇒ no cross-replica set similarity, so an
      // m× corpus holds m× the qualifying pairs: the leg measures the
      // prefix-filter join's growth, not output blowup. Same 20% gate
      // as q121 (the fixture's dup clusters make pairs quadratic in
      // cluster size; the gate keeps the answer linear in the corpus).
      "setsim join" -> (d => {
        val gated = d.filter(pmod(Dedup.portableHash60(
          concat(col("doc_id").cast("string"), lit("#ss"))), lit(10000L)) < 2000L)
        graft.dedup.SetSimJoin.similarPairs(gated, "text", "doc_id", t100 = 60)
          .agg(count(lit(1)), sum(col("n_inter"))).collect()
      }),
      // dense serial-number namespace (every doc_id as a zero-padded
      // Doc#NNNNNNNNN): deletion-variant blocking at distance 1 — the
      // id-typo reconciliation shape; neighbors per name are bounded by
      // the digit alphabet so pairs grow linearly with the namespace
      "fuzzy join serials" -> (d => {
        val names = d.select(format_string("Doc#%09d", col("doc_id")).as("name"))
        graft.text.Fuzzy.fuzzyPairs(names, "name", maxDist = 1)
          .agg(count(lit(1)), sum(col("dist"))).collect()
      }),
      "profile distinct swap" -> (d => {
        // q65/Profile's stated 100 TB swap, executed: Profile.exact
        // routes |rows|×|cols| Expand records through the shuffle;
        // Profile.sketch ships constant-size HLL++ buffers. Time both
        // on the token-exploded frame (the high-cardinality case) and
        // assert each estimate lands within 5× the nominal rsd.
        val toks = d.filter(col("text").isNotNull)
          .select(col("source"), col("lang"),
            explode(graft.text.TextAnalysis.tokens(col("text"))).as("token"))
        def tm(f: => Any): Double = {
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }
        val exactT = tm(graft.operators.Profile
          .exact(toks, "token", "source", "lang").collect())
        val sketchT = tm(graft.operators.Profile
          .sketch(toks, Seq("token", "source", "lang"), rsd = 0.02).collect())
        val ex = graft.operators.Profile.exact(toks, "token", "source", "lang")
          .select(col("col_name"), col("n_distinct")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        graft.operators.Profile
          .sketch(toks, Seq("token", "source", "lang"), rsd = 0.02)
          .select(col("col_name"), col("n_distinct")).collect()
          .foreach { r =>
            val (c, a) = (r.getString(0), r.getLong(1))
            val e = ex(c)
            require(math.abs(a - e).toDouble <= math.max(1.0, 0.10 * e),
              s"HLL estimate $a for column $c outside 10% of exact $e")
          }
        println(f"    [swap] profile distinct exact $exactT%.2fs vs " +
          f"hll $sketchT%.2fs (${exactT / sketchT}%.2fx)")
      }))

    // SMOKE_ONLY=substr,substr filters legs (dev iteration on one leg)
    val legFilter = sys.env.get("SMOKE_ONLY").map(_.split(",").toSet)
    def on(name: String): Boolean =
      legFilter.forall(f => f.exists(name.contains))
    val activeStages = stages.filter(s => on(s._1))

    // multipliers via args (default 1/4/16); small corpora are
    // scheduling-bound on 32 cores — flat ratios there mean headroom,
    // pass larger mults (e.g. "4 32 256") to measure the growth rate
    val mults =
      if (args.nonEmpty) args.toIndexedSeq.map(_.toInt) else Seq(1, 4, 16)
    // mult-major: one corpus cached at a time, ALL caches (the corpus
    // AND the per-call internals of nearDuplicates etc.) dropped before
    // the next multiplier — holding every size at once spills the local
    // disk at large mults
    val results = scala.collection.mutable.Map.empty[(String, Int), Double]
    val spills = scala.collection.mutable.Map.empty[(String, Int), (Long, Long)]
    // corpus build at large mults is minutes of work — skip it outright
    // when SMOKE_ONLY selects no stage from this loop
    for (m <- mults if activeStages.nonEmpty) {
      val d = corpus(m)
      d.count()
      for ((name, stage) <- activeStages) {
        stage(d) // warm codegen for this stage shape
        results((name, m)) = time(stage(d))
        spills((name, m)) = lastSpill
      }
      spark.catalog.clearCache()
    }

    val growth = mults.last.toDouble / mults.head
    println(f"${"stage"}%-22s " + mults.map(m => f"${m + "x"}%8s").mkString(" ") +
      f"   ${mults.last}x/${mults.head}x (linear=$growth%.0f)")
    def spillLine(sp: Seq[(Long, Long)]): Unit =
      if (sp.exists(s => s._1 > 0 || s._2 > 0))
        println(f"${"  [spill mem/disk]"}%-22s " + sp.map { case (m, d) =>
          f"${m >> 20}%3dm/${d >> 20}%dm" }.mkString(" "))
    for ((name, _) <- activeStages) {
      val ts = mults.map(m => results((name, m)))
      val ratio = ts.last / ts.head
      println(f"$name%-22s " + ts.map(t => f"$t%7.2fs").mkString(" ") +
        f"   ${ratio}%5.1f")
      spillLine(mults.map(m => spills((name, m))))
    }

    // ---- explainer leg: the certa core against m×-scaled SOURCES.
    // The support search scans the sources (budget-capped TakeOrdered);
    // triangle resolution is an id-IN pushdown scan — both should grow
    // at-most-linearly in source size while the lattice stages stay
    // source-size-independent (powerset-bounded).
    def scaledPart(m: Int): DataFrame = {
      val part0 = graft.sources.Tables.load(spark, sfDir, "part")
      part0.crossJoin(spark.range(m).select(col("id").as("__rep")))
        .select(
          (col("p_partkey") * m + col("__rep")).as("id"),
          regexp_replace(col("p_name"), lit("(\\S+)"),
            concat(lit("$1r"), col("__rep"))).as("name"),
          concat(col("p_brand"), lit("r"), col("__rep")).as("brand"),
          col("p_type").as("ptype"), col("p_size").cast("string").as("psize"))
        .repartition(32).cache()
    }
    if (on("explain (certa core)")) {
      val explainTs = mults.map { m =>
        val part = scaledPart(m)
        part.count()
        val model = graft.matcher.TokenCosineModel()
        val explainer = new graft.explain.CertaExplainer(part, part)
        val probe = part.filter(col("id") === 0L)
        explainer.explain(probe, probe, model, numTriangles = 10) // warm
        val t = time {
          val e = explainer.explain(probe, probe, model, numTriangles = 10)
          if (e.saliency.columns.nonEmpty) e.saliency.count()
        }
        spark.catalog.clearCache()
        m -> t
      }
      val eRatio = explainTs.last._2 / explainTs.head._2
      println(f"${"explain (certa core)"}%-22s " +
        explainTs.map(t => f"${t._2}%7.2fs").mkString(" ") + f"   ${eRatio}%5.1f")
    }

    // ---- candidate-search leg: reference-exact J3 (cross join) vs the
    // pluggable LSH-blocked generator, positive hunting, same budget.
    // The blocked search's scan is pruned by the band-collision filter,
    // so its time should grow no faster than the cross join's and sit
    // below it at every size.
    def timeGen(part: DataFrame, gen: graft.candidates.CandidateGenerator): Double = {
      val model = graft.matcher.TokenCosineModel()
      val probe = part.filter(col("id") === 0L)
      def run(): Unit = graft.candidates.Candidates.findCandidates(
        probe, part, probeIsLeft = true, findPositives = true, model = model,
        numCandidates = 5, gen = gen).count()
      run() // warm
      time(run())
    }
    if (on("support")) {
  val candTs = mults.map { m =>
        val part = scaledPart(m)
        part.count()
        val cross = timeGen(part, graft.candidates.CrossJoinGenerator)
        val blocked = timeGen(part, graft.candidates.LshBlockingGenerator())
        // amortized path: band keys computed once per source (the
        // EvalDriver shape — caller-owned cache), probes pay a filter only
        val keyed = graft.candidates.LshBlockingGenerator.withBandKeys(part).cache()
        keyed.count()
        val prekeyedGen = graft.candidates.LshBlockingGenerator(
          prekeyed = Map(part -> keyed))
        val prekeyed = timeGen(part, prekeyedGen)
        keyed.unpersist(true)
        spark.catalog.clearCache()
        (cross, blocked, prekeyed)
      }
      println(f"${"support (cross J3)"}%-22s " +
        candTs.map(t => f"${t._1}%7.2fs").mkString(" ") +
        f"   ${candTs.last._1 / candTs.head._1}%5.1f")
      println(f"${"support (lsh-blocked)"}%-22s " +
        candTs.map(t => f"${t._2}%7.2fs").mkString(" ") +
        f"   ${candTs.last._2 / candTs.head._2}%5.1f")
      println(f"${"support (lsh prekeyed)"}%-22s " +
        candTs.map(t => f"${t._3}%7.2fs").mkString(" ") +
        f"   ${candTs.last._3 / candTs.head._3}%5.1f")
    }

    // ---- evaldriver batch leg: evalCf over 32 pairs at parallelism 1
    // vs 8 on the m×-scaled sources, with AutoSelect (which resolves to
    // the prekeyed blocked generator for this batch size). Explanations
    // are independent — the concurrent job streams should interleave to
    // a real speedup — and outputs must be IDENTICAL to the sequential
    // loop's (asserted here, not just spec'd at toy size).
    if (on("evaldriver batch")) {
      import spark.implicits._
      val evalTs = mults.map { m =>
        val part = scaledPart(m)
        part.count()
        val ids = part.select(col("id")).orderBy(col("id")).limit(32)
          .as[Long].collect().toSeq
        val pairs = ids.map(i => (i, i, 1))
          .toDF("ltable_id", "rtable_id", "label")
        val model = graft.matcher.TokenCosineModel()
        def run(par: Int): (Double, Seq[String]) = {
          val out = java.nio.file.Files
            .createTempDirectory(s"smokeeval_${m}_$par").toString
          val t0 = System.nanoTime()
          val df = graft.eval.EvalDriver.evalCf(part, part, pairs, model,
            out, numTriangles = 10, maxRows = 32, parallelism = par,
            candidateGen = graft.candidates.AutoSelect)
          val rows = df.drop("latencySec").collect()
            .map(_.toString).toSeq.sorted
          ((System.nanoTime() - t0) / 1e9, rows)
        }
        val (t1, r1) = run(1)
        val (t8, r8) = run(8)
        require(r1 == r8, s"parallel eval outputs diverged at m=$m")
        println(f"    [evaldriver] m=$m%3d  par1 $t1%7.1fs  par8 $t8%7.1fs" +
          f"  speedup ${t1 / t8}%5.2fx  (32 pairs, auto→prekeyed)")
        spark.catalog.clearCache()
        t8
      }
      println(f"${"evaldriver batch(p8)"}%-22s " +
        evalTs.map(t => f"$t%7.2fs").mkString(" ") +
        f"   ${evalTs.last / evalTs.head}%5.1f")
    }

    // ---- image decode leg: real PNG encode→decode via javax.imageio,
    // pure per-row work — must be linear with corpus size.
    if (on("image decode")) {
  val imgTs = mults.map { m =>
        val ids = spark.range(20000L * m).select(col("id").as("doc_id"))
          .repartition(32).cache()
        ids.count()
        def run(): Unit = graft.multimodal.Multimodal.decodeImageStats(
          graft.multimodal.Multimodal.synthesizePngs(ids, "doc_id"))
          .agg(sum(col("sum_red"))).collect()
        run() // warm
        val t = time(run())
        spark.catalog.clearCache()
        t
      }
      println(f"${"image decode"}%-22s " +
        imgTs.map(t => f"$t%7.2fs").mkString(" ") +
        f"   ${imgTs.last / imgTs.head}%5.1f")
    }

    // ---- audio decode leg: real WAV synth + javax.sound parse + window
    // stats, pure per-row work — must be linear like the image decode.
    if (on("audio decode")) {
  val audTs = mults.map { m =>
        val ids = spark.range(20000L * m).select(col("id").as("doc_id"))
          .repartition(32).cache()
        ids.count()
        def run(): Unit = graft.multimodal.Multimodal.decodeAudioStats(
          graft.multimodal.Multimodal.synthesizeWavs(ids, "doc_id"))
          .agg(sum(col("sum_abs"))).collect()
        run() // warm
        val t = time(run())
        spark.catalog.clearCache()
        t
      }
      println(f"${"audio decode"}%-22s " +
        audTs.map(t => f"$t%7.2fs").mkString(" ") +
        f"   ${audTs.last / audTs.head}%5.1f")
    }

    // ---- range join leg: purchase windows × clicks, NO key. Replicas
    // are shifted onto disjoint 40-day ranges so the true pair count
    // grows linearly; the bucketized join's time must track pairs, not
    // the |windows|·|clicks| a nested loop would pay.
    if (on("range join")) {
  val rjTs = mults.map { m =>
        val ev0 = graft.sources.Tables.load(spark, sfDir, "events")
        val ev = ev0.crossJoin(spark.range(m).select(col("id").as("__rep")))
          .select((col("event_id") * m + col("__rep")).as("eid"),
            (unix_micros(col("ts")) + col("__rep") * lit(3456000000000L))
              .as("t_us"),
            col("event_type"))
          .repartition(32).cache()
        ev.count()
        val windows = ev.filter(col("event_type") === "purchase")
          .select(col("eid").as("p_id"), col("t_us").as("lo"))
          .withColumn("hi",
            col("lo") + (pmod(col("p_id"), lit(30)) + 1) * lit(60000000L))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("eid").as("c_id"), col("t_us").as("t"))
        def run(): Unit = graft.operators.RangeJoin.pointInInterval(
          clicks, "t", windows, "lo", "hi", bucketWidth = 1800000000L)
          .agg(count(lit(1))).collect()
        run() // warm
        val t = time(run())
        spark.catalog.clearCache()
        t
      }
      println(f"${"range join"}%-22s " +
        rjTs.map(t => f"$t%7.2fs").mkString(" ") +
        f"   ${rjTs.last / rjTs.head}%5.1f")
    }

    // ---- upsert leg: m× corpus merged with a 10% recrawl batch — one
    // anti join (batch side broadcast by AQE) + union, so linear.
    if (on("upsert merge")) {
  val upTs = mults.map { m =>
        val d = corpus(m)
        d.count()
        val batch = d.filter(pmod(col("doc_id"), lit(10)) === 0)
          .withColumn("text", concat(col("text"), lit(" rev2")))
        def run(): Unit = graft.operators.Upsert.upsert(d, batch, Seq("doc_id"))
          .agg(count(lit(1))).collect()
        run() // warm
        val t = time(run())
        spark.catalog.clearCache()
        t
      }
      println(f"${"upsert merge"}%-22s " +
        upTs.map(t => f"$t%7.2fs").mkString(" ") +
        f"   ${upTs.last / upTs.head}%5.1f")
    }

    // ---- partitioned-maintenance leg: a batch touching 2 of 20 source
    // partitions applied via upsertPartitioned (pruned read + dynamic
    // overwrite of the touched partitions) vs the naive full-table
    // merge-and-rewrite. Both grow linearly (touched partitions grow
    // with the corpus), but the partitioned path's constant should sit
    // ~10× below the rewrite — that constant IS the operator's value.
    if (on("partitioned maintenance")) {
  val pmTs = mults.map { m =>
        val d = corpus(m)
        d.count()
        val base = java.nio.file.Files.createTempDirectory("smoke-pm").toString
        d.write.partitionBy("source").parquet(s"$base/t1")
        d.write.partitionBy("source").parquet(s"$base/t2")
        val batch = d.filter(col("source").isin("src0", "src3") &&
            pmod(col("doc_id"), lit(3)) === 0)
          .withColumn("text", concat(col("text"), lit(" rev")))
        val tPart = time {
          graft.operators.Upsert.upsertPartitioned(
            spark, s"$base/t1", batch, Seq("doc_id"), "source")
        }
        val tFull = time {
          val cur = spark.read.parquet(s"$base/t2")
          graft.operators.Upsert.upsert(cur, batch, Seq("doc_id"))
            .write.mode("overwrite").partitionBy("source")
            .parquet(s"$base/t2_new")
        }
        spark.catalog.clearCache()
        (tPart, tFull)
      }
      println(f"${"maintain (partitioned)"}%-22s " +
        pmTs.map(t => f"${t._1}%7.2fs").mkString(" ") +
        f"   ${pmTs.last._1 / pmTs.head._1}%5.1f")
      println(f"${"maintain (full rewrite)"}%-22s " +
        pmTs.map(t => f"${t._2}%7.2fs").mkString(" ") +
        f"   ${pmTs.last._2 / pmTs.head._2}%5.1f")
    }

    // ---- bpe training leg: 2 merge rounds over the m× corpus's word
    // table — each round is one map-side-combined pair count, so time
    // tracks the corpus scan.
    if (on("bpe train")) {
  val bpeTs = mults.map { m =>
        val d = corpus(m)
        d.count()
        def run(): Unit = {
          val words = d.filter(col("text").isNotNull)
            .select(explode(split(col("text"), " ")).as("w"))
            .groupBy(col("w")).agg(count(lit(1)).as("freq"))
            .select(graft.text.Bpe.charSyms(col("w")).as("sym"), col("freq"))
          graft.text.Bpe.learnMerges(words, numMerges = 2)
        }
        run() // warm
        val t = time(run())
        spark.catalog.clearCache()
        t
      }
      println(f"${"bpe train (2 rounds)"}%-22s " +
        bpeTs.map(t => f"$t%7.2fs").mkString(" ") +
        f"   ${bpeTs.last / bpeTs.head}%5.1f")
    }

    // ---- connected-components leg: near-dup pairs closed into clusters.
    // Edge count grows linearly (replicas share no shingles) and round
    // count logarithmically, so total time should track the near-dup
    // census's growth, not exceed it.
    if (on("neardup components")) {
  val ccTs = mults.map { m =>
        val d = corpus(m)
        d.count()
        def run(): Unit = {
          val mapping = graft.dedup.Components.connectedComponents(
            Dedup.nearDuplicates(d, "text", "doc_id").select(col("id_a"), col("id_b")))
          mapping.count()
          mapping.unpersist(true)
        }
        run() // warm
        val t = time(run())
        spark.catalog.clearCache()
        t
      }
      println(f"${"neardup components"}%-22s " +
        ccTs.map(t => f"$t%7.2fs").mkString(" ") +
        f"   ${ccTs.last / ccTs.head}%5.1f")
    }

    // ---- distributed-closure leg (the ~10M-doc flagship): the SAME
    // near-dup edge set, but the closure FORCED onto the
    // large-star/small-star path (driverEdgeThreshold = 0) with the
    // round observer recording (round, canonical edges) per round —
    // the claim under test at 10M docs is that ROUND COUNT grows
    // ~log n while each round's edge volume (the per-round constant)
    // tracks the linearly-growing pair set. Run with "64 256 512" at
    // sf0.1 to put ~10.2M docs through the full census + closure.
    if (on("components distributed")) {
      val ccTs = mults.map { m =>
        val d = corpus(m)
        d.count()
        val rounds = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
        def run(): Unit = {
          rounds.clear()
          val mapping = graft.dedup.Components.connectedComponents(
            Dedup.nearDuplicates(d, "text", "doc_id")
              .select(col("id_a"), col("id_b")),
            driverEdgeThreshold = 0L,
            roundObserver = (r, e) => { rounds += ((r, e)); () })
          mapping.count()
          mapping.unpersist(true)
        }
        run() // warm
        val t = time(run())
        spark.catalog.clearCache()
        println(f"  [progress] components distributed ${m}x: $t%.2fs " +
          s"rounds=${rounds.size}")
        (t, rounds.toList)
      }
      println(f"${"components distributed"}%-22s " +
        ccTs.map(t => f"${t._1}%7.2fs").mkString(" ") +
        f"   ${ccTs.last._1 / ccTs.head._1}%5.1f")
      mults.zip(ccTs).foreach { case (m, (_, rs)) =>
        println(f"  ${m + "x"}%6s rounds=${rs.size}%2d " +
          rs.map { case (r, e) => s"r$r:$e" }.mkString(" "))
      }
    }

    // ---- as-of join leg: scaled event log, replica-distinct users —
    // per-user sort runs stay constant size, so the single key shuffle
    // must scale linearly.
    if (on("asof attribution")) {
  val asofTs = mults.map { m =>
        val ev0 = graft.sources.Tables.load(spark, sfDir, "events")
        val ev = ev0.crossJoin(spark.range(m).select(col("id").as("__rep")))
          .select((col("event_id") * m + col("__rep")).as("event_id"),
            (col("user_id") * m + col("__rep")).as("user_id"),
            col("ts"), col("event_type"))
          .repartition(32).cache()
        ev.count()
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("ts").as("p_ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts").as("c_ts"))
        def run(): Unit = graft.operators.AsOf.joinAsOf(purchases, clicks,
          Seq("user_id"), "p_ts", "c_ts", "click_id", Seq("click_id"))
          .agg(count(col("click_id"))).collect()
        run() // warm
        val t = time(run())
        spark.catalog.clearCache()
        t
      }
      println(f"${"asof attribution"}%-22s " +
        asofTs.map(t => f"$t%7.2fs").mkString(" ") +
        f"   ${asofTs.last / asofTs.head}%5.1f")
    }

    // ---- int8 quantized ANN leg: pure scan work (quantize + integer
    // dot + TakeOrdered) — must be linear like the image decode.
    if (on("int8 ann topk")) {
  val int8Ts = mults.map { m =>
        val e0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val e = e0.crossJoin(spark.range(m).select(col("id").as("__rep")))
          .select((col("vec_id") * m + col("__rep")).as("vec_id"), col("embedding"))
          .repartition(32).cache()
        e.count()
        val probe = e0.filter(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0)
        def run(): Unit = graft.similarity.Ann.int8TopK(
          e, "embedding", "vec_id", probe, k = 10).collect()
        run() // warm
        val t = time(run())
        spark.catalog.clearCache()
        t
      }
      println(f"${"int8 ann topk"}%-22s " +
        int8Ts.map(t => f"$t%7.2fs").mkString(" ") +
        f"   ${int8Ts.last / int8Ts.head}%5.1f")
    }

    // ---- semantic-dedup leg: replica-rotated embeddings (components
    // cyclically shifted by the replica id — within-replica geometry
    // identical to the base corpus, cross-replica projections
    // decorrelated, so the m× corpus is m× distinct near-dup structure;
    // a constant shift would be WRONG here: it pushes every high-shift
    // replica to the same sign pattern and collapses them into one
    // cell) with CELL COUNT GROWN WITH THE CORPUS — now the LIBRARY
    // DEFAULT (SemDedup.AutoPlanes sizes cells to corpus density from
    // a count probe; this leg exercises exactly that default, so it is
    // the regression test for the auto-sizing rule). Verified-pair
    // census.
    if (on("semantic dedup")) {
      val semTs = mults.map { m =>
        val e0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val dim = e0.select(size(col("embedding"))).head().getInt(0)
        val e = e0.crossJoin(spark.range(m).select(col("id").as("__rep")))
          .select((col("vec_id") * m + col("__rep")).as("vec_id"),
            transform(col("embedding"), (_, i) =>
              element_at(col("embedding"),
                (pmod(i + col("__rep"), lit(dim)) + 1).cast("int")))
              .as("embedding"))
          .repartition(32).cache()
        e.count()
        def run(): Unit = graft.similarity.SemDedup.nearDuplicatePairs(
          e, "embedding", "vec_id", threshold = 0.4, probeBits = 0)
          .agg(count(lit(1))).collect()
        run() // warm
        val t = time(run())
        val sp = lastSpill
        spark.catalog.clearCache()
        (t, sp)
      }
      println(f"${"semantic dedup"}%-22s " +
        semTs.map(t => f"${t._1}%7.2fs").mkString(" ") +
        f"   ${semTs.last._1 / semTs.head._1}%5.1f")
      spillLine(semTs.map(_._2))
    }
    // ---- fixed-point training/graph/warehouse legs over replicated
    // non-document tables. Shared helper: time a thunk warm, clear
    // caches after.
    def leg(name: String)(build: Int => DataFrame)(run: DataFrame => Unit): Unit =
      if (on(name)) {
        val ts = mults.map { m =>
          val d = build(m); d.count()
          run(d) // warm
          val t = time(run(d))
          val sp = lastSpill
          spark.catalog.clearCache()
          (t, sp)
        }
        println(f"$name%-22s " + ts.map(t => f"${t._1}%7.2fs").mkString(" ") +
          f"   ${ts.last._1 / ts.head._1}%5.1f")
        spillLine(ts.map(_._2))
      }

    // replica-rotated embeddings (the semantic-dedup trick): m× rows
    // of m×-distinct geometry
    def scaledEmb(m: Int): DataFrame = {
      val e0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val dim = e0.select(size(col("embedding"))).head().getInt(0)
      e0.crossJoin(spark.range(m).select(col("id").as("__rep")))
        .select((col("vec_id") * m + col("__rep")).as("vec_id"),
          transform(col("embedding"), (_, i) =>
            element_at(col("embedding"),
              (pmod(i + col("__rep"), lit(dim)) + 1).cast("int")))
            .as("embedding"))
        .repartition(32).cache()
    }
    // per-iteration cost is one literal-centroid scan + a k×dim census
    // — growth should track the scan, i.e. ~linear
    leg("kmeans train")(scaledEmb) { e =>
      graft.similarity.Centroids.lloyd(e, "vec_id", "embedding", 8, 2)
        .agg(count(lit(1)), sum(col("dist_q"))).collect()
    }
    // semantic decontamination: the benchmark side is FIXED (base
    // corpus's %41 rows) while train grows m× — candidates per cell
    // grow with the train side only, so growth must track the train
    // bucketing scan (~linear); super-linear would mean the bench cell
    // table is being recomputed per train partition or the join
    // degenerated off the cell key
    leg("semantic decontam")(scaledEmb) { e =>
      val bench = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .filter(pmod(col("vec_id"), lit(41L)) === 0L)
      graft.text.Decontaminate.semanticContaminated(e, "embedding",
          "vec_id", bench, "embedding", threshold = 0.35,
          numPlanes = 4, probeBits = 1)
        .agg(count(lit(1))).collect()
    }
    // kNN label propagation: seed FIXED, corpus grows — per-row cost
    // is |seed| fused cosines + an O(|seed|·k) scan-local selection,
    // NO aggregate/exchange at all. This leg CAUGHT the previous
    // (aggregate-based) form: ObjectHashAggregate's sort fallback at
    // >128 groups/task sorted the |corpus|×|seed| score stream —
    // 77× wall at 64× growth, 205 GB spill at 8.2M rows. Linear now
    // is the regression bar.
    leg("label propagate")(scaledEmb) { e =>
      val seed = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .filter(pmod(col("vec_id"), lit(5L)) === 0L)
      graft.similarity.LabelPropagate.knnVote(e, seed, "embedding",
          "vec_id", "label", k = 7)
        .agg(count(lit(1)), sum(col("n_votes"))).collect()
    }
    // PageRank loop growth on a LINEAR edge set (ring graph, out-deg 3
    // — the kNN-graph shape without the quadratic brute-force edge
    // build, which at scale comes from q82/q41 generators): m× nodes
    // ⇒ m× edges ⇒ the per-round joins should grow ~linearly
    leg("pagerank loop") { m =>
      val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count() * m
      spark.range(n).select(col("id").as("src"))
        .crossJoin(spark.range(1, 4).select(col("id").as("__o")))
        .select(col("src"), pmod(col("src") + col("__o"), lit(n)).as("dst"))
        .repartition(32).cache()
    } { e =>
      graft.graph.PageRank.rankInt(e, iters = 2)
        .agg(sum(col("pr"))).collect()
    }
    // SCD2 apply over an m×-keyed customer dimension with a 30% gated
    // change batch: one full-outer join on the open set — ~linear
    leg("scd2 apply") { m =>
      spark.read.parquet(s"$sfDir/customer.parquet")
        .crossJoin(spark.range(m).select(col("id").as("__rep")))
        .select((col("c_custkey") * m + col("__rep")).as("c_custkey"),
          concat(col("c_mktsegment"), col("__rep")).as("c_mktsegment"),
          col("c_nationkey"))
        .repartition(32).cache()
    } { c =>
      val dim0 = graft.operators.Scd2.initial(c, 0L)
      val b = c.filter(pmod(Dedup.portableHash60(
          col("c_custkey").cast("string")), lit(100L)) < 30)
        .select(col("c_custkey"),
          concat(col("c_mktsegment"), lit("#1")).as("c_mktsegment"),
          col("c_nationkey"))
      graft.operators.Scd2.apply(dim0, b, Seq("c_custkey"),
          Seq("c_mktsegment", "c_nationkey"), 100L)
        .agg(count(lit(1)), sum(col("valid_from"))).collect()
    }
    // replicated events (users remapped per replica): TWAP window runs
    // and the cohort census both ~linear in event volume
    def scaledEvents(m: Int): DataFrame = {
      graft.sources.Tables.load(spark, sfDir, "events")
        .crossJoin(spark.range(m).select(col("id").as("__rep")))
        .select((col("event_id") * m + col("__rep")).as("event_id"),
          col("ts"), (col("user_id") * m + col("__rep")).as("user_id"),
          col("event_type"), col("value"))
        .repartition(32).cache()
    }
    leg("twap census")(scaledEvents) { e =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("us"), col("event_id"))
      e.select(col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us"),
          floor(col("value") * 100).cast("long").as("cents"))
        .withColumn("nxt", lead(col("us"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .withColumn("dt_s", expr("(nxt - us) div 1000000"))
        .groupBy(col("event_type"))
        .agg(sum(col("cents") * col("dt_s"))).collect()
    }
    leg("cohort retention")(scaledEvents) { e =>
      e.select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("d"))
        .groupBy(col("user_id"))
        .agg(min(col("d")).as("c0"), collect_set(col("d")).as("ds"))
        .select(col("c0"), explode(col("ds")).as("d"))
        .groupBy(col("c0"), (col("d") - col("c0")).as("off"))
        .agg(count(lit(1))).agg(count(lit(1))).collect()
    }
    // bigram-LM train+score: two token-keyed censuses + one model join
    // over the exploded stream — replicas have disjoint vocabularies so
    // the model table grows m× too; everything stays keyed ⇒ ~linear
    leg("lm surprisal")(corpus) { d =>
      graft.text.LangModel.withBigramSurprisal(d, "text", "doc_id")
        .agg(sum(col("surprisal")), sum(col("n_bigrams"))).collect()
    }
    // PQ full pipeline (train m=2/k=4/iters=1, encode, ADC top-10 +
    // rerank): per-iteration literal-centroid scans + a scan-local
    // encode + TakeOrdered query ⇒ ~linear, nothing quadratic
    leg("pq train+query")(scaledEmb) { e =>
      val probe = e.orderBy(col("vec_id")).select(col("embedding"))
        .head().getSeq[Float](0)
      val model = graft.similarity.Pq.train(e, "vec_id", "embedding",
        dim = 64, m = 2, k = 4, iters = 1)
      val enc = graft.similarity.Pq.encode(e, "embedding", model)
      graft.similarity.Pq.adcTopK(enc, "embedding", "vec_id", model,
        probe, k = 10).collect()
    }
    // hard-negative mining at a FIXED anchor count (gate widens with
    // m): one broadcast-anchor corpus scan + bounded top-k ⇒ ~linear
    leg("hard negatives") { m => scaledEmb(m) } { e =>
      val n = e.count()
      val gateMod = math.max(1L, n / 20L)
      graft.similarity.Ann.hardNegatives(e, "embedding", "vec_id",
          pmod(col("vec_id"), lit(gateMod)) === 0L,
          posThreshold = 0.5, k = 3)
        .agg(count(lit(1)), sum(col("neg_id"))).collect()
    }
    // journey analytics: attribution credit + transition census — one
    // user-keyed window shuffle each; m× users keeps journey length
    // constant ⇒ ~linear
    def scaledEventsJ(m: Int): DataFrame = {
      graft.sources.Tables.load(spark, sfDir, "events")
        .crossJoin(spark.range(m).select(col("id").as("__rep")))
        .select((col("event_id") * m + col("__rep")).as("event_id"),
          col("ts"), (col("user_id") * m + col("__rep")).as("user_id"),
          col("event_type"))
        .repartition(32).cache()
    }
    leg("attribution credit")(scaledEventsJ) { e =>
      graft.operators.Attribution.uShapedCredit(
          e.select(col("user_id"), col("event_id"), col("event_type"),
            expr("unix_micros(ts)").as("us")),
          "user_id", "event_id", "event_type", "us")
        .agg(sum(col("credit_bp")), count(lit(1))).collect()
    }
    // round-7 legs (round-6 additions that skipped ScaleSmoke) --------

    // kNN-GRAPH PageRank on a REAL edge set: the edge build is the
    // expensive stage, so it runs through the scale path —
    // Ann.knnGraph's density-sized LSH cells (per-cell pairwise work
    // ~constant as n grows) + bounded top-k — then 2 PR iterations
    // over those edges. Expect ~linear; the ring-edge leg above only
    // measured the PR loop.
    leg("knn-graph pagerank")(scaledEmb) { e =>
      val edges = graft.similarity.Ann.knnGraph(e, "embedding", "vec_id",
          k = 3, probeBits = 0)
        .select(col("src"), col("dst"))
      graft.graph.PageRank.rankInt(edges, iters = 2)
        .agg(sum(col("pr")), count(lit(1))).collect()
    }
    // the multi-probe recall lever's measured cost: probeBits=1 fans
    // each node out to planes+1 probed cells. Under AutoPlanes the
    // plane count itself grows ~log2(n/128), so this leg is expected
    // MILDLY SUPER-linear — n·log n, not a quadratic term: measured
    // 27.3 at 16× growth (linear=16), which matches 16 × (9 probes at
    // 16× / 5 probes at 1×) ≈ 28.8. The lever's price is the probe
    // factor, nothing hidden.
    leg("knn-graph probe1")(scaledEmb) { e =>
      graft.similarity.Ann.knnGraph(e, "embedding", "vec_id",
          k = 3, probeBits = 1)
        .agg(count(lit(1)), sum(col("dst"))).collect()
    }
    // q146 transition census: one user-keyed lead window + one (src,
    // dst) census; m× users at constant journey length ⇒ ~linear
    leg("transition census")(scaledEventsJ) { e =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      e.select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("nxt", lead(col("event_type"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .groupBy(col("event_type"), col("nxt"))
        .agg(count(lit(1))).agg(count(lit(1))).collect()
    }
    // q164 rolling 7-day distinct: distinct (user, day) then an
    // explode to the ≤7 covered days — row volume 7× the distinct set,
    // never a per-day rescan ⇒ ~linear
    leg("rolling distinct")(scaledEventsJ) { e =>
      e.select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
        .select(col("user_id"),
          explode(sequence(col("day"), col("day") + 6L)).as("td"))
        .groupBy(col("td"))
        .agg(countDistinct(col("user_id"))).agg(count(lit(1))).collect()
    }
    // q130's maintenance loop at m×: SCD2 table bootstrapped to disk,
    // then 2 change batches each applied and rewritten through parquet
    // (the stream's per-batch cost IS this read→apply→write cycle);
    // per-cycle work is one full-outer join on the open set ⇒ ~linear
    leg("scd2 stream replay") { m =>
      spark.read.parquet(s"$sfDir/customer.parquet")
        .crossJoin(spark.range(m).select(col("id").as("__rep")))
        .select((col("c_custkey") * m + col("__rep")).as("c_custkey"),
          concat(col("c_mktsegment"), col("__rep")).as("c_mktsegment"),
          col("c_nationkey"))
        .repartition(32).cache()
    } { c =>
      val tmp = java.nio.file.Files.createTempDirectory("smoke-scd2").toString
      graft.operators.Scd2.initial(c, 0L).write.parquet(s"$tmp/t0")
      var cur = s"$tmp/t0"
      (1 to 2).foreach { i =>
        val b = c.filter(pmod(Dedup.portableHash60(
            col("c_custkey").cast("string")), lit(100L)) < 30)
          .select(col("c_custkey"),
            concat(col("c_mktsegment"), lit(s"#$i")).as("c_mktsegment"),
            col("c_nationkey"))
        val next = graft.operators.Scd2.apply(spark.read.parquet(cur), b,
          Seq("c_custkey"), Seq("c_mktsegment", "c_nationkey"), i * 100L)
        next.write.parquet(s"$tmp/t$i")
        cur = s"$tmp/t$i"
      }
      spark.read.parquet(cur).agg(count(lit(1))).collect()
    }
    // q150's maintenance core at m×: PQ codebook trained ONCE on the
    // base corpus (the index's standing model), then each m× delta
    // encodes scan-locally against the literal codebook and appends —
    // per-batch cost tracks the delta scan ⇒ ~linear
    if (on("pq maintenance")) {
      val model = graft.similarity.Pq.train(
        spark.read.parquet(s"$sfDir/embeddings.parquet"),
        "vec_id", "embedding", dim = 64, m = 2, k = 4, iters = 1)
      val ts = mults.map { m =>
        val e = scaledEmb(m); e.count()
        val tmp = java.nio.file.Files.createTempDirectory("smoke-pq").toString
        def run(): Unit = {
          graft.similarity.Pq.encode(e, "embedding", model)
            .select(col("vec_id"), col("code_0"), col("code_1"))
            .write.mode("append").parquet(s"$tmp/codes")
        }
        run() // warm
        val t = time(run())
        spark.catalog.clearCache()
        t
      }
      println(f"${"pq maintenance"}%-22s " +
        ts.map(t => f"$t%7.2fs").mkString(" ") +
        f"   ${ts.last / ts.head}%5.1f")
    }

    // replica-suffixed tokens divide every df by m — hold the PER-
    // REPLICA support constant (0.2/m) so the frequent set and the
    // per-document pair work stay fixed while the corpus grows m×
    if (on("frequent pairs")) {
      val ts = mults.map { m =>
        val d = corpus(m); d.count()
        def run(): Unit = graft.text.Itemsets.frequentPairs(
            d, "text", "doc_id", minSupFrac = 0.2 / m, k = 20)
          .agg(count(lit(1)), sum(col("n"))).collect()
        run(); val t = time(run()); spark.catalog.clearCache(); t
      }
      println(f"${"frequent pairs"}%-22s " +
        ts.map(t => f"$t%7.2fs").mkString(" ") +
        f"   ${ts.last / ts.head}%5.1f")
    }

    // round-8 legs: the seven census operators (q180–q186) that landed
    // after the round-7 ScaleSmoke run --------------------------------

    // q180 Gopher rules: scan-local signal columns + a |sources|-group
    // census ⇒ must track the corpus scan, ~linear
    leg("gopher census")(corpus) { d =>
      TextAnalysis.withGopherSignals(d)
        .groupBy(col("source"))
        .agg(sum(when(col("g_fail_mwl") || col("g_fail_len") ||
            col("g_fail_stop") || col("g_fail_rep"), 1L).otherwise(0L))
            .as("n_fail"),
          sum(col("g_sum_word_chars")).as("chars"))
        .collect()
    }
    // q181 blocking quality: the claim under test is ZERO PAIRS
    // MATERIALIZED — three partial-aggregated count shuffles over group
    // cardinalities — so time must track the corpus linearly even
    // though the pair COUNTS the census reports grow quadratically
    // within blocks (the naive self-join would pay those pairs in time)
    leg("blocking quality") { m =>
      corpus(m)
        .withColumn("block", substring(col("text"), 1, 8))
        .withColumn("truth", pmod(col("doc_id"), lit(1000L)))
    } { d =>
      graft.candidates.Blocking.blockingQuality(d, "block", "truth")
        .collect()
    }
    // q182/q183 calibration + κ: one scan into a ~bins-group agg, then
    // the κ append on a one-row confusion census ⇒ ~linear. Scores are
    // real integer rationals (distinct/total tokens), labels the
    // quality flag.
    leg("calibration census")(corpus) { d =>
      val scored = TextAnalysis.withQualitySignals(d)
        .select(col("n_distinct_tokens").as("num"),
          greatest(col("n_tokens"), lit(1)).as("den"),
          col("is_quality").cast("int").as("label"))
      graft.metrics.Calibration.calibrationCensus(
          scored, "num", "den", "label")
        .agg(sum(col("gap_q")), sum(col("n_pairs"))).collect()
      val conf = scored.agg(
        sum(when(col("num") * 2 >= col("den") && col("label") === 1, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("num") * 2 >= col("den") && col("label") === 0, 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("num") * 2 < col("den") && col("label") === 1, 1L)
          .otherwise(0L)).as("fn"),
        sum(when(col("num") * 2 < col("den") && col("label") === 0, 1L)
          .otherwise(0L)).as("tn"))
      graft.metrics.Calibration.withCohenKappa(conf).collect()
    }
    // q184 OHLC resample: ONE partial-aggregated shuffle keyed by
    // (series, bucket) — min_by/max_by carry a single struct through
    // the map-side combine, no per-group sort ⇒ ~linear
    leg("ohlc resample") { m =>
      scaledEvents(m)
        .select(col("event_type"), col("ts"), col("event_id"),
          floor(col("value") * 100).cast("long").as("cents"))
        .repartition(32).cache()
    } { e =>
      graft.operators.Resample.ohlc(e, "event_type", "ts", "event_id",
          "cents", unit = "hour")
        .agg(count(lit(1)), sum(col("sum_value"))).collect()
    }
    // q186 linear interpolation: two frame-bounded window passes over
    // ONE (user, ts) shuffle+sort; m× users at constant series length
    // ⇒ ~linear. A third of the values nulled to give it gaps to fill.
    leg("linear interpolation") { m =>
      scaledEvents(m)
        .select(col("user_id"), col("ts"), col("event_id"),
          when(pmod(col("event_id"), lit(3)) === 0, lit(null))
            .otherwise(floor(col("value") * 100).cast("long")).as("cents"))
        .repartition(32).cache()
    } { e =>
      graft.operators.Interpolate.withLinearFill(
          e, "user_id", Seq(col("ts"), col("event_id")), "cents")
        .agg(sum(col("li_filled")), count(lit(1))).collect()
    }
    // round-8 operators get their growth legs the round they ship —
    // the round-7 lesson institutionalized.

    // SemDedup probeBits=1: candidate volume ×(planes+1) on top of the
    // semantic-dedup leg's cell join — under AutoPlanes the plane
    // count grows ~log2(n/128), so expect the knn-graph-probe1 shape:
    // n·log n, mildly super-linear, nothing hidden
    leg("semdedup probe1")(scaledEmb) { e =>
      graft.similarity.SemDedup.nearDuplicatePairs(
          e, "embedding", "vec_id", threshold = 0.4, probeBits = 1)
        .agg(count(lit(1))).collect()
    }
    // perceptual dedup at Hamming 1: per-row decode+hash is linear;
    // the closure runs over DISTINCT hashes (constant-ish here — the
    // replica corpus reuses the 16 visual groups), so end-to-end must
    // track the decode scan
    leg("perceptual dedup") { m =>
      val ids = spark.range(20000L * m).select(col("id").as("doc_id"))
        .repartition(32).cache()
      ids.count()
      ids
    } { ids =>
      val hashed = graft.multimodal.Multimodal.withAverageHash(
        graft.multimodal.Multimodal.synthesizeGroupedPngs(ids, "doc_id"))
      val r = graft.multimodal.Multimodal.perceptualDedup(
        hashed, "media_id", maxHamming = 1)
      try r.survivors.agg(count(lit(1))).collect()
      finally r.close()
    }
    // pigeonhole-complete simhash dedup: one sketch pass + 4 per-block
    // equi-joins (guaranteed recall at Hamming ≤ 3); replica-salted
    // tokens keep true pairs m-scaled, so growth must track the
    // per-block bucket join ⇒ ~linear
    leg("simhash complete")(corpus) { d =>
      Dedup.simhashNearDuplicatesComplete(
          d.filter(col("text").isNotNull)
            .select(col("doc_id"), Dedup.simhashPortable(col("text")).as("sig")),
          "doc_id", maxDistance = 3, bits = 60)
        .agg(count(lit(1)), sum(col("distance"))).collect()
    }
    // incremental perceptual replay: TWO sequential half-batches
    // through the stream's per-batch body — batch 2's anti-join runs
    // against the history batch 1 appended, so the leg measures the
    // history-probe cost as BOTH sides grow m× ⇒ must stay ~linear
    // (the history side is an anti-join key set, never re-hashed)
    leg("perceptual incr replay") { m =>
      val ids = spark.range(20000L * m).select(col("id").as("doc_id"))
        .repartition(32).cache()
      ids.count(); ids
    } { ids =>
      val hist = java.nio.file.Files
        .createTempDirectory("smoke-pdd").toString + "/history"
      (0 until 2).foreach { i =>
        val half = graft.multimodal.Multimodal.synthesizeGroupedPngs(
          ids.filter(pmod(col("doc_id"), lit(2)) === i), "doc_id")
        graft.streaming.StreamingOps.perceptualDedupBatch(half, hist)(
          _.agg(count(lit(1))).collect())
      }
    }
    // audio fingerprint: per-row WAV decode + window fold ⇒ linear
    leg("audio fingerprint") { m =>
      val ids = spark.range(20000L * m).select(col("id").as("doc_id"))
        .repartition(32).cache()
      ids.count(); ids
    } { ids =>
      graft.multimodal.Multimodal.withAudioFingerprint(
          graft.multimodal.Multimodal.synthesizeWavs(ids, "doc_id"),
          windowSamples = 16)
        .agg(sum(col("ahash_lo")), count(lit(1))).collect()
    }
    // video keyframe hash: container parse + ONE frame decode per row
    // regardless of video length ⇒ linear
    leg("video keyframe") { m =>
      val ids = spark.range(20000L * m).select(col("id").as("doc_id"))
        .repartition(32).cache()
      ids.count(); ids
    } { ids =>
      graft.multimodal.Multimodal.withVideoKeyframeHash(
          graft.multimodal.Multimodal.synthesizeVideos(ids, "doc_id"))
        .agg(sum(col("ahash_lo")), count(lit(1))).collect()
    }
    // q185 kNN-graph structure census on a REAL Ann.knnGraph edge set:
    // the edge build is timed by its own legs above, so it happens in
    // the BUILD step (cached); the timed stage is the census itself —
    // one reversed-key equi-join of |E| = k·n edges + two count aggs,
    // never the n² pair space ⇒ ~linear in |E|
    leg("knn-graph census") { m =>
      val edges = graft.similarity.Ann.knnGraph(
          scaledEmb(m), "embedding", "vec_id", k = 3, probeBits = 0)
        .select(col("src"), col("dst"))
        .repartition(32).cache()
      edges.count()
      edges
    } { edges =>
      graft.graph.GraphOps.degreeReciprocityCensus(edges).collect()
    }
    // q187 OR-completeness census: per-key joins RESTRICTED to
    // within-truth-group pairs (the documented bounded-truth contract
    // — groups of ≤2 here, the clone-probe shape), keyed shuffles on
    // (truth, band key) ⇒ ~linear in corpus size even as the corpus
    // around the truth set grows m×
    leg("or completeness") { m =>
      corpus(m)
        .withColumn("k1", substring(col("text"), 1, 8))
        .withColumn("k2", substring(col("text"), 10, 8))
        .withColumn("truth", shiftright(col("doc_id"), 1))
    } { d =>
      graft.candidates.Blocking.orPairCompleteness(
        d, Seq("k1", "k2"), "truth", "doc_id").collect()
    }
    // q188 self-recall census (the evidence gate inside
    // CandidateGenerator.auto): one TakeOrdered sample scan over the
    // corpus, then all sketch/band/census work on the FIXED 256-row
    // probe set ⇒ the corpus term is the scan, ~linear
    leg("self recall census") { m =>
      corpus(m).select(col("doc_id").as("id"), col("text"))
    } { d =>
      graft.candidates.LshBlockingGenerator.selfRecallCensus(d).collect()
    }
    // q189 autoProbe SELECTION pass itself (the recall-curve build,
    // not the knnGraph it feeds): the probe set is gated to a FIXED
    // count as the corpus grows (the production posture — the sampled
    // ground truth is bounded by design), so the exact side is
    // probe×corpus scans and the banded side keyed joins ⇒ ~linear
    leg("autoprobe selection") { m =>
      scaledEmb(m)
    } { e =>
      val n = e.count()
      val gate = math.max(1L, n / 200L)
      graft.similarity.Ann.autoProbe(e, "embedding", "vec_id", k = 10,
        probeGate = pmod(col("vec_id"), lit(gate)) === 0L,
        targetRecallPct = 40L)._2.collect()
    }
    // q196 pipeline funnel END-TO-END: the seven-stage composition
    // (exact dedup → minhash near-dup → semdedup → gopher → decontam →
    // mix → pack) as ONE chained job — the composition inherits each
    // stage's posture, so growth at-or-below linear here certifies the
    // stages still compose when the corpus scales, not just alone.
    // Replica ids keep doc_id/vec_id alignment (both ×m+rep).
    // PRODUCTION geometry (AutoPlanes cells, probe width 1 — the width
    // q189's governor picks on this corpus): the catalog query's
    // pinned 4-plane cells are a replay artifact that goes quadratic
    // in cell density (measured 27.7 at 16× before this leg switched).
    if (on("pipeline funnel")) {
      val ts = mults.map { m =>
        val d = corpus(m); d.count()
        val e = scaledEmb(m); e.count()
        def run(): Unit = graft.queries.PipelineQueries
          .pipelineFunnel(spark, d, e).collect()
        run() // warm
        val t = time(run())
        spark.catalog.clearCache()
        t
      }
      println(f"${"pipeline funnel"}%-22s " +
        ts.map(t => f"$t%7.2fs").mkString(" ") +
        f"   ${ts.last / ts.head}%5.1f")
    }
    // q197 incremental near-dup: FIXED batch against m×-growing
    // history — the 100 TB maintenance posture. History contributes
    // one band-key sketch pass and the keyed probe join (both linear);
    // candidates and edges stay batch-driven. Every batch doc here
    // collides with a history replica (worst-case edge volume for the
    // batch size), so growth at-or-below linear certifies the claim
    // that history×history is never rescanned.
    if (on("incremental neardup")) {
      val ts = mults.map { m =>
        val d = corpus(m).select(col("doc_id"), col("text")); d.count()
        val batch = corpus(1)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
          .cache()
        batch.count()
        def run(): Unit = {
          val r = Dedup.incrementalNearDuplicates(d, batch,
            "text", "doc_id", threshold = 0.7)
          try r.survivors.count() finally r.close()
        }
        run() // warm
        val t = time(run())
        spark.catalog.clearCache()
        println(f"  [progress] incremental neardup ${m}x: $t%.2fs")
        t
      }
      println(f"${"incremental neardup"}%-22s " +
        ts.map(t => f"$t%7.2fs").mkString(" ") +
        f"   ${ts.last / ts.head}%5.1f")
    }
    // HOT-BAND-KEY probe (the q197 batch×history join's degenerate
    // case): the probe join is UNCAPPED by correctness — a capped
    // history probe would resurrect dupes — so its worst case is one
    // band key carried by every history doc. Manufactured exactly via
    // the historyKeys seam: 10⁴·m history docs (distinct word-soup
    // texts, so verification kills every candidate) all declaring one
    // REAL batch band key. Work = the hot-key probe join + the
    // referenced-id shingle verify, both linear in history BY SHAPE;
    // at-or-below-linear growth certifies the fan-out rides the normal
    // shuffle path. The reducer-level escape hatches are pinned in
    // PlanQualitySpec ("AQE skew-split spreads a degenerate hot band
    // key"): AQE splits the hot partition at production sizes, and
    // Skew.saltedJoin is the explicit lever below its thresholds.
    if (on("hot-key probe")) {
      val batch = corpus(1).select(col("doc_id"), col("text")).cache()
      batch.count()
      val hot = Dedup.lshBandKeys(batch, "text", "doc_id")
        .select(col("band"), col("key")).head()
      val ts = mults.map { m =>
        val n = 10000L * m
        // ids BELOW the batch's (the min-id ordering contract) and
        // pairwise-distinct soup texts: jaccard ≈ 0 against everything
        val hist = spark.range(n).select(
          (col("id") - n).as("doc_id"),
          concat_ws(" ", (0 until 25).map(j =>
            concat(lit("w"), pmod(col("id") * 31L + lit(j * 7919L),
              lit(1000003L)).cast("string"))): _*).as("text"))
          .cache()
        hist.count()
        val keys = hist.select(col("doc_id"),
          lit(hot.getInt(0)).as("band"), lit(hot.getString(1)).as("key"))
        def run(): Unit = {
          val r = Dedup.incrementalNearDuplicates(hist, batch,
            "text", "doc_id", threshold = 0.7, historyKeys = Some(keys))
          try r.survivors.count() finally r.close()
        }
        run() // warm
        val t = time(run())
        hist.unpersist()
        t
      }
      batch.unpersist()
      spark.catalog.clearCache()
      println(f"${"hot-key probe"}%-22s " +
        ts.map(t => f"$t%7.2fs").mkString(" ") +
        f"   ${ts.last / ts.head}%5.1f")
    }
    // q199 fraction decontamination: one distinct-gram explode over the
    // train side + a broadcast benchmark gram join + per-doc count agg
    // ⇒ ~linear (the benchmark side is FIXED — production shape)
    leg("decontam fraction") { m =>
      corpus(m)
    } { d =>
      val bg = graft.text.Decontaminate.gramSet(
        d.filter(col("source") === "src19").limit(2000), "text", 3)
      graft.text.Decontaminate.overlapCensus(
          d.filter(col("source") =!= "src19"), "text", "doc_id", bg, 3)
        .agg(count(lit(1)), sum(col("n_matched"))).collect()
    }
    // q198 incremental SEMANTIC dedup: same posture as the minhash
    // twin — fixed batch, m×-growing history, pinned cell geometry
    // (the maintenance contract): history contributes one cell
    // assignment scan + the keyed probe join ⇒ at-or-below linear.
    // Planes sized for the LARGEST history so cells stay sane as m
    // grows (pinned geometry is the operator's own requirement).
    if (on("incremental semdedup")) {
      val planes = graft.similarity.SemDedup.autoPlanes(
        spark.read.parquet(s"$sfDir/embeddings.parquet").count() * mults.last)
      val ts = mults.map { m =>
        val h = scaledEmb(m); h.count()
        val batch = scaledEmb(1)
          .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
          .cache()
        batch.count()
        def run(): Unit = {
          val r = graft.similarity.SemDedup.incrementalEmbeddingNearDuplicates(
            h, batch, "embedding", "vec_id", threshold = 0.3,
            numPlanes = planes, probeBits = 1)
          try r.survivors.count() finally r.close()
        }
        run() // warm
        val t = time(run())
        spark.catalog.clearCache()
        t
      }
      println(f"${"incremental semdedup"}%-22s " +
        ts.map(t => f"$t%7.2fs").mkString(" ") +
        f"   ${ts.last / ts.head}%5.1f")
    }
    // Manku key-width claim, measured as CANDIDATE VOLUME (the number
    // the join pays, from cardinality arithmetic — zero pairs
    // materialized): autoBlocks must keep candidates near-linear while
    // the minimal nb=d+1 layout's chance collisions (n²·(d+1)/2^15 at
    // 60/4 bits) go super-linear. Run with large mults (4 32 256) to
    // see the divergence; the census itself stays cheap either way.
    if (on("simhash cand census")) {
      val rows = mults.map { m =>
        val sigs = corpus(m).filter(col("text").isNotNull)
          .select(col("doc_id"), Dedup.simhashPortable(col("text")).as("sig"))
          .repartition(32).cache()
        sigs.count()
        val auto = Dedup.simhashCompleteCandidateCensus(sigs).head()
        val minimal = Dedup
          .simhashCompleteCandidateCensus(sigs, numBlocks = 4).head()
        sigs.unpersist()
        spark.catalog.clearCache()
        println(s"  [progress] simhash cand census ${m}x done")
        (m, auto.getLong(0), auto.getInt(1), auto.getLong(3),
          minimal.getLong(3))
      }
      println(f"${"simhash cand census"}%-22s  n / nb / auto-cands / minimal-cands")
      rows.foreach { case (m, n, nb, a, mn) =>
        println(f"  ${m + "x"}%6s n=$n%9d nb=$nb%2d auto=$a%12d minimal=$mn%12d")
      }
      val (growth2, aGrow, mGrow) = (rows.last._2.toDouble / rows.head._2,
        rows.last._4.toDouble / math.max(rows.head._4, 1L),
        rows.last._5.toDouble / math.max(rows.head._5, 1L))
      println(f"  [cand growth] corpus ${growth2}%.0fx: auto ${aGrow}%.1fx, " +
        f"minimal ${mGrow}%.1fx")
    }
    spark.stop()
  }
}


