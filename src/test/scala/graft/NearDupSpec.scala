package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** `Dedup.nearDuplicates` verifies each pair inside its LSH bucket. Its
  * rows must equal the join-back formulation
  * (`ReferenceTwins.nearDuplicatesJoinBack`: candidate pairs, then
  * `Dedup.verifyJaccard`) row for row, jaccard bit for bit. The
  * operators that reuse band keys (`dropNearDuplicatesFromKeys`,
  * `incrementalNearDuplicates`) verify on the texts the keys carry and
  * must give the single-pass and full-replay answers, and each pass
  * must stay within its job budget.
  */
class NearDupSpec extends SparkSpec {

  import spark.implicits._
  import NearDupSpec.planted

  private type PairRow = (Long, Long, Long) // id_a, id_b, jaccard bits

  private def rowsOf(pairs: DataFrame): Seq[PairRow] =
    pairs.select(col("id_a").cast("long"), col("id_b").cast("long"), col("jaccard"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), bits(r.getDouble(2))))
      .sorted

  /** Both formulations over `docs`; returns the in-bucket rows. */
  private def assertTwins(docs: DataFrame, threshold: Double = 0.7,
      numBands: Int = 2, rowsPerBand: Int = 2,
      maxBucketSize: Int = Int.MaxValue): Seq[PairRow] = {
    val fast = rowsOf(Dedup.nearDuplicates(docs, "text", "doc_id", threshold,
      numBands, rowsPerBand, maxBucketSize = maxBucketSize))
    val twin = rowsOf(ReferenceTwins.nearDuplicatesJoinBack(docs, "text", "doc_id",
      threshold, numBands, rowsPerBand, maxBucketSize = maxBucketSize))
    assert(fast === twin)
    fast
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  test("null ids take part in no pair") {
    val docs = Seq[(Option[Long], String)](
      (Some(1L), "the same five word text"), (None, "the same five word text"),
      (Some(2L), "the same five word text"), (None, "the same five word text"),
      (Some(3L), "another text entirely of words"), (None, "another text entirely of words")
    ).toDF("doc_id", "text")
    val rows = assertTwins(docs)
    assert(rows === Seq((1L, 2L, bits(1.0))))
  }

  test("null, empty and shorter-than-k texts") {
    val docs = Seq[(Long, String)](
      (1L, null), (2L, null), (3L, ""), (4L, ""), (5L, "a b"), (6L, "a b"),
      (7L, "x"), (8L, "x"), (9L, "a b c"), (10L, "a b c d"), (11L, "z y")
    ).toDF("doc_id", "text")
    val rows = assertTwins(docs, threshold = 0.0)
    // equal short texts are one whole-text shingle each, so they pair
    Seq((3L, 4L), (5L, 6L), (7L, 8L)).foreach { p =>
      assert(rows.exists(r => (r._1, r._2) == p), rows)
    }
  }

  test("two null-text docs pair at jaccard 1.0: both band keys are empty") {
    val docs = Seq[(Long, String)]((1L, null), (2L, null), (3L, "a b c d e"))
      .toDF("doc_id", "text")
    val keys = Dedup.lshBandKeys(docs, "text", "doc_id")
      .filter(col("text").isNull).select(col("key")).distinct().collect()
    assert(keys.map(_.getString(0)).toSeq === Seq(""))
    // each null text's shingle set is [null], and [null] ∩ [null] = [null]
    assert(assertTwins(docs) === Seq((1L, 2L, bits(1.0))))
  }

  test("each verify plan scores a pair with one jaccard call") {
    val docs = planted(4).toDF("doc_id", "text")
    // the unexecuted adaptive plan prints the physical plan once (a
    // final one would print the initial plan beside it)
    def jaccardCalls(df: DataFrame): Int =
      "shingle_jaccard\\(".r.findAllMatchIn(df.queryExecution.executedPlan.toString).size
    assert(jaccardCalls(Dedup.nearDuplicates(docs, "text", "doc_id")) === 1)
    val keysB = Dedup.lshBandKeys(docs.filter(col("doc_id") >= 250L), "text", "doc_id")
    val keysH = Dedup.lshBandKeys(docs.filter(col("doc_id") < 250L), "text", "doc_id")
    assert(jaccardCalls(Dedup.historyProbe(keysH, keysB, "text", "doc_id", 0.7, 3)) === 1)
  }

  test("all-identical texts, uncapped and capped at 16") {
    val docs = (0L until 40L).map(i => (i, "same exact text every time")).toDF("doc_id", "text")
    val all = assertTwins(docs)
    assert(all.size === 40 * 39 / 2) // both bands collide, each pair once
    assert(all.forall(_._3 == bits(1.0)))
    val capped = assertTwins(docs, maxBucketSize = 16)
    assert(capped.size === 16 * 15 / 2)
    assert(capped.forall(r => r._1 < 16L && r._2 < 16L)) // smallest ids kept
  }

  test("a pair colliding in both bands is kept once") {
    val same = "one two three four five six seven eight"
    val docs = Seq((1L, same), (2L, "unrelated words go here now"), (3L, same))
      .toDF("doc_id", "text")
    val keys = Dedup.lshBandKeys(docs, "text", "doc_id")
      .filter(col("doc_id") =!= 2L).groupBy(col("band"))
      .agg(countDistinct(col("key")).as("n")).collect()
    assert(keys.length === 2 && keys.forall(_.getLong(1) == 1L)) // both bands shared
    assert(assertTwins(docs) === Seq((1L, 3L, bits(1.0))))
  }

  test("a pair at exactly the threshold is kept") {
    val docs = planted(5).toDF("doc_id", "text")
    val scored = assertTwins(docs, threshold = 0.0)
    val scores = scored.map(r => java.lang.Double.longBitsToDouble(r._3))
      .filter(j => j > 0.0 && j < 1.0).distinct.sorted
    assert(scores.size >= 3, scores)
    val t = scores(scores.size / 2)
    val kept = assertTwins(docs, threshold = t)
    assert(kept === scored.filter(r => java.lang.Double.longBitsToDouble(r._3) >= t))
    assert(kept.exists(_._3 == bits(t)))
  }

  test("seeded corpus with planted clusters, two band schemes") {
    val docs = planted(1).toDF("doc_id", "text")
    assert(assertTwins(docs).size >= 40) // every cluster has a copy
    assertTwins(docs, threshold = 0.5, numBands = 4, rowsPerBand = 1)
  }

  test("a band scheme below 1 is rejected, naming the value") {
    import graft.candidates.LshBlockingGenerator
    import graft.dedup.IncrementalDedup
    val docs = planted(3, background = 10, clusters = 2).toDF("doc_id", "text")
    val history = IncrementalDedup.emptyHistory(spark, "doc_id")
    Seq[(String, () => Any)](
      "numBands must be >= 1, got 0" -> (() =>
        Dedup.dropNearDuplicates(docs, "text", "doc_id", numBands = 0)),
      "rowsPerBand must be >= 1, got 0" -> (() =>
        Dedup.lshBandKeys(docs, "text", "doc_id", rowsPerBand = 0)),
      "k must be >= 1, got -1" -> (() =>
        Dedup.nearDuplicates(docs, "text", "doc_id", k = -1)),
      "rowsPerBand must be >= 1, got 0" -> (() =>
        IncrementalDedup.nearDupNewDocs(history, docs, "text", "doc_id", rowsPerBand = 0)),
      "numBands must be >= 1, got 0" -> (() =>
        IncrementalDedup.nearDupNewDocs(history, docs, "text", "doc_id", numBands = 0)),
      "rowsPerBand must be >= 1, got 0" -> (() =>
        LshBlockingGenerator.withBandKeys(docs, rowsPerBand = 0)),
      "numBands must be >= 1, got 0" -> (() =>
        LshBlockingGenerator(numBands = 0).pairs(docs.limit(1), docs,
          probeIsLeft = true, graft.schema.PairSchema.default))
    ).foreach { case (msg, run) =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains(msg), e.getMessage)
    }
  }

  /** [[planted]] with every tenth id null. */
  private def withNullIds(seed: Long): DataFrame =
    planted(seed).map { case (id, t) => (if (id % 10 == 7) None else Some(id), t) }
      .toDF("doc_id", "text")

  private def ids(df: DataFrame): Seq[Option[Long]] =
    df.select(col("doc_id")).collect().toSeq
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).sorted

  test("dropNearDuplicatesFromKeys over lshBandKeys equals dropNearDuplicates") {
    val docs = withNullIds(6)
    val keys = Dedup.lshBandKeys(docs, "text", "doc_id").persist()
    val viaKeys = Dedup.dropNearDuplicatesFromKeys(docs, keys, "text", "doc_id")
    val direct = Dedup.dropNearDuplicates(docs, "text", "doc_id")
    try {
      assert(ids(viaKeys.losers).nonEmpty)
      assert(ids(viaKeys.losers) === ids(direct.losers))
      assert(ids(viaKeys.survivors) === ids(direct.survivors))
      assert(ids(viaKeys.survivors).count(_.isEmpty) === ids(docs).count(_.isEmpty))
    } finally { viaKeys.close(); direct.close(); keys.unpersist() }
  }

  test("incremental dedup: history keys change nothing, min-id equals the full replay") {
    val docs = withNullIds(7)
    val split = 250L
    // null ids only in the batch, so the replay's nulls are all batch rows
    val histR = Dedup.dropNearDuplicates(docs.filter(col("doc_id") < split),
      "text", "doc_id")
    val history = histR.survivors.persist()
    val batch = docs.filter(col("doc_id").isNull || col("doc_id") >= split)
    val keys = Dedup.lshBandKeys(history, "text", "doc_id").persist()
    def survivors(historyWins: Boolean, historyKeys: Option[DataFrame]) = {
      val r = Dedup.incrementalNearDuplicates(history, batch, "text", "doc_id",
        historyKeys = historyKeys, historyWins = historyWins, enforceIdOrder = true)
      try ids(r.survivors) finally r.close()
    }
    val replay = Dedup.dropNearDuplicates(history.unionByName(batch), "text", "doc_id")
    try {
      Seq(false, true).foreach { historyWins =>
        assert(survivors(historyWins, Some(keys)) === survivors(historyWins, None))
      }
      val minId = survivors(historyWins = false, None)
      assert(minId.size < ids(batch).size) // batch copies and history clones die
      assert(minId === ids(replay.survivors.filter(
        col("doc_id").isNull || col("doc_id") >= split)))
    } finally {
      replay.close(); keys.unpersist(); history.unpersist(); histR.close()
    }
  }

  private def plantedParquet(seed: Long): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("near-dup-budget").toString + "/docs"
    planted(seed).toDF("doc_id", "text").write.parquet(dir)
    spark.read.parquet(dir)
  }

  test("dropNearDuplicates pass fires at most 5 jobs") {
    val docs = plantedParquet(2)
    val (survivors, window) = Trace.window(spark)(assertNoNewPins {
      val r = Dedup.dropNearDuplicates(docs, "text", "doc_id")
      try r.survivors.collect() finally r.close()
    })
    assert(window.flushed)
    assert(survivors.length < docs.count()) // planted copies are gone
    // 5 closing on one bounded collect; 7 through the pinned canonical
    // edges and their checksum, 11 with the join-back verify
    assert(window.jobs.size <= 5, window.jobs.map(_.description))
  }

  test("dropNearDuplicatesFromKeys pass fires at most 6 jobs") {
    val docs = plantedParquet(2)
    val (survivors, window) = Trace.window(spark)(assertNoNewPins {
      val keys = Dedup.lshBandKeys(docs, "text", "doc_id").persist()
      val r = Dedup.dropNearDuplicatesFromKeys(docs, keys, "text", "doc_id")
      try r.survivors.collect() finally { r.close(); keys.unpersist() }
    })
    assert(window.flushed)
    assert(survivors.length < docs.count())
    // 6 closing on one bounded collect; 8 through the pinned canonical
    // edges and their checksum, 17 with the referenced-id join-back
    assert(window.jobs.size <= 6, window.jobs.map(_.description))
  }

  test("incrementalNearDuplicates fires at most 18 jobs") {
    val docs = plantedParquet(2)
    val (survivors, window) = Trace.window(spark)(assertNoNewPins {
      val r = Dedup.incrementalNearDuplicates(docs.filter(col("doc_id") < 250L),
        docs.filter(col("doc_id") >= 250L), "text", "doc_id")
      try r.survivors.collect() finally r.close()
    })
    assert(window.flushed)
    assert(survivors.length < docs.filter(col("doc_id") >= 250L).count())
    // 18 closing on one bounded collect; 20 through the pinned canonical
    // edges and their checksum, 40 with the referenced-id join-back
    assert(window.jobs.size <= 18, window.jobs.map(_.description))
  }
}

object NearDupSpec {

  /** Seeded corpus: `background` unrelated documents of 30-60 Zipf-ish
    * words plus `clusters` planted clusters (a seed text and 1-3 copies
    * with one token dropped or two adjacent tokens swapped).
    */
  def planted(seed: Long, background: Int = 300,
      clusters: Int = 40): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = (0 until 600).map(i => s"w$i")
    def word(): String = vocab(math.min(vocab.size - 1,
      (math.pow(vocab.size.toDouble, rnd.nextDouble()) - 1).toInt))
    def text(): Vector[String] = Vector.fill(30 + rnd.nextInt(31))(word())
    def edit(t: Vector[String]): Vector[String] = {
      val i = rnd.nextInt(t.size - 1)
      if (rnd.nextBoolean()) t.patch(i, Nil, 1)
      else t.updated(i, t(i + 1)).updated(i + 1, t(i))
    }
    val texts = Vector.fill(background)(text()) ++
      (0 until clusters).flatMap { _ =>
        val s = text()
        s +: Vector.fill(1 + rnd.nextInt(3))(edit(s))
      }
    rnd.shuffle(texts.indices.toVector).zip(texts)
      .map { case (id, t) => (id.toLong, t.mkString(" ")) }
  }
}
