package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** `Dedup.nearDuplicates` verifies each pair inside its LSH bucket. Its
  * rows must equal the join-back formulation
  * (`ReferenceTwins.nearDuplicatesJoinBack`: candidate pairs, then
  * `Dedup.verifyJaccard`) row for row, jaccard bit for bit, and a whole
  * `dropNearDuplicates` pass must stay within its job budget.
  */
class NearDupSpec extends SparkSpec {

  import spark.implicits._

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

  /** Seeded corpus: `background` unrelated documents of 30-60 Zipf-ish
    * words plus `clusters` planted clusters (a seed text and 1-3 copies
    * with one token dropped or two adjacent tokens swapped).
    */
  private def planted(seed: Long, background: Int = 300,
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

  test("dropNearDuplicates pass fires at most 7 jobs") {
    val dir = java.nio.file.Files.createTempDirectory("near-dup-budget").toString + "/docs"
    planted(2).toDF("doc_id", "text").write.parquet(dir)
    val docs = spark.read.parquet(dir)
    val (survivors, window) = Trace.window(spark)(assertNoNewPins {
      val r = Dedup.dropNearDuplicates(docs, "text", "doc_id")
      try r.survivors.collect() finally r.close()
    })
    assert(window.flushed)
    assert(survivors.length < docs.count()) // planted copies are gone
    // 7 with the in-bucket verify; the join-back verify fires 11
    assert(window.jobs.size <= 7, window.jobs.map(_.description))
  }
}
