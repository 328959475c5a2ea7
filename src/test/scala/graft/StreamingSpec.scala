package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import graft.streaming.{Sessionize, StreamingOps}

/** Structured Streaming specs: windowed/watermarked aggregation and
  * custom sessionization state, driven by MemoryStream micro-batches.
  */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("upsert stream maintains a partitioned table across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String, Long)]
    val base = java.nio.file.Files.createTempDirectory("ustream").toString + "/t"
    val q = StreamingOps.upsertStream(
      input.toDS().toDF("id", "v", "part", "version"),
      base, Seq("id"), "part", "version")
    try {
      // batch 1 bootstraps the table; key 2 arrives twice in one batch —
      // the higher version must win
      input.addData((1L, "a", "p0", 1L), (2L, "b", "p0", 1L),
        (2L, "b2", "p0", 2L), (3L, "c", "p1", 1L))
      q.processAllAvailable()
      def state(): Set[(Long, String, String)] =
        spark.read.parquet(base).collect()
          .map(r => (r.getAs[Long]("id"), r.getAs[String]("v"),
            r.getAs[String]("part"))).toSet
      assert(state() === Set((1L, "a", "p0"), (2L, "b2", "p0"), (3L, "c", "p1")))
      // batch 2: update key 1, insert key 9 — p1 must carry over untouched
      input.addData((1L, "a2", "p0", 3L), (9L, "n", "p0", 3L))
      q.processAllAvailable()
      assert(state() === Set((1L, "a2", "p0"), (2L, "b2", "p0"),
        (3L, "c", "p1"), (9L, "n", "p0")))
    } finally q.stop()
  }

  test("windowed + watermarked aggregation over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val agg = StreamingOps.windowedTypeStats(events, "1 hour", "10 minutes")
    val q = agg.writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("win_test").start()
    try {
      input.addData(
        (ts("2024-01-01 00:10:00"), "click", 1.0),
        (ts("2024-01-01 00:40:00"), "click", 2.0),
        (ts("2024-01-01 01:10:00"), "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("win_test")
        .select(col("window.start").cast("string"), col("event_type"), col("n"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(rows === Set(
        ("2024-01-01 00:00:00", "click", 2L),
        ("2024-01-01 01:00:00", "view", 1L)))
    } finally q.stop()
  }

  test("parquet sink round trip: append stream, checkpointed, re-readable") {
    val base = java.nio.file.Files.createTempDirectory("psink").toString
    val stream = StreamingOps.eventsStream(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val back = StreamingOps.runToParquet(
      stream, s"$base/out", s"$base/ckpt")
    val expected = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .count()
    assert(back.count() === expected)
    // exactly-once: re-running over the same checkpoint appends nothing
    val again = StreamingOps.runToParquet(
      StreamingOps.eventsStream(spark, "/root/testdata/sf0.001")
        .select(col("event_id"), col("ts"), col("event_type"), col("value")),
      s"$base/out", s"$base/ckpt")
    assert(again.count() === expected)
  }

  test("stateful sessionization closes sessions on gap, keeps open state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Sessionize.Event]
    val sessions = Sessionize.sessions(input.toDS(), gapSeconds = 600)
    val q = sessions.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sess_test").start()
    try {
      // user 1: two events 5 min apart (one session), then a 20-min gap
      input.addData(
        Sessionize.Event(1L, ts("2024-01-01 00:00:00"), "click", 1.0),
        Sessionize.Event(1L, ts("2024-01-01 00:05:00"), "click", 2.0))
      q.processAllAvailable()
      input.addData(
        Sessionize.Event(1L, ts("2024-01-01 00:25:00"), "view", 3.0))
      q.processAllAvailable()
      val closed = spark.table("sess_test").as[Sessionize.Session].collect()
      assert(closed.length === 1)
      assert(closed.head.n_events === 2L)
      assert(closed.head.sum_value === 3.0)
      assert(closed.head.session_end === ts("2024-01-01 00:05:00"))
    } finally q.stop()
  }

  test("streaming sessionization agrees with its batch twin") {
    val events = Seq(
      (1L, ts("2024-01-01 00:00:00"), "a", 1.0),
      (1L, ts("2024-01-01 00:05:00"), "a", 2.0),
      (1L, ts("2024-01-01 01:00:00"), "b", 4.0),
      (2L, ts("2024-01-01 00:00:00"), "a", 8.0)
    ).toDF("user_id", "ts", "event_type", "value")
    val batch = Sessionize.sessionsBatch(events, gapSeconds = 600)
      .orderBy("user_id", "session_start").collect()
    assert(batch.length === 3)
    val first = batch.head
    assert(first.getAs[Long]("n_events") === 2L)
    assert(first.getAs[Double]("sum_value") === 3.0)
  }

  test("stream-stream interval join matches the batch join, bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val pIn = MemoryStream[(Long, Timestamp, Long)]
    val cIn = MemoryStream[(Long, Timestamp, Long)]
    val purchases = pIn.toDF().toDF("user_id", "p_ts", "p_id")
    val clicks = cIn.toDF().toDF("user_id", "c_ts", "c_id")
    val joined = StreamingOps.intervalJoin(purchases, clicks, "user_id",
      "p_ts", "c_ts", lookback = "30 minutes", watermark = "1 hour")
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ij_test").start()
    try {
      cIn.addData(
        (1L, ts("2024-01-01 00:00:00"), 100L), // 20 min before → match
        (1L, ts("2024-01-01 00:19:00"), 101L), // 1 min before → match
        (1L, ts("2024-01-01 00:21:00"), 102L), // AFTER the purchase → no
        (2L, ts("2024-01-01 00:10:00"), 103L), // other user → no
        (1L, ts("2023-12-31 23:00:00"), 104L)) // 80 min before → outside
      pIn.addData((1L, ts("2024-01-01 00:20:00"), 200L))
      q.processAllAvailable()
      val got = spark.table("ij_test").select("p_id", "c_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((200L, 100L), (200L, 101L)))
      // boundary: a click exactly at the purchase instant matches
      // (closed interval), arriving in a later micro-batch
      cIn.addData((1L, ts("2024-01-01 00:20:00"), 105L))
      q.processAllAvailable()
      assert(spark.table("ij_test").count() === 3)
    } finally q.stop()
  }

  test("pure-column model scores a streaming pair frame") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val pairs = input.toDF().toDF("ltable_name", "rtable_name")
    val scored = StreamingOps.scoreStream(pairs, graft.matcher.TokenCosineModel())
    val q = scored.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("score_test").start()
    try {
      input.addData(("alpha beta", "alpha beta"), ("alpha", "omega"))
      q.processAllAvailable()
      val rows = spark.table("score_test")
        .select("ltable_name", "match_score").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(math.abs(rows("alpha beta") - 1.0) < 1e-9)
      assert(rows("alpha") === 0.0)
    } finally q.stop()
  }

  test("bloom dedup stream suppresses duplicates across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = StreamingOps.bloomDedupStream(docs, "text",
        expectedItems = 1000L, fpp = 1e-9) { (unseen, _) =>
      emitted ++= unseen.collect().map(r =>
        (r.getLong(0), Option(r.getString(1)).orNull))
    }
    try {
      // batch 1: a dup WITHIN the batch and a null text
      input.addData((1L, "alpha beta"), (2L, "alpha beta"), (3L, null))
      q.processAllAvailable()
      // batch 2: a dup of batch 1 (must be suppressed by HISTORY, which
      // dropDuplicates-with-watermark would eventually forget), a fresh
      // text, another null (nulls always pass)
      input.addData((4L, "alpha beta"), (5L, "gamma delta"), (6L, null))
      q.processAllAvailable()
      val texts = emitted.map(_._2)
      assert(texts.count(_ == "alpha beta") === 1) // once, ever
      assert(texts.count(_ == "gamma delta") === 1)
      assert(texts.count(_ == null) === 2) // null rows all pass
      assert(emitted.map(_._1).toSet === Set(1L, 3L, 5L, 6L))
    } finally q.stop()
  }

  leakGatedTest("near-dup dedup stream: history drops, within-batch chain to min id, nulls pass, few jobs a batch") {
    val textA = "the quick brown fox jumps over the lazy dog again"
    val far = "completely different words nobody repeats anywhere here"
    val base = java.nio.file.Files.createTempDirectory("ndstream")
    val in = java.nio.file.Files.createDirectories(base.resolve("in"))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val batches = Seq(
      // A, A+x, A+x+y chain: one component, its min id (11) survives
      Seq(10L -> far, 11L -> (textA + " x"), 12L -> textA,
        13L -> (textA + " x y"), 14L -> null),
      // a near-dup of A drops against history; a fresh text and a null pass
      Seq(20L -> (textA + " y"), 21L -> "fresh tokens appear exactly once",
        22L -> null),
      // a copy of batch 0's survivor drops against history
      Seq(30L -> far, 31L -> "another unrelated sentence about rivers"))
    // stage every file before the query starts, so its jobs are the batches'
    val staged = batches.zipWithIndex.map { case (rows, b) =>
      val dir = base.resolve(s"stage$b").toString
      spark.createDataFrame(rows.map { case (i, t) => Row(i, t) }.asJava, schema)
        .coalesce(1).write.parquet(dir)
      new java.io.File(dir).listFiles().find(_.getName.endsWith(".parquet")).get
    }
    val survivors = scala.collection.mutable.Map.empty[Long, Set[Long]]
    // the query starts inside the window, so its stream thread's jobs
    // are the window's
    val (queryId, window) = Trace.window(spark) {
      val q = StreamingOps.nearDupDedupStream(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
            .parquet(in.toString),
          "text", "doc_id", base.resolve("history").toString) { (sv, id) =>
        survivors(id) = sv.select("doc_id").collect().map(_.getLong(0)).toSet
      }
      try staged.zipWithIndex.foreach { case (f, b) =>
        java.nio.file.Files.move(f.toPath, in.resolve(s"batch$b.parquet"))
        q.processAllAvailable()
      } finally q.stop()
      q.id.toString
    }
    assert(window.flushed)
    assert(survivors.toMap === Map(
      0L -> Set(10L, 11L, 14L), 1L -> Set(21L, 22L), 2L -> Set(31L)))
    val jobs = window.jobs.filter(_.properties.get("sql.streaming.queryId")
      .contains(queryId)).flatMap(_.properties.get("streaming.sql.batchId"))
    val perBatch = jobs.groupBy(identity).map { case (b, js) =>
      b -> js.size }
    assert(perBatch.keySet === Set("0", "1", "2"), jobs)
    assert(perBatch.values.forall(_ <= 5), perBatch)
  }

  test("perceptual dedup stream keeps each distinct image once, first arrival") {
    implicit val sqlCtx = spark.sqlContext
    import graft.multimodal.Multimodal
    // pick three ids whose synthetic images have pairwise-DISTINCT
    // aHashes (formula images can collide perceptually)
    val pool = Multimodal.withAverageHash(Multimodal.synthesizePngs(
        (0L until 30L).toDF("doc_id"), "doc_id"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4))))
    val picked = pool.foldLeft(Vector.empty[Long]) { (acc, kv) =>
      if (acc.size < 3 &&
          !acc.exists(a => pool.find(_._1 == a).get._2 == kv._2)) acc :+ kv._1
      else acc
    }
    assert(picked.size === 3, s"fixture pool degenerate: ${pool.toSeq}")
    val imgs = Multimodal.synthesizePngs(picked.toDF("doc_id"), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("content"))
      .toMap
    val Seq(a, b, c) = picked.toSeq
    val input = MemoryStream[(Long, Array[Byte])]
    val media = input.toDF().toDF("media_id", "content")
    val hist = java.nio.file.Files.createTempDirectory("pdedup").toString +
      "/history"
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = StreamingOps.perceptualDedupStream(media, hist) { (sv, _) =>
      emitted ++= sv.select("media_id").collect().map(_.getLong(0))
    }
    try {
      // batch 1: image a twice (within-batch collapse → min id) + b
      input.addData((10L, imgs(a)), (11L, imgs(a)), (12L, imgs(b)))
      q.processAllAvailable()
      // batch 2: image a AGAIN (history drop) + fresh image c
      input.addData((13L, imgs(a)), (14L, imgs(c)))
      q.processAllAvailable()
      assert(emitted.sorted === Seq(10L, 12L, 14L))
    } finally q.stop()
  }

  test("perceptual dedup replay: committed batchId skips, partial commit recomputes identically") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    // three ids with pairwise-distinct aHashes (same probe as above)
    val pool = Multimodal.withAverageHash(Multimodal.synthesizePngs(
        (0L until 30L).toDF("doc_id"), "doc_id"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4))))
    val picked = pool.foldLeft(Vector.empty[Long]) { (acc, kv) =>
      if (acc.size < 3 &&
          !acc.exists(a => pool.find(_._1 == a).get._2 == kv._2)) acc :+ kv._1
      else acc
    }
    assert(picked.size === 3)
    val imgs = Multimodal.synthesizePngs(picked.toDF("doc_id"), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("content"))
      .toMap
    val Seq(a, b, c) = picked.toSeq
    val hist = java.nio.file.Files.createTempDirectory("pdedup-replay")
      .toString + "/history"
    def fire(batchId: Long, rows: Seq[(Long, Array[Byte])]): Seq[Long] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      StreamingOps.perceptualDedupBatch(
        rows.toDF("media_id", "content"), hist, Some(batchId)) { sv =>
        out ++= sv.select("media_id").collect().map(_.getLong(0))
      }
      out.toSeq.sorted
    }
    val b0 = Seq((10L, imgs(a)), (11L, imgs(a)), (12L, imgs(b)))
    assert(fire(0L, b0) === Seq(10L, 12L)) // within-batch collapse
    // REPLAY of the committed batch 0: nothing emitted, history intact
    val histRows = spark.read.parquet(hist).count()
    assert(fire(0L, b0) === Seq.empty, "committed batch must skip")
    assert(spark.read.parquet(hist).count() === histRows)
    // batch 1, then simulate a crash BEFORE its commit completed:
    // delete the _SUCCESS marker so the partition looks mid-write
    val b1 = Seq((13L, imgs(a)), (14L, imgs(c)))
    assert(fire(1L, b1) === Seq(14L)) // image a dropped via history
    val marker = new java.io.File(s"$hist/batch_id=1/_SUCCESS")
    assert(marker.delete(), "fixture: marker must exist")
    // replay recomputes the IDENTICAL survivors (own partial partition
    // excluded from the history read — image c must not drop against
    // its own half-written hashes) and commits this time
    assert(fire(1L, b1) === Seq(14L))
    assert(new java.io.File(s"$hist/batch_id=1/_SUCCESS").exists())
    // and a third fire of batch 1 now skips
    assert(fire(1L, b1) === Seq.empty)
    // cross-batch semantics still hold for a later batch
    assert(fire(2L, Seq((20L, imgs(a)), (21L, imgs(b)), (22L, imgs(c))))
      === Seq.empty)
  }

  test("semantic dedup stream: first-arrival across batches, idempotent replay") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Float])]
    val docs = input.toDF().toDF("vec_id", "embedding")
    val hist = java.nio.file.Files.createTempDirectory("semstream")
      .toString + "/history"
    val a = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val aNear = Seq(0.99f, 0.1f, 0.0f, 0.0f) // cosine ~0.995 with a
    val b = Seq(0.0f, 1.0f, 0.0f, 0.0f) // orthogonal to a
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = StreamingOps.semDedupStream(docs, "embedding", "vec_id",
        hist, threshold = 0.9, numPlanes = 2, probeBits = 2) { (sv, _) =>
      emitted ++= sv.select("vec_id").collect().map(_.getLong(0))
    }
    try {
      // batch 1: a twice (within-batch collapse) + b
      input.addData((10L, a), (11L, aNear), (12L, b))
      q.processAllAvailable()
      assert(emitted.sorted === Seq(10L, 12L))
      // batch 2: near-dup of a with a SMALLER id — first-arrival must
      // keep the established survivor 10 and kill 5, id order be damned
      input.addData((5L, aNear))
      q.processAllAvailable()
      assert(emitted.sorted === Seq(10L, 12L))
    } finally q.stop()
    // replay idempotency (the perceptualDedupBatch contract): re-firing
    // a committed batchId emits nothing and leaves history unchanged
    import spark.implicits._
    val histRows = spark.read.parquet(hist).count()
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    StreamingOps.semDedupBatch(
      Seq((10L, a), (11L, aNear), (12L, b)).toDF("vec_id", "embedding"),
      "embedding", "vec_id", hist, 0.9, 2, 2, Some(0L)) { sv =>
      out ++= sv.select("vec_id").collect().map(_.getLong(0))
    }
    assert(out.isEmpty)
    assert(spark.read.parquet(hist).count() === histRows)
  }

  test("decontamination stream: per-batch drop rule equals the batch twin, stateless") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // benchmark: one frozen passage; 3-grams
    val bg = graft.text.Decontaminate.gramSet(
      Seq("the quick brown fox jumps over the lazy dog")
        .toDF("text"), "text", 3).persist()
    bg.count()
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    val q = StreamingOps.decontaminateStream(docs, "text", "doc_id",
        bg, n = 3, minFracQ = 500000000L) { (sv, id) =>
      perBatch += ((id,
        sv.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted))
    }
    try {
      // batch 0: doc 1 is an embedded benchmark quote (overlap 100% —
      // drops), doc 2 shares a short phrase (< 50% of its grams —
      // survives), doc 3 is clean
      input.addData(
        (1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "the quick brown fox is a common pangram opener phrase here"),
        (3L, "completely unrelated text about spark partitions and shuffles"))
      q.processAllAvailable()
      // batch 1: the SAME quote arrives again — no history, no
      // survivorship: the static rule drops it again, and the earlier
      // batch's outcome is untouched (stateless by construction)
      input.addData(
        (4L, "the quick brown fox jumps over the lazy dog"),
        (5L, "another clean document mentioning nothing benchmarked at all"))
      q.processAllAvailable()
    } finally q.stop()
    assert(perBatch.map(_._1) === Seq(0L, 1L))
    assert(perBatch(0)._2 === Seq(2L, 3L))
    assert(perBatch(1)._2 === Seq(5L))
    // the staged union equals the one-shot batch rule doc-for-doc
    val all = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox is a common pangram opener phrase here"),
      (3L, "completely unrelated text about spark partitions and shuffles"),
      (4L, "the quick brown fox jumps over the lazy dog"),
      (5L, "another clean document mentioning nothing benchmarked at all"))
      .toDF("doc_id", "text")
    val oneShot = graft.text.Decontaminate.dropContaminated(
        all, "text", "doc_id", bg, 3, 500000000L)
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(perBatch.flatMap(_._2).sorted === oneShot)
    bg.unpersist()
  }

  test("outer interval join: unmatched left emits nulls after watermark") {
    implicit val sqlCtx = spark.sqlContext
    val pIn = MemoryStream[(Long, Timestamp, Long)]
    val cIn = MemoryStream[(Long, Timestamp, Long)]
    val purchases = pIn.toDF().toDF("user_id", "p_ts", "p_id")
    val clicks = cIn.toDF().toDF("user_id", "c_ts", "c_id")
    val joined = StreamingOps.intervalJoinOuter(purchases, clicks,
      "user_id", "p_ts", "c_ts", lookback = "10 minutes",
      watermark = "10 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("oij_spec").start()
    try {
      // u1: click 5 min before purchase → match; u2: no click at all
      cIn.addData((1L, ts("2024-01-01 10:00:00"), 100L))
      pIn.addData((1L, ts("2024-01-01 10:05:00"), 200L),
        (2L, ts("2024-01-01 10:05:00"), 201L))
      q.processAllAvailable()
      // advance both watermarks far past the purchases
      cIn.addData((9L, ts("2024-01-01 12:00:00"), 900L))
      pIn.addData((9L, ts("2024-01-01 12:00:00"), 901L))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("oij_spec")
      .select("p_id", "c_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    assert(rows.contains((200L, 100L))) // matched pair
    assert(rows.contains((201L, -1L)))  // unmatched left emitted with null
  }

  // the leak gate: each batch's materialized merge is released after its overwrite
  leakGatedTest("incremental stats: merged table equals one-shot census") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val docs = input.toDF().toDF("doc_id", "text", "source")
    val table = java.nio.file.Files.createTempDirectory("istats").toString + "/t"
    val q = StreamingOps.incrementalStatsStream(docs, "source", Seq(
      "n_docs" -> count(lit(1)),
      "sum_tokens" -> sum(org.apache.spark.sql.functions.size(
        graft.text.TextAnalysis.tokens(col("text"))).cast("long"))), table)()
    try {
      input.addData((1L, "a b c", "s1"), (2L, "d e", "s2"))
      q.processAllAvailable()
      // batch 2 touches s1 (merge) and s3 (insert); s2 must carry over
      input.addData((3L, "f", "s1"), (4L, "g h i j", "s3"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(table).orderBy("source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq(
      ("s1", 2L, 4L), ("s2", 1L, 2L), ("s3", 1L, 4L)))
  }

  test("drift monitor: reference-identical chunk drifts 0, disjoint > 0") {
    implicit val sqlCtx = spark.sqlContext
    val refDocs = Seq("alpha beta gamma", "alpha delta", "beta beta")
    // reference histogram exactly as the operator buckets tokens
    val refRows = refDocs.toDF("text")
      .select(org.apache.spark.sql.functions.explode(
        graft.text.TextAnalysis.tokens(col("text"))).as("t"))
      .select(org.apache.spark.sql.functions.pmod(
        graft.dedup.Dedup.portableHash60(col("t")), lit(64L)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val input = MemoryStream[(Long, String, Long)]
    val docs = input.toDF().toDF("doc_id", "text", "chunk")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = StreamingOps.driftMonitorStream(docs, "text", "chunk",
        refRows, refRows.map(_._2).sum, nBuckets = 64) { (out, _) =>
      got ++= out.collect().map(r => (r.getLong(0), r.getLong(3)))
    }
    try {
      // chunk 0 IS the reference token stream → every bucket has
      // n_b * ta == n_ref * tb exactly → chi2 identically zero
      input.addData(refDocs.zipWithIndex.map { case (t, i) =>
        (i.toLong, t, 0L) }: _*)
      // chunk 1 shares no tokens with the reference → positive drift
      input.addData((10L, "zeta zeta eta theta", 1L))
      q.processAllAvailable()
    } finally q.stop()
    val byChunk = got.toMap
    assert(byChunk(0L) === 0L)
    assert(byChunk(1L) > 0L)
  }

  test("streaming dedup drops duplicate keys within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val events = input.toDF().toDF("event_id", "ts", "value")
    val deduped = StreamingOps.dedupStream(events, Seq("event_id"), "1 hour")
    val q = deduped.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dedup_test").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 00:00:00"), 1.0),
        (1L, ts("2024-01-01 00:00:00"), 1.0), // exact duplicate
        (2L, ts("2024-01-01 00:01:00"), 2.0))
      q.processAllAvailable()
      assert(spark.table("dedup_test").count() === 2)
    } finally q.stop()
  }
}
