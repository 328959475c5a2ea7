package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Pinned

/** Structured Streaming layer (SURVEY.md §2.10 — an extension, not a
  * reference capability): streaming scoring of pair/event streams with
  * event-time windows and watermarks. Operators are the same column
  * programs as batch (models are pure projections), so every batch
  * operator lifts to streams unchanged.
  */
object StreamingOps {

  /** File-stream source over the events parquet (file sources stream a
    * directory; the glob filter narrows it to the events table). The
    * stream schema is probed from the file itself — fixture generations
    * have stored `ts` as TIMESTAMP(NANOS) or TIMESTAMP(MICROS) — and
    * [[graft.sources.Tables.normalizeTs]] canonicalizes either to
    * TimestampType.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // same thread-local pitfall as Tables.load: pin the active session
    // so the nanosAsLong conf governs this thread's schema resolution
    SparkSession.setActiveSession(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val fileSchema = spark.read
      .option("pathGlobFilter", "events.parquet").parquet(dir).schema
    graft.sources.Tables.normalizeTs(
      spark.readStream
        .schema(fileSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  /** Tumbling event-time window aggregation with a watermark: per-window
    * per-type counts and exact value sums (decimal, as everywhere).
    */
  def windowedTypeStats(events: DataFrame, windowDur: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).as("sum_value"))

  /** Per-window top-k over the event stream via the bounded
    * [[graft.operators.TopKAgg]] aggregator: the partial top-k runs
    * INSIDE the streaming aggregation state (the typed buffer
    * serializes to the state store), so per-window state is ≤ ~4k
    * scored entries regardless of the window's event volume — the
    * "trending items" shape that a windowed rank would have to buffer
    * every event for.
    */
  def windowedTopK(events: DataFrame, k: Int, windowDur: String = "1 day",
      watermark: String = "1 hour"): DataFrame = {
    val agg = udaf(new graft.operators.TopKAgg(k),
      org.apache.spark.sql.Encoders.product[graft.operators.Scored])
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur))
      .agg(agg(col("value"), col("event_id")).as("topk"))
  }

  /** Calendar-month rollup (streaming twin of the batch q15 query —
    * identical results, checkable against the same oracle).
    */
  def monthlyTypeStats(events: DataFrame): DataFrame =
    events
      .withColumn("month", date_format(col("ts"), "yyyy-MM"))
      .groupBy(col("month"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))

  /** Streaming ER scoring: column-program models (TokenCosineModel,
    * MLlibMatcher.transform) lift to streaming frames unchanged — this
    * is just the typed entry point. mapPartitions-based scorers
    * (ExternalBatchScorer) need foreachBatch instead; see
    * [[scoreStreamForeachBatch]].
    */
  def scoreStream(pairStream: DataFrame, model: graft.matcher.ERModel): DataFrame =
    model.predict(pairStream)

  /** Streaming route for RDD-based scorers: score each micro-batch with
    * the arbitrary model and hand the result to `sink`.
    */
  def scoreStreamForeachBatch(pairStream: DataFrame,
      model: graft.matcher.ERModel,
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    pairStream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      sink(model.predict(batch), id)
    }.start()

  /** Streaming incremental dedup against ALL history with BOUNDED
    * state: each micro-batch is (1) content-deduped within itself,
    * (2) filtered against a Bloom sketch of everything emitted so far
    * ([[graft.dedup.IncrementalDedup]]'s codegen probe), (3) handed to
    * `sink`, and (4) OR-merged into the sketch on the driver.
    *
    * [[dedupStream]] keeps one state-store row per key inside the
    * watermark and FORGETS beyond it — re-ingesting last month's crawl
    * re-emits it. This keeps a fixed `1.44·log2(1/fpp)` bits per
    * expected item — a few hundred MB for 10^9 docs — for the WHOLE
    * corpus lifetime, never re-emits a seen text (Bloom has no false
    * negatives), and drops ~fpp of genuinely-new texts: the crawl-dedup
    * trade. NULL-text rows always pass. The sketch is driver-held like
    * any streaming aggregation's state-store metadata; the per-batch
    * build is a distributed partial-sketch merge, and the probe stays
    * in whole-stage codegen.
    */
  def bloomDedupStream(docs: DataFrame, textCol: String,
      expectedItems: Long, fpp: Double = 1e-6)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    var sketch: Array[Byte] = null
    docs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      val nn = batch.filter(col(textCol).isNotNull)
        .withColumn("__h", md5(col(textCol)))
        .dropDuplicates("__h").drop("__h")
      val fresh = nn.unionByName(batch.filter(col(textCol).isNull))
      // read twice (the sink, then the sketch build): pinned once
      val unseen = Pinned(
        if (sketch == null) fresh
        else graft.dedup.IncrementalDedup.filterUnseen(fresh, textCol, sketch))
      try {
        sink(unseen.df, id)
        sketch = graft.dedup.IncrementalDedup.mergeSketches(sketch,
          graft.dedup.IncrementalDedup.sketchBytes(
            unseen.df, textCol, expectedItems, fpp))
      } finally unseen.close()
    }.start()
  }

  /** Streaming NEAR-duplicate dedup against ALL history — the fuzzy
    * twin of [[bloomDedupStream]]. State is a disk-resident band-key
    * table ([[graft.dedup.IncrementalDedup.nearDupNewDocs]]'s
    * (id, band, key, sig) rows, appended per batch) — NOT the texts and
    * NOT the driver's memory: each micro-batch equi-joins the state
    * table on (band, key) and verifies candidates by minhash-signature
    * agreement. Corpus-lifetime fuzzy dedup with state proportional to
    * the sketch, never to the content; the table is partition-prunable
    * by key at scale. Survivors go to `sink`; the batch's own state
    * rows append after the sink consumes them.
    *
    * The micro-batch itself is held on the driver: one collect of the
    * batch sketch, one scan of the state table (read with its schema
    * given, so no inference job) for the history probe, the
    * within-batch closure on the driver, and one write job for the
    * append. `sink` gets a LocalRelation, so reading it fires no job.
    * The collect must fit `spark.driver.maxResultSize` (Spark's error
    * names that setting); size the trigger with
    * `maxFilesPerTrigger`/`maxBytesPerTrigger`.
    */
  def nearDupDedupStream(docs: DataFrame, textCol: String, idCol: String,
      historyDir: String, threshold: Double = 0.7, numBands: Int = 2,
      rowsPerBand: Int = 2, k: Int = 3)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      import graft.dedup.IncrementalDedup
      val spark = batch.sparkSession
      val files = new java.io.File(historyDir).listFiles()
      val hist =
        if (files != null && files.exists(_.getName.endsWith(".parquet")))
          spark.read.schema(IncrementalDedup.stateSchema(idCol,
            batch.schema(idCol).dataType)).parquet(historyDir)
        else IncrementalDedup.emptyHistory(spark, idCol)
      val r = IncrementalDedup.nearDupNewDocs(
        hist, batch, textCol, idCol, threshold, numBands, rowsPerBand, k)
      sink(r.survivors, id)
      r.historyRows.write.mode("append").parquet(historyDir)
    }.start()

  /** Streaming INCREMENTAL perceptual media dedup — [[nearDupDedupStream]]'s
    * shape for binary media columns: each micro-batch of (media_id,
    * content) rows is decoded and aHashed
    * ([[graft.multimodal.Multimodal.withAverageHash]]), rows whose
    * hash already exists in the checkpointed history are dropped,
    * within-batch duplicates collapse to the min-id row per hash, and
    * the survivors' hashes append to the history — so across the
    * stream each distinct perceptual image survives exactly once, at
    * its first arrival.
    *
    * EXACTLY-ONCE under foreachBatch replay: the history is
    * partitioned by `batch_id`, each batch's hashes commit atomically
    * into their own partition (overwrite + `_SUCCESS` marker), and a
    * replayed batchId whose partition already committed is SKIPPED
    * outright — the sink saw its survivors before the commit, so the
    * sink-visible survivor stream carries each row once. A replay of
    * an UNcommitted batch recomputes the identical survivor rows (the
    * min-id collapse is deterministic) against a history read that
    * excludes its own partial partition, then overwrites it — the one
    * residual duplicate window is a crash BETWEEN the sink returning
    * and the partition commit, the same window any non-transactional
    * sink pair has; sinks closing it dedupe on (media_id), which is
    * stable across replays here. State is the hash table (two BIGINTs
    * per DISTINCT image ever seen — bounded by content diversity, not
    * stream length); per-batch cost is the batch decode plus one
    * anti-join against the history and one hash-keyed min.
    */
  def perceptualDedupStream(media: DataFrame, historyDir: String)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    media.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      perceptualDedupBatch(batch, historyDir, Some(id))(sink(_, id))
    }.start()

  /** One micro-batch of the incremental perceptual dedup — the core
    * [[perceptualDedupStream]] runs per trigger, exposed so batch
    * replays (backfills, StreamingSpec's replay tests) execute the
    * exact same body (2.6× at 16× growth, measured, SURVEY.md round 9
    * ScaleSmoke): decode+hash, history anti-join, within-batch min-id
    * collapse, hash append. `sink` sees the survivor frame while it is
    * pinned; it is released before return.
    *
    * With `batchId` set the history append is IDEMPOTENT per id (the
    * [[perceptualDedupStream]] exactly-once contract): hashes land in
    * partition `batch_id=<id>`, a committed partition short-circuits
    * the whole batch, and the history read excludes the batch's own
    * (possibly partially written) partition. `None` keeps the legacy
    * flat append for ad-hoc backfills that manage their own replay.
    */
  def perceptualDedupBatch(batch: DataFrame, historyDir: String,
      batchId: Option[Long] = None)(
      sink: DataFrame => Unit): Unit = {
    val spark = batch.sparkSession
    val rootPath = new org.apache.hadoop.fs.Path(historyDir)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = batchId.exists(id => fs.exists(
      new org.apache.hadoop.fs.Path(s"$historyDir/batch_id=$id/_SUCCESS")))
    if (committed) return // replayed, already emitted + committed
    val hasState = fs.exists(rootPath) && {
      val it = fs.listFiles(rootPath, true) // recursive: partition dirs
      var found = false
      while (!found && it.hasNext)
        found = it.next().getPath.getName.endsWith(".parquet")
      found
    }
    val hashed = graft.multimodal.Multimodal.withAverageHash(batch)
    val fresh =
      if (!hasState) hashed
      else {
        val h0 = spark.read.option("basePath", historyDir).parquet(historyDir)
        val hist = (batchId, h0.columns.contains("batch_id")) match {
          // exclude own partition: a crash mid-write leaves part files
          // without _SUCCESS, and anti-joining against them would drop
          // this replay's own survivors
          case (Some(id), true) => h0.filter(col("batch_id") =!= id)
          case _ => h0
        }
        hashed.join(hist.select(col("ahash_hi"), col("ahash_lo")),
          Seq("ahash_hi", "ahash_lo"), "left_anti")
      }
    // read by the sink and the append; filled before either runs, so
    // the history files are read before the append touches the table
    val survivors = Pinned(fresh
      .groupBy(col("ahash_hi"), col("ahash_lo"))
      .agg(min(col("media_id")).as("media_id")))
    try {
      survivors.materialize()
      sink(survivors.df.select(col("media_id"), col("ahash_hi"),
        col("ahash_lo")))
      val hashes = survivors.df.select(col("ahash_hi"), col("ahash_lo"))
      batchId match {
        case Some(id) => hashes.write.mode("overwrite")
          .parquet(s"$historyDir/batch_id=$id")
        case None => hashes.write.mode("append").parquet(historyDir)
      }
    } finally survivors.close()
  }

  /** Streaming INCREMENTAL SEMANTIC dedup — the embedding-space face
    * of [[nearDupDedupStream]] and the stream wrapper over
    * [[graft.similarity.SemDedup.incrementalEmbeddingNearDuplicates]]:
    * each micro-batch of (id, embedding) rows deduplicates against the
    * history of every previously-emitted survivor under PINNED cell
    * geometry — the operator enforces the pinning, and a stream is
    * exactly why: density-derived plane/probe defaults would drift
    * across micro-batches and silently change which cells collide, the
    * persisted-ANN-index rule. Survivorship is FIRST-ARRIVAL
    * (`historyWins = true`): an already-emitted vector's near-dup
    * arriving later always dies, regardless of id order.
    *
    * State is a disk-resident (id, embedding) survivor table, one
    * batch_id partition per micro-batch with the
    * [[perceptualDedupStream]] exactly-once commit discipline
    * (committed batchId → skip; partial partition → excluded from the
    * history read, recomputed, overwritten). Per-batch cost: one
    * cell-assignment scan of the history plus the keyed probe join —
    * batch-driven edge volume, nothing quadratic in history.
    */
  def semDedupStream(docs: DataFrame, embCol: String, idCol: String,
      historyDir: String, threshold: Double, numPlanes: Int,
      probeBits: Int)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      semDedupBatch(batch, embCol, idCol, historyDir, threshold,
        numPlanes, probeBits, Some(id))(sink(_, id))
    }.start()

  /** One micro-batch of [[semDedupStream]], exposed for backfills and
    * replays (the [[perceptualDedupBatch]] pattern). With `batchId`
    * set the survivor-table append is idempotent per id.
    */
  def semDedupBatch(batch: DataFrame, embCol: String, idCol: String,
      historyDir: String, threshold: Double, numPlanes: Int,
      probeBits: Int, batchId: Option[Long] = None)(
      sink: DataFrame => Unit): Unit = {
    val spark = batch.sparkSession
    val rootPath = new org.apache.hadoop.fs.Path(historyDir)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = batchId.exists(id => fs.exists(
      new org.apache.hadoop.fs.Path(s"$historyDir/batch_id=$id/_SUCCESS")))
    if (committed) return // replayed, already emitted + committed
    val hasState = fs.exists(rootPath) && {
      val it = fs.listFiles(rootPath, true)
      var found = false
      while (!found && it.hasNext)
        found = it.next().getPath.getName.endsWith(".parquet")
      found
    }
    val hist =
      if (!hasState) batch.filter(lit(false)).select(col(idCol), col(embCol))
      else {
        val h0 = spark.read.option("basePath", historyDir).parquet(historyDir)
        val scoped = (batchId, h0.columns.contains("batch_id")) match {
          case (Some(id), true) => h0.filter(col("batch_id") =!= id)
          case _ => h0
        }
        scoped.select(col(idCol), col(embCol))
      }
    val r = graft.similarity.SemDedup.incrementalEmbeddingNearDuplicates(
      hist, batch, embCol, idCol, threshold, numPlanes, probeBits,
      historyWins = true)
    try {
      sink(r.survivors)
      val rows = r.survivors.select(col(idCol), col(embCol))
      batchId match {
        case Some(id) => rows.write.mode("overwrite")
          .parquet(s"$historyDir/batch_id=$id")
        case None => rows.write.mode("append").parquet(historyDir)
      }
    } finally r.close()
  }

  /** Streaming benchmark decontamination — the corpus-ingest gate run
    * WHILE the crawl streams in: each micro-batch drops its arriving
    * docs whose benchmark n-gram overlap fraction reaches `minFracQ`
    * (the [[graft.text.Decontaminate.dropContaminated]] rule — 1e-9
    * integer-quantized, so the threshold boundary is replay-exact) and
    * hands the survivors to the sink. The benchmark gram set is a
    * STATIC frame prepared once via
    * [[graft.text.Decontaminate.gramSet]] — the stream-static posture:
    * eval suites are frozen while a crawl ingests, and AQE broadcasts
    * the gram table per batch (an oversized benchmark degrades to a
    * shuffled join instead of failing the driver).
    *
    * State: NONE — contamination is per-doc against a static set, so
    * unlike the dedup faces there is no history table and no
    * survivorship rule; a replayed batch recomputes the identical
    * survivor set, so end-to-end exactly-once reduces to the sink's
    * usual idempotent-append contract. Scale shape per batch: one
    * distinct-gram explode over the ARRIVING docs only + one keyed
    * join against the fixed gram set + a per-doc count agg (the q199
    * census shape) — batch-driven cost, history-free by construction.
    */
  def decontaminateStream(docs: DataFrame, textCol: String, idCol: String,
      benchGrams: DataFrame, n: Int, minFracQ: Long)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      sink(graft.text.Decontaminate.dropContaminated(
        batch, textCol, idCol, benchGrams, n, minFracQ), id)
    }.start()

  /** Streaming distribution-drift monitor: each micro-batch's token
    * stream is folded into a fixed `nBuckets`-bucket histogram (the
    * q81 hash-bucket census) and compared against a broadcast REFERENCE
    * histogram with the same two-sample chi-squared statistic, emitting
    * one `(chunk, n_tokens, n_buckets, drift_q)` row per data-keyed
    * chunk — the production guardrail that flags an upstream source
    * going off-distribution while the corpus is still ingesting.
    *
    * Portability: each bucket's chi2 term is exact integer arithmetic
    * cast to double once, quantized to `floor(term * 1e6)` BEFORE the
    * per-chunk sum — an integer sum is order-free, so the engine's
    * unordered aggregation hash-matches a SQL replay (raw double sums
    * would be partitioning-dependent). State: NONE beyond the constant
    * reference array — the monitor is embarrassingly parallel per
    * batch; the histogram shuffle is <= nBuckets rows per chunk.
    */
  def driftMonitorStream(docs: DataFrame, textCol: String, chunkCol: String,
      ref: Seq[(Long, Long)], refTotal: Long, nBuckets: Int = 256)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      val spark = batch.sparkSession
      import spark.implicits._
      // the histogram is read twice by the sink's plan: pinned once
      val pinned = Pinned(batch.filter(col(textCol).isNotNull)
        .select(col(chunkCol).as("chunk"),
          explode(graft.text.TextAnalysis.tokens(col(textCol))).as("__t"))
        .select(col("chunk"),
          pmod(graft.dedup.Dedup.portableHash60(col("__t")),
            lit(nBuckets.toLong)).as("bucket"))
        .groupBy(col("chunk"), col("bucket")).agg(count(lit(1)).as("n_b")))
      val hist = pinned.df
      try {
        val ct = hist.groupBy(col("chunk")).agg(
          sum(col("n_b")).as("tb"), count(lit(1)).as("n_buckets"))
        val refDf = ref.toDF("bucket", "n_ref")
        val terms = ct.select(col("chunk"), col("tb"),
            explode(sequence(lit(0L), lit(nBuckets - 1L))).as("bucket"))
          .join(broadcast(refDf), Seq("bucket"), "left")
          .join(hist, Seq("chunk", "bucket"), "left")
          .select(col("chunk"), col("tb"),
            coalesce(col("n_ref"), lit(0L)).as("n_ref"),
            coalesce(col("n_b"), lit(0L)).as("n_b"))
          .withColumn("tq",
            when(col("n_ref") + col("n_b") === 0L, lit(0L)).otherwise(
              floor(((col("n_ref") * col("tb") - col("n_b") * lit(refTotal))
                * (col("n_ref") * col("tb") - col("n_b") * lit(refTotal)))
                .cast("double")
                / ((col("n_ref") + col("n_b")) * lit(refTotal) * col("tb"))
                  .cast("double")
                * lit(1000000.0)).cast("long")))
        val out = terms.groupBy(col("chunk"), col("tb"))
          .agg(sum(col("tq")).as("drift_q"))
          .join(ct.select(col("chunk"), col("n_buckets")), Seq("chunk"))
          .select(col("chunk"), col("tb").as("n_tokens"),
            col("n_buckets"), col("drift_q"))
        sink(out, id)
      } finally pinned.close()
    }.start()

  /** Incremental materialized aggregate: maintain a per-key stats
    * table across micro-batches by merging each batch's census into
    * the stored table — the incremental-rollup counterpart of
    * [[upsertStream]] (which maintains ROWS; this maintains
    * AGGREGATES, the "materialized view" a corpus dashboard reads
    * without ever re-scanning the corpus). Every `aggs` entry must be
    * a SUM-MERGEABLE (monoid) aggregate — counts and sums, not
    * averages; derive ratios at read time.
    *
    * State is the aggregate table itself: one row per key, no state
    * store, no watermark, re-bootstrap = drop the directory. The merge
    * is a full-outer join of two aggregate-sized frames (broadcast
    * scale); the merged result is MATERIALIZED before overwriting its
    * own read path
    * ([[graft.operators.Upsert.overwriteMaterialized]]).
    */
  def incrementalStatsStream(docs: DataFrame, keyCol: String,
      aggs: Seq[(String, org.apache.spark.sql.Column)], tableDir: String)(
      onBatch: Long => Unit = _ => ()): org.apache.spark.sql.streaming.StreamingQuery = {
    require(aggs.nonEmpty, "need at least one aggregate")
    docs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      val spark = batch.sparkSession
      val census = batch.groupBy(col(keyCol))
        .agg(aggs.head._2.as(aggs.head._1),
          aggs.tail.map { case (n, c) => c.as(n) }: _*)
      val dir = new java.io.File(tableDir)
      val hasState = dir.exists() && dir.listFiles() != null &&
        dir.listFiles().exists(_.getName.endsWith(".parquet"))
      val merged =
        if (!hasState) census
        else {
          val names = aggs.map(_._1)
          val old = spark.read.parquet(tableDir).select(
            col(keyCol) +: names.map(n => col(n).as(s"__o_$n")): _*)
          val neu = census.select(
            col(keyCol) +: names.map(n => col(n).as(s"__b_$n")): _*)
          old.join(neu, Seq(keyCol), "full_outer")
            .select(col(keyCol) +: names.map(n =>
              (coalesce(col(s"__o_$n"), lit(0L))
                + coalesce(col(s"__b_$n"), lit(0L))).as(n)): _*)
        }
      graft.operators.Upsert.overwriteMaterialized(merged) {
        _.coalesce(1).write.mode("overwrite").parquet(tableDir)
      }
      onBatch(id)
    }.start()
  }

  /** Latest row per key at the highest `versionCol`, with a FULLY
    * deterministic winner: ties on (key, version) — legal in CDC
    * batches that replay or double-deliver — are broken by descending
    * order over every remaining column, so the resolved row is a pure
    * function of the batch CONTENTS, never of partition arrival order.
    * (A version-only ordering would let two equal-(key, version) rows
    * pick a nondeterministic winner and break the replay/oracle
    * contract the table maintenance is built around.)
    */
  private def latestPerKey(batch: DataFrame, keys: Seq[String],
      versionCol: String): DataFrame = {
    // only ORDERABLE payload columns join the tie-break: a map-typed
    // column would fail window analysis outright, and the version-only
    // ordering must keep working for such tables (their ties just stay
    // as nondeterministic as the data makes them — documented limit)
    val tieBreak = batch.schema.fields.toSeq
      .filterNot(f => keys.contains(f.name) || f.name == versionCol)
      .filter(f => org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(f.dataType))
      .map(f => col(f.name).desc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(versionCol).desc +: tieBreak: _*)
    batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** CDC apply: maintain a Hive-partitioned parquet table from a stream
    * of upserts. Each micro-batch is first resolved to its LATEST row
    * per key (highest `versionCol` — multi-version CDC batches are
    * normal), then merged in place via
    * [[graft.operators.Upsert.upsertPartitioned]] — only the partitions
    * the batch touches are read (directory-pruned) or rewritten
    * (dynamic partition overwrite). The first batch bootstraps the
    * table. State is the TABLE itself: nothing accumulates in the
    * stream, so corpus-lifetime maintenance needs no watermark and no
    * state store.
    */
  def upsertStream(updates: DataFrame, tableDir: String, keys: Seq[String],
      partCol: String, versionCol: String): org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty) {
        val latest = latestPerKey(batch, keys, versionCol)
        val exists = {
          val p = new org.apache.hadoop.fs.Path(tableDir)
          p.getFileSystem(batch.sparkSession.sessionState.newHadoopConf())
            .exists(p)
        }
        if (!exists)
          latest.write.partitionBy(partCol).parquet(tableDir)
        else {
          graft.operators.Upsert.upsertPartitioned(
            batch.sparkSession, tableDir, latest, keys, partCol)
          ()
        }
      }
    }.start()

  /** CDC → SCD TYPE 2: maintain a history-preserving dimension table
    * from a stream of change batches — the auditable twin of
    * [[upsertStream]] (which overwrites). Each micro-batch is resolved
    * to its latest row per key (multi-version batches are normal),
    * then applied via [[graft.operators.Scd2.apply]] at the batch's
    * max `versionCol` as the effective time; the first batch
    * bootstraps an all-open table. State is the TABLE — no state
    * store, no watermark, corpus-lifetime history.
    *
    * The table rewrites whole per batch (materialized first —
    * [[graft.operators.Upsert.overwriteMaterialized]]); dimensions are
    * small next to facts, and a partition-scoped write (bucket
    * `valid_from` into the partition column: closed versions never
    * change again) is the drop-in when they are not.
    */
  def scd2Stream(changes: DataFrame, tableDir: String, keys: Seq[String],
      attrs: Seq[String], versionCol: String): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        val latest = latestPerKey(batch, keys, versionCol)
        val asOf = batch.agg(max(col(versionCol))).head().getLong(0)
        val exists = {
          val p = new org.apache.hadoop.fs.Path(tableDir)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
        }
        if (!exists)
          graft.operators.Scd2.initial(latest.drop(versionCol), asOf)
            .write.parquet(tableDir)
        else {
          val table = spark.read.parquet(tableDir)
          val next = graft.operators.Scd2.apply(table,
            latest.drop(versionCol), keys, attrs, asOf)
          graft.operators.Upsert.overwriteMaterialized(next) {
            _.write.mode("overwrite").parquet(tableDir)
          }
        }
      }
    }.start()

  /** Streaming exact dedup: watermark-bounded dropDuplicates on the key
    * — state expires with the watermark, so memory stays bounded.
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicates(keyCols :+ "ts")

  /** Run an aggregation stream to completion on the available data and
    * return the final result as a batch frame (complete-mode memory
    * sink; availableNow semantics for a static source).
    */
  def runToCompletion(agg: DataFrame, name: String): DataFrame = {
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    agg.sparkSession.table(name)
  }

  /** Stream-stream INNER interval join: rows of `left` pair with rows of
    * `right` sharing `key` whose event time falls in
    * [leftTs - lookback, leftTs]. Both sides carry watermarks plus the
    * time-range condition, so the join STATE is bounded (each side
    * evicts rows older than watermark - lookback); matches themselves
    * emit immediately on arrival — inner joins never wait for the
    * watermark, only state cleanup does. Column names of the two sides
    * must be disjoint apart from `key` (rename upstream).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String,
      lookback: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withColumnRenamed(key, s"__r_$key")
      .withWatermark(rightTs, watermark)
    l.join(r,
      col(key) === col(s"__r_$key") &&
        col(rightTs) >= col(leftTs) - expr(s"INTERVAL $lookback") &&
        col(rightTs) <= col(leftTs))
      .drop(s"__r_$key")
  }

  /** LEFT OUTER stream-stream interval join: like [[intervalJoin]] but
    * left rows with no right match within the lookback EMIT WITH NULLS
    * once the watermark passes them — the "purchases that saw no click"
    * stream, which an inner join silently drops. Outer emission is
    * watermark-driven: a left row's null verdict is only safe when the
    * right watermark has passed its timestamp, so the final
    * `watermark` of the stream's tail never emits (census the result
    * with an explicit time cutoff comfortably inside the watermark —
    * see q147 — rather than relying on eviction edge semantics).
    * State: both sides bounded by the watermark, same as the inner
    * join; four state stores per shuffle partition.
    */
  def intervalJoinOuter(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String,
      lookback: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withColumnRenamed(key, s"__r_$key")
      .withWatermark(rightTs, watermark)
    l.join(r,
      col(key) === col(s"__r_$key") &&
        col(rightTs) >= col(leftTs) - expr(s"INTERVAL $lookback") &&
        col(rightTs) <= col(leftTs),
      "left_outer")
      .drop(s"__r_$key")
  }

  /** Append-mode twin of [[runToCompletion]] for non-aggregating
    * stateful streams (joins, watermark-finalized output).
    */
  def runToCompletionAppend(stream: DataFrame, name: String): DataFrame = {
    val q = stream.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    stream.sparkSession.table(name)
  }

  /** Durable sink: append the (non-aggregated or watermark-finalized)
    * stream to a parquet directory with exactly-once checkpointing —
    * the production sink shape; the memory sink above is a test
    * harness. Runs the available data to completion and returns the
    * sink path's batch view.
    */
  def runToParquet(stream: DataFrame, outDir: String,
      checkpointDir: String): DataFrame = {
    val q = stream.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .start()
    try q.processAllAvailable() finally q.stop()
    stream.sparkSession.read.parquet(outDir)
  }
}
