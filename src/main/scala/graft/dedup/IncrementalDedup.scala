package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental (cross-corpus) dedup: filter a NEW batch against an
  * already-ingested reference corpus without joining the two. The
  * reference corpus folds into a compact Bloom filter via a distributed
  * tree aggregation ([[sketchOf]] — a treeAggregate of bitsets);
  * the sketch broadcasts once and the new batch filters in one
  * scan-local pass. At 100 TB this replaces the (old ⋈ new) shuffle —
  * whose old side is the whole historical corpus — with a |new|-sized
  * scan plus a few hundred MB broadcast.
  *
  * Bloom semantics: NO false negatives — every row this keeps is
  * guaranteed unseen; false positives drop ~fpp of genuinely-new rows.
  * That is the right trade for crawl dedup (losing 0.1% of new pages is
  * free; re-ingesting the old corpus is not) and the wrong one for
  * exact ledgers — [[exactNewDocs]] is the anti-join twin for those and
  * the oracle surface for this one.
  */
object IncrementalDedup {

  /** Rows of `newDf` whose `textCol` content hash is (probably) absent
    * from `oldDf` — guaranteed-superset-free: never returns a row whose
    * text exists in `oldDf`. NULL texts are kept (a null key never
    * matches anything, so it is "unseen") — the same semantic the
    * [[exactNewDocs]] left-anti twin has, so the two paths differ only
    * by Bloom false positives as documented.
    */
  def bloomNewDocs(oldDf: DataFrame, newDf: DataFrame, textCol: String,
      expectedItems: Long, fpp: Double = 1e-6): DataFrame =
    filterUnseen(newDf, textCol, sketchBytes(oldDf, textCol, expectedItems, fpp))

  // the PROBE path stays in Catalyst (the round-4 probe was a Scala
  // UDF because util.sketch.BloomFilter has no Column form): it is
  // BloomFilterMightContain, which carries doGenCode, so the new-batch
  // filter compiles into whole-stage codegen instead of breaking the
  // stage at a UDF. The BUILD is the [[sketchOf]] treeAggregate.
  // Keys are xxhash64(md5(text)): a 64-bit collision between two
  // DIFFERENT texts is the same event class as a Bloom false positive
  // (drops a genuinely-new row); a seen text always maps to the same
  // key, so the no-false-negative contract is untouched.
  private def key(textCol: String): org.apache.spark.sql.Column =
    xxhash64(md5(col(textCol)))

  private[graft] def sketchBits(expectedItems: Long, fpp: Double): Long = {
    val n = math.max(1L, expectedItems)
    math.max(64L,
      math.ceil(-n.toDouble * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
  }

  /** Serialized Bloom sketch of an arbitrary LongType key column (null
    * key rows are skipped; an input with no keys yields an all-zero
    * filter, which probes false for everything — the correct "nothing
    * seen" semantic). Built as an RDD `treeAggregate` (the Spark 3.x
    * `stat.bloomFilter` shape): partial per-partition filters
    * pair-merge through ~√p intermediate combiners (depth 2) instead
    * of p partials converging on one final task. That shape matters at
    * exactly the scale this exists for — the single-level
    * `bloom_filter_agg` (what `stat.bloomFilter` compiles to in 4.x)
    * over a 1024-partition gram set with a 7.5 MB sketch ships
    * 1024 × 7.5 MB into ONE final-aggregate task; the tree build
    * converges √p-at-a-time. This is the one deliberate `.rdd` drop in
    * the dedup stack — a sketch BUILD is a terminal action folding to
    * one binary value, not a plan node, so Catalyst has nothing to
    * optimize across it. Driver state is the bit array alone
    * (`sketchBits(expectedItems, fpp)` bits, chosen by the caller),
    * never the keyed rows. The serialized stream format is the
    * standard `util.sketch.BloomFilter` one — identical to what the
    * `BloomFilterMightContain` probe and [[mergeSketches]] read.
    * Shared by the text-content dedup path here and the benchmark-gram
    * decontamination gate ([[graft.text.Decontaminate]]).
    */
  private[graft] def sketchOf(df: DataFrame,
      key: org.apache.spark.sql.Column, expectedItems: Long,
      fpp: Double): Array[Byte] = {
    import org.apache.spark.util.sketch.BloomFilter
    val zero = BloomFilter.create(math.max(1L, expectedItems),
      sketchBits(expectedItems, fpp))
    val bf = df.select(key.cast("long").as("__k"))
      .where(col("__k").isNotNull)
      .rdd.map(_.getLong(0))
      .treeAggregate(zero)(
        (f, v) => { f.putLong(v); f },
        (a, b) => { a.mergeInPlace(b); a })
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }

  /** Codegen'd membership probe of a [[sketchOf]] sketch — the
    * `BloomFilterMightContain` expression, so a filter built on this
    * stays inside whole-stage codegen. NO false negatives: a key that
    * was sketched always probes true.
    */
  private[graft] def mightContain(bytes: Array[Byte],
      key: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    GraftBridge.column(new BloomFilterMightContain(
      GraftBridge.expression(lit(bytes)),
      GraftBridge.expression(key)))
  }

  /** Serialized Bloom sketch of `df`'s text-content keys (an empty
    * frame yields an all-zero filter — everything probes unseen). The
    * binary is the standard `org.apache.spark.util.sketch.BloomFilter`
    * stream format, so sketches built here merge with
    * [[mergeSketches]] and probe with [[filterUnseen]].
    */
  private[graft] def sketchBytes(df: DataFrame, textCol: String,
      expectedItems: Long, fpp: Double = 1e-6): Array[Byte] =
    sketchOf(df, key(textCol), expectedItems, fpp)

  /** OR-merge two serialized sketches built with the same
    * (expectedItems, fpp) — the driver-side fold of an incremental
    * ingest loop. Either side may be null (empty frame).
    */
  private[graft] def mergeSketches(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    import org.apache.spark.util.sketch.BloomFilter
    if (a == null) b
    else if (b == null) a
    else {
      val fa = BloomFilter.readFrom(new java.io.ByteArrayInputStream(a))
      val fb = BloomFilter.readFrom(new java.io.ByteArrayInputStream(b))
      fa.mergeInPlace(fb)
      val out = new java.io.ByteArrayOutputStream()
      fa.writeTo(out)
      out.toByteArray
    }
  }

  /** Rows of `newDf` whose content key is (probably) absent from the
    * sketch. NULL texts are kept explicitly (null key never matches
    * anything — the same semantic as the exactNewDocs left-anti twin).
    */
  private[graft] def filterUnseen(newDf: DataFrame, textCol: String,
      bytes: Array[Byte]): DataFrame =
    newDf.filter(col(textCol).isNull || !mightContain(bytes, key(textCol)))

  /** Exact twin: left-anti join on the content hash. One shuffle of
    * both sides — correct always, costly when `oldDf` is the full
    * historical corpus.
    */
  def exactNewDocs(oldDf: DataFrame, newDf: DataFrame, textCol: String): DataFrame = {
    val oldH = oldDf.select(md5(col(textCol)).as("__h")).distinct()
    newDf.withColumn("__h", md5(col(textCol)))
      .join(oldH, Seq("__h"), "left_anti").drop("__h")
  }

  // ------------------------------------------------------------------
  // NEAR-duplicate incremental dedup: the fuzzy twin of bloomNewDocs.
  // History state is a disk-resident band-key table (id, band, key,
  // sig) — NOT the texts: the new batch joins history on (band, key)
  // (an equi-join against a table partitionable by key prefix — never
  // a scan of historical text) and verifies candidates by MINHASH
  // SIGNATURE AGREEMENT (the fraction of equal components estimates
  // jaccard; Broder 1997). The estimate is the deliberate scalable
  // choice: exact-jaccard verification would require the historical
  // TEXTS, turning the state from a sketch table into the corpus
  // itself. md5-derived minhash keeps every decision replayable by a
  // SQL oracle.
  // ------------------------------------------------------------------

  /** Ownership handle for one batch's outputs: `survivors` (batch rows
    * that are new vs history and within-batch representatives),
    * `historyRows` (this batch's (id, band, key, sig) rows to append to
    * the state table — survivors only). Both derive from one persisted
    * signature frame; `close()` releases it after the caller has
    * consumed/written the outputs.
    */
  final case class NearDupBatch(survivors: DataFrame, historyRows: DataFrame,
      private val pinned: Seq[DataFrame]) extends AutoCloseable {
    override def close(): Unit = pinned.foreach(_.unpersist(false))
  }

  /** Empty history frame with the state-table schema. */
  def emptyHistory(spark: org.apache.spark.sql.SparkSession,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField(idCol, LongType),
        StructField("band", IntegerType),
        StructField("key", StringType),
        StructField("sig", ArrayType(StringType)))))
  }

  /** Signature-agreement jaccard estimate of two equal-length minhash
    * arrays: |{i : a(i) = b(i)}| / numHashes. Fused codegen'd
    * expression ([[graft.functions.SigAgreementExpr]]); its
    * declarative zip_with/aggregate twin is the spec parity surface.
    */
  private[graft] def sigAgreement(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column, numHashes: Int): org.apache.spark.sql.Column =
    graft.functions.VecMath.sigAgreement(a, b, numHashes)

  /** Dedup `batch` against `history` (a band-key state table as built
    * by previous calls' `historyRows`) AND within itself:
    *  1. batch signatures + band keys (one sketch pass);
    *  2. history candidates via the (band, key) equi-join, dropped when
    *     signature agreement ≥ `threshold`;
    *  3. remaining rows' within-batch candidate pairs (band-key
    *     self-join), agreement-verified, closed into components
    *     ([[Components.dropLosers]] — driver path for small edge
    *     sets), min-id representative kept;
    *  4. survivors' state rows returned for append.
    * NULL-text rows always survive and add no state (the bloomNewDocs
    * semantic).
    *
    * @param maxBucketSize opt-in skew guard for the WITHIN-BATCH pair
    *   step (the [[Dedup.lshCandidatePairs]] contract): a degenerate
    *   batch collapses a band bucket and hands one task O(b²) pair
    *   verification — capping keeps the `maxBucketSize` id-smallest
    *   rows per (band, key) bucket for pairing (deterministic, recall
    *   cost documented there). The history probe is never capped: a
    *   missed history match would resurrect a duplicate.
    */
  def nearDupNewDocs(history: DataFrame, batch: DataFrame, textCol: String,
      idCol: String, threshold: Double = 0.7, numBands: Int = 2,
      rowsPerBand: Int = 2, k: Int = 3,
      maxBucketSize: Int = Int.MaxValue): NearDupBatch = {
    val nh = numBands * rowsPerBand
    val sigged = batch.filter(col(textCol).isNotNull)
      .withColumn("__sig",
        graft.functions.MinHashSignature(col(textCol), nh, k))
      .persist()
    val keyExprs = (0 until numBands).map { b =>
      concat_ws("#", (0 until rowsPerBand).map(r =>
        element_at(col("__sig"), b * rowsPerBand + r + 1)): _*)
    }
    val batchKeys = sigged.select(col(idCol), col("__sig"),
      posexplode(array(keyExprs: _*)).as(Seq("band", "key")))

    // 2. drop batch rows near-matching history. PERSISTED (r12): the
    // dropped-id set is consumed by three downstream actions per batch
    // (the edge/closure job via freshKeys, the survivor aggregate and
    // the state append via fresh) and the history side is the
    // corpus-proportional table — unpersisted, every consumer re-ran
    // the history scan + probe join. The id set itself is
    // micro-batch-bounded.
    val histMatches = batchKeys
      .join(history.select(col("band"), col("key"), col("sig").as("__hsig")),
        Seq("band", "key"))
      .filter(sigAgreement(col("__sig"), col("__hsig"), nh) >= threshold)
      .select(col(idCol)).distinct()
      .persist()
    val fresh = sigged.join(histMatches, Seq(idCol), "left_anti")

    // 3. within-batch near-dup closure over the remaining rows
    val freshKeys0 = batchKeys.join(histMatches, Seq(idCol), "left_anti")
    val freshKeys =
      if (maxBucketSize == Int.MaxValue) freshKeys0
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("key")).orderBy(col(idCol))
        freshKeys0.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= maxBucketSize).drop("__rn")
      }
    val a = freshKeys.select(col("band"), col("key"),
      col(idCol).as("id_a"), col("__sig").as("__sa"))
    val b = freshKeys.select(col("band").as("__b2"), col("key").as("__k2"),
      col(idCol).as("id_b"), col("__sig").as("__sb"))
    val edges = a.join(b, col("band") === col("__b2") &&
        col("key") === col("__k2") && col("id_a") < col("id_b"))
      .filter(sigAgreement(col("__sa"), col("__sb"), nh) >= threshold)
      .select(col("id_a"), col("id_b")).distinct()
    // closure to losers (Components.dropLosers); the loser pin rides
    // the handle's pinned set until close()
    val kept = Components.dropLosers(fresh, idCol, edges)()
    val keptSig = kept.survivors

    val survivors = batch.filter(col(textCol).isNull)
      .unionByName(keptSig.drop("__sig"))
    val historyRows = keptSig.select(col(idCol), col("__sig"),
        posexplode(array(keyExprs.map(e => e): _*)).as(Seq("band", "key")))
      .select(col(idCol), col("band"), col("key"), col("__sig").as("sig"))
    NearDupBatch(survivors, historyRows, Seq(sigged, histMatches, kept.losers))
  }
}
