package graft.dedup

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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

  /** One batch's outputs, both driver-resident LocalRelations:
    * `survivors` (batch rows, in the batch's schema, that are new vs
    * history and within-batch representatives, plus the null-text rows)
    * and `historyRows` (the survivors' (id, band, key, sig) rows to
    * append to the state table). Nothing is pinned. `probe` is the
    * history probe frame the batch collected, kept for plan inspection.
    */
  final case class NearDupBatch(survivors: DataFrame, historyRows: DataFrame,
      private[graft] val probe: DataFrame)

  /** The state-table schema: (id, band, key, sig). */
  private[graft] def stateSchema(idCol: String,
      idType: DataType = LongType): StructType =
    StructType(Seq(
      StructField(idCol, idType),
      StructField("band", IntegerType),
      StructField("key", StringType),
      StructField("sig", ArrayType(StringType))))

  /** Empty history frame with the state-table schema. */
  def emptyHistory(spark: SparkSession, idCol: String): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](), stateSchema(idCol))

  /** Signature-agreement jaccard estimate of two equal-length minhash
    * arrays: |{i : a(i) = b(i)}| / numHashes. Fused codegen'd
    * expression ([[graft.functions.SigAgreementExpr]]); its
    * declarative zip_with/aggregate twin is the spec parity surface.
    */
  private[graft] def sigAgreement(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column, numHashes: Int): org.apache.spark.sql.Column =
    graft.functions.VecMath.sigAgreement(a, b, numHashes)

  /** Dedup `batch` against `history` (a band-key state table as built
    * by previous calls' `historyRows`) AND within itself, with the
    * batch held on the driver:
    *  1. one collect of the batch with its minhash signature and band
    *     keys (the Catalyst sketch expressions; null for null texts);
    *     the keys explode on the driver;
    *  2. one history probe: the batch's (id, band, key, sig) rows as a
    *     LocalRelation, equi-joined with `history` on (band, key);
    *     ids whose signature agreement reaches `threshold` drop;
    *  3. the remaining rows' within-batch candidate pairs (shared
    *     (band, key) buckets, grouped on the driver) are scored by the
    *     same agreement over a LocalRelation and closed by
    *     [[Components.connectedComponents]] (its driver union-find);
    *     the min-id representative is kept;
    *  4. the outputs are LocalRelations (see [[NearDupBatch]]).
    * Jobs: the batch collect and the probe (none when either side is
    * empty). NULL-text rows always survive and add no state (the
    * bloomNewDocs semantic).
    *
    * Size bound: the whole batch, with its signatures, is collected, so
    * the batch must fit `spark.driver.maxResultSize` (Spark's error
    * names that setting when it does not); a stream sizes its batches
    * with `maxFilesPerTrigger`/`maxBytesPerTrigger`.
    */
  def nearDupNewDocs(history: DataFrame, batch: DataFrame, textCol: String,
      idCol: String, threshold: Double = 0.7, numBands: Int = 2,
      rowsPerBand: Int = 2, k: Int = 3): NearDupBatch = {
    val spark = batch.sparkSession
    val nh = numBands * rowsPerBand
    val keyCols = Dedup.bandKeyCols(col("__sig"), numBands, rowsPerBand)
    // 1. the one collect of the batch
    val n = batch.schema.length
    val (idAt, textAt) = (batch.schema.fieldIndex(idCol),
      batch.schema.fieldIndex(textCol))
    val rows = batch
      .select(col("*"),
        graft.functions.MinHashSignature(col(textCol), nh, k).as("__sig"))
      .select(col("*"),
        when(col("__sig").isNotNull, array(keyCols: _*)).as("__keys"))
      .collect()
    def idOf(r: Row): Any = r.get(idAt)
    def sigOf(r: Row): Seq[String] = r.getSeq[String](n)
    def keysOf(r: Row): Seq[String] = r.getSeq[String](n + 1)
    val sketched = rows.toSeq.filterNot(_.isNullAt(textAt))
    val idType = batch.schema(idAt).dataType
    val schema = stateSchema(idCol, idType)
    def stateRows(rs: Seq[Row]): Seq[Row] = rs.flatMap(r =>
      keysOf(r).zipWithIndex.map { case (key, band) =>
        Row(idOf(r), band, key, sigOf(r)) })
    def local(rs: Seq[Row], st: StructType): DataFrame =
      spark.createDataFrame(rs.asJava, st)

    // 2. the one history probe
    val probe = local(stateRows(sketched), schema)
      .join(history.select(col("band"), col("key"), col("sig").as("__hsig")),
        Seq("band", "key"))
      .filter(sigAgreement(col("sig"), col("__hsig"), nh) >= threshold)
      .select(col(idCol))
    val dropped = probe.collect().map(_.get(0)).toSet
    val fresh = sketched.filterNot(r => dropped(idOf(r))).toIndexedSeq

    // 3. within-batch closure over every pair of rows that share a
    // (band, key) bucket, each pair once (by batch position)
    val pairs = fresh.indices
      .flatMap(i => keysOf(fresh(i)).zipWithIndex.map(_ -> i))
      .groupBy(_._1).values
      .flatMap(bucket => bucket.map(_._2).combinations(2))
      .map { case Seq(x, y) => (x, y) }.toSeq.distinct.sorted
    val edges = local(pairs.map { case (x, y) =>
        Row(idOf(fresh(x)), idOf(fresh(y)), sigOf(fresh(x)), sigOf(fresh(y)))
      }, StructType(Seq(
        StructField("id_a", idType), StructField("id_b", idType),
        StructField("__sa", ArrayType(StringType)),
        StructField("__sb", ArrayType(StringType)))))
      .filter(sigAgreement(col("__sa"), col("__sb"), nh) >= threshold)
      .select(col("id_a"), col("id_b"))
    val losers = Components.connectedComponents(edges).collect()
      .collect { case m if m.get(0) != m.get(1) => m.get(0) }.toSet
    val kept = fresh.filterNot(r => losers(idOf(r)))

    // 4. local outputs
    val keptIds = kept.map(idOf).toSet
    val survivors = local(rows.toSeq
      .filter(r => r.isNullAt(textAt) || keptIds(idOf(r)))
      .map(r => Row.fromSeq(r.toSeq.take(n))), batch.schema)
    NearDupBatch(survivors, local(stateRows(kept), schema), probe)
  }
}
