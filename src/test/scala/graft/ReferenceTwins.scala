package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.explain.Invariants
import graft.functions.TextSim
import graft.matcher.ERModel
import graft.perturb.Perturb
import graft.schema.PairSchema
import graft.similarity.Ann
import graft.text.TextAnalysis

/** Reference implementations the specs compare the fused operators
  * against. Each is the higher-order-function (or portable-signature)
  * form a SQL oracle replays; the library ships only the fused form.
  */
object ReferenceTwins {

  // ------------------------------------------------ inline n-gram builders
  // The n-gram builders as they were written before their token array
  // was let-bound (`TextAnalysis.bindOnce`): each lambda references
  // `split(text, " ")` directly, so Catalyst re-splits the text per
  // lambda call. Same expressions, so same values and types; the specs
  // compare the library builders against these, and the sketch twins
  // build on them so they stay independent of the library's builders.

  /** Inline twin of `Dedup.shingles`. */
  def shinglesInline(text: Column, k: Int = 3): Column = {
    val toks = split(text, " ")
    val grams = transform(
      sequence(lit(1), size(toks) - (k - 1)),
      i => concat_ws(" ", (0 until k).map(j => element_at(toks, i + j)): _*))
    when(size(toks) >= k, grams).otherwise(array(text))
  }

  /** Inline twin of `TextAnalysis.ngrams` (the gram array of
    * `Search.phraseTopK` and `SpanDedup`'s positioned grams).
    */
  def ngramsInline(text: Column, n: Int): Column = {
    val tk = split(text, " ")
    when(size(tk) >= n,
      transform(sequence(lit(1), size(tk) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(tk, i + j)): _*))
    ).otherwise(array().cast("array<string>"))
  }

  /** Inline twin of `LangModel.bigrams`. */
  def bigramsInline(text: Column): Column = {
    val tk = split(text, " ")
    when(size(tk) >= 2,
      transform(sequence(lit(1), size(tk) - 1),
        i => struct(element_at(tk, i).as("w1"), element_at(tk, i + 1).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
  }

  /** Inline twin of `Augment.subsequenceVariants` (string attributes
    * named explicitly).
    */
  def subsequenceVariantsInline(source: DataFrame, attrs: Seq[String]): DataFrame =
    attrs.map { a =>
      val toks = split(col(a), " ")
      val variants = flatten(transform(
        sequence(lit(1), size(toks) - 1),
        cut => array(
          array_join(slice(toks, cut + 1, size(toks) - cut), " "),
          array_join(slice(toks, lit(1), cut), " "))))
      source
        .filter(size(toks) >= 2)
        .withColumn("__newval", explode(variants))
        .withColumn(a, col("__newval"))
        .drop("__newval")
    }.reduce(_ unionByName _)

  /** MinHash hash i, declarative formulation: min over shingles of
    * md5(i || '|' || shingle). String-min over hex md5 is a uniform
    * permutation surrogate that any engine reproduces bit-for-bit (the
    * DuckDB-oracle-friendly choice). The equivalence twin of the
    * single-pass `graft.functions.MinHashSignature` expression.
    */
  def minhashColumn(text: Column, i: Int, k: Int = 3): Column =
    array_min(transform(shinglesInline(text, k), sh => md5(concat(lit(s"$i|"), sh))))

  /** Declarative twin of `Ann.lshBucketPortable` (numPlanes separate
    * zip_with/aggregate folds) — the form the SQL oracles replay.
    */
  def lshBucketPortableDeclarative(emb: Column, dim: Int,
      numPlanes: Int = 8): Column = {
    val w = Ann.portablePlaneWeights(numPlanes, dim)
    val bits = (0 until numPlanes).map { p =>
      val proj = aggregate(
        zip_with(emb, typedLit(w(p).toIndexedSeq), (x, wi) => x.cast("double") * wi),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, shiftleft(lit(1L), p)).otherwise(0L)
    }
    bits.reduce(_ bitwiseOR _)
  }

  /** Integer dot product of two int8 code arrays, accumulated in long
    * (max |dot| = dims · 127² — overflow needs 5.7e14 dims).
    */
  private def int8Dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x * y).cast("long")),
      lit(0L), (acc, v) => acc + v)

  /** Cosine over int8 codes — the scale-free quantized similarity. */
  private def int8Cosine(a: Column, b: Column): Column = {
    val den2 = int8Dot(a, a) * int8Dot(b, b)
    when(den2 === 0L, 0.0)
      .otherwise(int8Dot(a, b).cast("double") / sqrt(den2.cast("double")))
  }

  /** Declarative twin of `Ann.int8TopK` (higher-order-function folds —
    * CodegenFallback, so ~3 interpreted lambda passes per row; the
    * formulation the SQL oracle replays).
    */
  def int8TopKDeclarative(df: DataFrame, embCol: String, idCol: String,
      probe: Seq[Float], k: Int, excludeId: Option[Long] = None): DataFrame = {
    val probeCodes = typedLit(Ann.int8CodesLocal(probe))
    val base = excludeId.fold(df)(id => df.filter(col(idCol) =!= id))
    base.select(col(idCol), Ann.int8Codes(col(embCol)).as("__codes"))
      .select(col(idCol), int8Cosine(col("__codes"), probeCodes).as("qcosine"))
      .orderBy(col("qcosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Declarative twin of `Centroids.sqDistLong` (zip_with + aggregate);
    * identical long ops in identical order.
    */
  def sqDistLongDeclarative(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => { val d = x - y; d * d }),
      lit(0L), (acc, v) => acc + v)

  /** `Dedup.simhashNearDuplicatesFromSigs` over the portable 60-bit signature. */
  def simhashNearDuplicatesPortable(df: DataFrame, textCol: String, idCol: String,
      maxDistance: Int = 8, prefixBits: Int = 16): DataFrame =
    Dedup.simhashNearDuplicatesFromSigs(
      df.select(col(idCol), Dedup.simhashPortable(col(textCol)).as("sig")),
      idCol, maxDistance, prefixBits, bits = 60)

  /** `TextSim.tokenCosine`'s reference twin: the regex term bags of
    * `TextSim.cosineBags` as a UDF.
    */
  val cosineUdf = udf(TextSim.cosineBags _)

  /** Dot product of two array<float/double> columns, accumulated in
    * double, left to right.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** The declarative (higher-order-function) twin of `Ann.cosine`: the
    * form a SQL engine replays directly.
    */
  def cosineDeclarative(a: Column, b: Column): Column = {
    val den = norm(a) * norm(b)
    when(den === 0.0, 0.0).otherwise(dot(a, b) / den)
  }

  /** Declarative (zip_with/aggregate) twin of `IncrementalDedup
    * .sigAgreement` — what the SQL oracles replay.
    */
  def sigAgreementDeclarative(a: Column, b: Column, numHashes: Int): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / numHashes

  /** Declarative twin of `Dedup.winnowFingerprints` (the formulation the
    * SQL oracle replays). The gram-hash array is let-bound the way
    * `TextAnalysis.bindOnce` does it, spelled out here so the twin
    * shares no code with the library.
    */
  def winnowFingerprintsDeclarative(text: Column, k: Int = 3, w: Int = 4): Column = {
    val hashes = transform(shinglesInline(text, k), g => Dedup.portableHash60(g))
    element_at(transform(array(hashes), hs => {
      val nWindows = size(hs) - (w - 1)
      val mins = when(nWindows >= 1,
        transform(sequence(lit(1), nWindows), i => array_min(slice(hs, i, lit(w)))))
        .otherwise(array(array_min(hs)))
      array_sort(array_distinct(mins))
    }), 1)
  }

  /** Per-bit-fold twin of `Dedup.simhash`: one ±1 vote fold per bit. */
  def simhashDeclarative(text: Column): Column = {
    val toks = TextAnalysis.tokens(text)
    val bits = (0 until 64).map { b =>
      // sum of ±1 votes for bit b over token hashes, sign → bit
      val vote = aggregate(toks, lit(0L),
        (acc, t) => acc + when(shiftright(xxhash64(t), b).bitwiseAND(1L) === 1L, 1L)
          .otherwise(-1L))
      when(vote > 0, shiftleft(lit(1L), b)).otherwise(0L)
    }
    bits.reduce(_ bitwiseOR _)
  }

  /** Declarative twin of `Dedup.simhashPortable` (the formulation the
    * SQL oracle replays). One `aggregate` carries all 60 vote counters
    * as an array accumulator, so each token's md5 is computed once.
    */
  def simhashPortableDeclarative(text: Column): Column = {
    val bitsN = 60
    val tokh = transform(TextAnalysis.tokens(text), t => Dedup.portableHash60(t))
    aggregate(
      tokh,
      array_repeat(lit(0), bitsN),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(bitsN - 1)),
        (a, b) => a + when(call_function("shiftright", h, b)
          .bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)),
      acc => aggregate(
        zip_with(acc, sequence(lit(0), lit(bitsN - 1)),
          (a, b) => when(a > 0, call_function("shiftleft", lit(1L), b))
            .otherwise(lit(0L))),
        lit(0L), (s, v) => s + v))
  }

  // ------------------------------------------------ near-dup verify
  /** Interpreted twin of `graft.functions.ShingleSet`: the distinct
    * k-shingles in first-seen order (the kernel sorts them).
    */
  def shingleSetInterpreted(text: Column, k: Int = 3): Column =
    array_distinct(shinglesInline(text, k))

  /** Interpreted twin of `graft.functions.ShingleJaccard`: |A∩B| from
    * `array_intersect`'s hash set over |A|+|B|−|A∩B|.
    */
  def jaccardInterpreted(a: Column, b: Column): Column = {
    val interSz = size(array_intersect(a, b))
    interSz.cast("double") / (size(a) + size(b) - interSz).cast("double")
  }

  /** `Dedup.nearDuplicates` as it was written before it verified pairs
    * inside their bucket: the LSH candidate pairs (a bucket holds ids
    * only), then `Dedup.verifyJaccard`, which scans the corpus again for
    * every document's shingle set and joins the sets back to the pairs.
    */
  def nearDuplicatesJoinBack(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.7, numBands: Int = 2, rowsPerBand: Int = 2,
      k: Int = 3, maxBucketSize: Int = Int.MaxValue): DataFrame =
    Dedup.verifyJaccard(
      Dedup.lshCandidatePairs(df, textCol, idCol, numBands, rowsPerBand, k,
        maxBucketSize),
      df, textCol, idCol, threshold, k)

  // ------------------------------------------------ explainer from the sources
  // One-shot explainer steps for callers that hold only the sources and
  // a triangles frame; the explainer itself resolves vertices from the
  // support rows it already holds (`Perturb.vertexRecords`).

  /** The records of the triangles' vertices read from the sources: one
    * filtered scan per source.
    */
  def sourceRecords(triangles: DataFrame, lsource: DataFrame,
      rsource: DataFrame): Perturb.VertexRecords = {
    val vertices = triangles.select(col("u"), col("v"), col("w")).collect()
      .flatMap(_.toSeq.map(String.valueOf)).distinct.toIndexedSeq
    def side(tag: String, src: DataFrame): Seq[(String, Row)] = {
      val ids = vertices.collect { case v if v.startsWith(tag + "@") => v.drop(tag.length + 1) }
      if (ids.isEmpty) Nil
      else src.filter(col("id").cast("string").isin(ids: _*)).collect().toIndexedSeq
        .map(r => s"$tag@${r.getAs[Any]("id")}" -> r)
    }
    Perturb.VertexRecords(lsource.schema, rsource.schema,
      (side("0", lsource) ++ side("1", rsource)).toMap)
  }

  /** `Perturb.forDepth` at one depth, resolved against the sources. */
  def perturbForDepth(triangles: DataFrame, lsource: DataFrame, rsource: DataFrame,
      depth: Int, classToExplain: Int,
      schema: PairSchema = PairSchema.default): DataFrame =
    Perturb.forDepth(Perturb.resolve(triangles, sourceRecords(triangles, lsource, rsource)),
      depth to depth, classToExplain, schema)

  /** `Invariants.checkAll` with the vertices resolved against the
    * sources: (u, v, w, identity, symmetry, transitivity).
    */
  def checkAll(triangles: DataFrame, lsource: DataFrame, rsource: DataFrame,
      model: ERModel, schema: PairSchema = PairSchema.default): DataFrame =
    Invariants.checkAll(Perturb.resolve(triangles, sourceRecords(triangles, lsource, rsource)),
      model, schema)

  // ------------------------------------------------ explainer lattice census
  /** The explainer's lattice census as it was taken before it collected
    * only the flipped rows: one groupBy over EVERY scored perturbation
    * gives (attribute set → n, flips); the reference's monotonicity
    * shortcut is replayed on it (once a depth flips completely, deeper
    * sets count all n as flipped) and pos = cnt / nTriangles. Input:
    * the predictions of `Perturb.forDepth` over `depths`.
    *
    * @return attrSet ("a/b"-joined) → pos
    */
  def censusPss(preds: DataFrame, classScoreCol: String, depths: Range,
      nTriangles: Long): Map[String, Double] = {
    val census = preds.groupBy(col("alteredAttributes"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(classScoreCol) < 0.5, 1L).otherwise(0L)).as("cnt"))
      .collect().map(r => (r.getSeq[String](0), r.getLong(1), r.getLong(2)))
    val perDepth = census.groupMapReduce(_._1.size)(c => (c._2, c._3)) {
      case ((n1, f1), (n2, f2)) => (n1 + n2, f1 + f2)
    }
    val fullFlip = depths.find(a => perDepth.get(a).exists { case (n, f) => n == f })
      .getOrElse(Int.MaxValue)
    census.map { case (set, n, flips) =>
      set.mkString("/") -> (if (set.size > fullFlip) n else flips).toDouble / nTriangles.toDouble
    }.toMap
  }
}
