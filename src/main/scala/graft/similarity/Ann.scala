package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Baseline: brute-force cosine top-k (one scan, one
  * TakeOrdered — no shuffle of the vectors). Scale path: random
  * hyperplane LSH bucketing so the scan touches only candidate buckets.
  * The pairwise cosine — the verify arithmetic on every candidate path
  * — is a fused codegen'd expression ([[graft.functions.VecCosineExpr]]);
  * its bit-identical higher-order-function twin (deterministic
  * left-to-right accumulation) lives with the specs as the parity
  * surface. No UDFs anywhere.
  */
object Ann {

  /** Pairwise cosine — the fused single-pass expression. Bit-identical
    * to the declarative zip_with/aggregate form (spec'd), ~an order of magnitude less
    * per-row overhead: the declarative form's zip_with/aggregate
    * lambdas are CodegenFallback and box every element three times.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VecMath.cosine(a, b)

  /** Brute-force cosine top-k against a constant probe vector.
    * TakeOrderedAndProject: no global sort, no shuffle of embeddings;
    * at cluster scale each executor emits its local top-k only.
    */
  def bruteForceTopK(df: DataFrame, embCol: String, idCol: String,
      probe: Seq[Float], k: Int, excludeId: Option[Long] = None): DataFrame = {
    val probeCol = typedLit(probe)
    val base = excludeId.fold(df)(id => df.filter(col(idCol) =!= id))
    base.select(col(idCol), cosine(col(embCol), probeCol).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Deterministic pseudo-random hyperplane component w(plane, dim) in
    * [-1, 1): a hash-derived lattice, reproducible everywhere.
    */
  private def planeWeight(plane: Int, dim: Column): Column =
    (pmod(xxhash64(lit(plane), dim), lit(2000L)).cast("double") - 1000.0) / 1000.0

  /** Oracle-portable hyperplane weights: w(plane, dim) in [-1, 1) from
    * the md5 of "plane|dim" (first 15 hex chars base-16, mod 2000) —
    * the exact arithmetic a SQL oracle can replay
    * (`(CAST('0x' || substring(md5(p || '|' || i), 1, 15) AS BIGINT)
    * % 2000 - 1000) / 1000.0`). The weights depend only on (plane, dim),
    * so they are computed ONCE here and embedded as literals: the Spark
    * plan pays zero per-row hashing.
    */
  def portablePlaneWeights(numPlanes: Int, dim: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(numPlanes, dim) { (p, i) =>
      md.reset()
      val hex = md.digest(s"$p|$i".getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString.take(15)
      (java.lang.Long.parseLong(hex, 16) % 2000L - 1000L) / 1000.0
    }
  }

  /** Portable twin of [[lshBucket]]: literal md5-derived weights, same
    * sign-bit bucketing — reproducible bit-for-bit by a SQL oracle
    * (products and the left-to-right double sum are order-identical).
    * Requires the (static) embedding dimension.
    */
  def lshBucketPortable(emb: Column, dim: Int, numPlanes: Int = 8): Column =
    graft.functions.VecMath.lshBucketPortable(
      emb, portablePlaneWeights(numPlanes, dim))

  /** Sign bits of `numPlanes` random-hyperplane projections → LSH bucket
    * id. Vectors with equal buckets are cosine-close with high
    * probability.
    */
  def lshBucket(emb: Column, numPlanes: Int = 8): Column = {
    val bits = (0 until numPlanes).map { p =>
      val proj = aggregate(
        zip_with(emb, sequence(lit(0), size(emb) - 1),
          (x, i) => x.cast("double") * planeWeight(p, i)),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, shiftleft(lit(1L), p)).otherwise(0L)
    }
    bits.reduce(_ bitwiseOR _)
  }

  /** All bucket ids within hamming distance `probeBits` of `bucket`
    * (multi-probe LSH: a vector one sign-flip away lands one bit away).
    */
  private[graft] def probeBuckets(bucket: Long, numPlanes: Int,
      probeBits: Int): Seq[Long] = {
    val masks = (0 to probeBits).flatMap(d =>
      (0 until numPlanes).combinations(d).map(_.map(1L << _).sum))
    masks.map(bucket ^ _).distinct
  }

  /** LSH-accelerated top-k: score only vectors in the probe's bucket
    * plus hamming-adjacent buckets within `probeBits` flips (multi-probe
    * — near neighbors that straddle a hyperplane sit one sign bit away).
    * When the probed buckets hold fewer than k candidates the search
    * falls back to exact brute force over the corpus, so the result
    * size is always min(k, corpus) — never a silently-short answer.
    * The fallback costs one candidate-count job; at index scale that is
    * a metadata-sized aggregation against one LSH scan.
    */
  def lshTopK(df: DataFrame, embCol: String, idCol: String,
      probe: Seq[Float], k: Int, numPlanes: Int = 8,
      probeBits: Int = 1): DataFrame = {
    val bucketed = df.withColumn("__bucket", lshBucket(col(embCol), numPlanes))
    val probeBucket = bucketed.sparkSession.range(1)
      .select(lshBucket(typedLit(probe), numPlanes).as("b")).head().getLong(0)
    val wanted = probeBuckets(probeBucket, numPlanes, probeBits)
    val candidates = bucketed
      .filter(col("__bucket").isin(wanted.map(x => x: Any): _*))
    val base =
      if (candidates.limit(k).count() < k) df // sparse buckets: exact fallback
      else candidates.drop("__bucket")
    bruteForceTopK(base, embCol, idCol, probe, k)
  }

  /** IVF (inverted-file) ANN: k-means coarse quantizer over the corpus,
    * probe only the `nProbe` nearest cells — the classic
    * coarse-quantization scale path (one shuffle to bucket the corpus;
    * queries scan |corpus|·nProbe/nCells vectors). Seeded k-means keeps
    * the index deterministic.
    */
  /** The index handle OWNS the cached cell-assignment frame (repeated
    * probes are the point of an index); `close()` releases it —
    * long-lived sessions that build indexes in a loop must close each
    * one or the pinned assignments accumulate without bound.
    */
  final case class IvfIndex(assigned: DataFrame,
      centroids: Array[Array[Double]], embCol: String, idCol: String)
      extends AutoCloseable {
    override def close(): Unit = assigned.unpersist(true)
  }

  /** Coarse quantizers train on a bounded sample, not the corpus (the
    * FAISS recipe: centroid quality needs ~hundreds of vectors per
    * cell). The sample is a deterministic hash-ordered prefix, Lloyd's
    * runs on the driver (nCells × dim doubles — trivially small), and
    * the corpus-wide cell assignment is the only distributed step: a
    * single broadcast-centroid pass, no iteration-per-job like a
    * distributed k-means would cost.
    */
  def ivfBuild(df: DataFrame, embCol: String, idCol: String,
      nCells: Int = 16, seed: Long = 42L, maxTrain: Int = 16384,
      maxIter: Int = 20): IvfIndex = {
    val spark = df.sparkSession
    val sample = df
      // NULL embeddings are legal input (the assign UDF maps them to
      // cell -1) — keep them out of the training collect
      .filter(col(embCol).isNotNull)
      .select(col(embCol).cast("array<double>").as("__v"), col(idCol).as("__id"))
      .orderBy(xxhash64(col("__id").cast("string"), lit(seed)), col("__id"))
      .limit(maxTrain)
      .collect().map(_.getSeq[Double](0).toArray)
    val centroids = lloyd(sample, nCells, maxIter)
    val bc = spark.sparkContext.broadcast(centroids)
    val assign = udf { v: Seq[Double] =>
      if (v == null) -1 else nearestCell(bc.value, v.toArray)
    }
    val assigned = df
      .withColumn("__cell", assign(col(embCol).cast("array<double>")))
      .cache()
    IvfIndex(assigned, centroids, embCol, idCol)
  }

  /** Seeded Lloyd's iterations on the driver. Init = first k sample
    * vectors (the sample order is already hash-shuffled); empty cells
    * keep their previous centroid. Squared-Euclidean assignment, ties
    * to the lowest cell index — all deterministic.
    */
  private[similarity] def lloyd(sample: Array[Array[Double]], k: Int,
      maxIter: Int): Array[Array[Double]] = {
    require(sample.nonEmpty, "ivfBuild: empty training sample")
    val dim = sample.head.length
    var centroids = Array.tabulate(math.min(k, sample.length))(i => sample(i).clone())
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      var i = 0
      while (i < sample.length) {
        val c = nearestCell(centroids, sample(i))
        val s = sums(c)
        var j = 0
        while (j < dim) { s(j) += sample(i)(j); j += 1 }
        counts(c) += 1
        i += 1
      }
      moved = false
      val next = Array.tabulate(centroids.length) { c =>
        if (counts(c) == 0) centroids(c)
        else {
          val m = new Array[Double](dim)
          var j = 0
          while (j < dim) {
            m(j) = sums(c)(j) / counts(c)
            if (m(j) != centroids(c)(j)) moved = true
            j += 1
          }
          m
        }
      }
      centroids = next
      iter += 1
    }
    centroids
  }

  private[similarity] def nearestCell(centroids: Array[Array[Double]],
      v: Array[Double]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val cv = centroids(c)
      var d = 0.0
      var j = 0
      while (j < cv.length && j < v.length) {
        val diff = cv(j) - v(j); d += diff * diff; j += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  def ivfTopK(index: IvfIndex, probe: Seq[Float], k: Int,
      nProbe: Int = 4): DataFrame = {
    // nearest cells by cosine on the driver (centroid count is tiny)
    def cos(a: Array[Double], b: Seq[Float]): Double = {
      var num = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        num += a(i) * b(i); na += a(i) * a(i); nb += b(i).toDouble * b(i)
        i += 1
      }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0) 0.0 else num / den
    }
    val cells = index.centroids.zipWithIndex
      .sortBy { case (c, i) => (-cos(c, probe), i) }
      .take(nProbe).map(_._2)
    val candidates = index.assigned
      .filter(col("__cell").isin(cells.toIndexedSeq: _*))
      .drop("__cell")
    bruteForceTopK(candidates, index.embCol, index.idCol, probe, k)
  }

  // -------------------------------------------------- int8 quantization
  /** Symmetric per-vector int8 scalar quantization: code_i =
    * floor(x_i · 127 / max|x| + 0.5) ∈ [-127, 127] (explicit
    * floor-half-up — `round` rounds half-up in Spark but half-even in
    * other engines, so the formula, not the builtin, is the contract).
    * A 100 TB float32 embedding column becomes a quarter the bytes; and
    * because quantized COSINE cancels the per-vector scale
    * (dot·s_a·s_b / (‖a‖s_a · ‖b‖s_b) = int dot / √(‖a‖²·‖b‖²)), ranking
    * needs only the integer codes — exact integer arithmetic plus two
    * IEEE ops, reproducible bit-for-bit by any engine. The zero vector
    * quantizes to all-zero codes.
    */
  def int8Codes(emb: Column): Column = {
    val mx = array_max(transform(emb, x => abs(x.cast("double"))))
    transform(emb, x =>
      when(mx === 0.0, 0)
        .otherwise(floor(x.cast("double") * 127.0 / mx + 0.5).cast("int")))
  }

  /** Quantize a probe vector driver-side with the identical formula. */
  def int8CodesLocal(v: Seq[Float]): Seq[Int] = {
    val mx = v.map(x => math.abs(x.toDouble)).foldLeft(0.0)(math.max)
    if (mx == 0.0) v.map(_ => 0)
    else v.map(x => math.floor(x.toDouble * 127.0 / mx + 0.5).toInt)
  }

  /** Brute-force top-k by QUANTIZED cosine: the memory-bound scan shape
    * — 4× less data read per vector than float32, one fused codegen'd
    * scoring call per row ([[graft.functions.Int8Cosine]]), same
    * TakeOrdered plan as [[bruteForceTopK]]. Recall loss is bounded by
    * the quantization error (spec'd); [[int8TopKRerank]] recovers it.
    */
  def int8TopK(df: DataFrame, embCol: String, idCol: String,
      probe: Seq[Float], k: Int, excludeId: Option[Long] = None): DataFrame = {
    val probeCodes = int8CodesLocal(probe).toArray
    val base = excludeId.fold(df)(id => df.filter(col(idCol) =!= id))
    base.select(col(idCol),
        graft.functions.Int8Cosine(col(embCol), probeCodes).as("qcosine"))
      .orderBy(col("qcosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Quantized scan + exact re-rank: the int8 pass shortlists
    * `k · overfetch` candidates (memory-bound, 1 byte/dim), then exact
    * float cosine re-ranks ONLY the shortlist — recall recovery at
    * shortlist cost, the standard two-stage ANN recipe. The second
    * stage is a broadcast-semi-join-free `isin` filter over the
    * shortlist ids (driver-bounded at k·overfetch) + one more
    * TakeOrdered.
    */
  def int8TopKRerank(df: DataFrame, embCol: String, idCol: String,
      probe: Seq[Float], k: Int, overfetch: Int = 4,
      excludeId: Option[Long] = None): DataFrame = {
    val shortlist = int8TopK(df, embCol, idCol, probe, k * overfetch, excludeId)
      .select(col(idCol)).collect().map(_.get(0))
    bruteForceTopK(
      df.filter(col(idCol).isin(shortlist.toIndexedSeq: _*)),
      embCol, idCol, probe, k, excludeId)
  }

  /** Batch kNN JOIN: exact top-k neighbors for EVERY probe at once —
    * the similarity-graph / retrieval-eval workload, where
    * [[bruteForceTopK]]'s one-probe TakeOrdered doesn't apply.
    *
    * Shape (r12): the probe set (small by definition — it's the side
    * you broadcast) fans out against the corpus scan with BOTH sides'
    * self-norms precomputed per row, so the per-pair work is one dot
    * loop ([[graft.functions.VecMath.cosinePre]] — bit-identical to
    * the fused cosine, which re-ran both norm loops once per pair).
    * For integral ids, per-probe top-k resolves through the bounded
    * [[graft.operators.TopK.topKPerGroup]] aggregate — the map-side
    * partial keeps ≤ k rows per (probe, task), so the |corpus|×|probes|
    * scored pair set never shuffles (the windows it replaces shuffled
    * and sorted every pair TWICE). Tie rule unchanged: (cosine DESC,
    * id ASC), so the (rank, id, cosine) tuple stays deterministic and
    * oracle-checkable. Non-integral ids keep the salted two-phase
    * window path (the aggregate's long-keyed buffer can't round-trip
    * them).
    */
  def knnJoin(df: DataFrame, embCol: String, idCol: String,
      probes: DataFrame, probeIdCol: String, probeEmbCol: String, k: Int,
      nSalts: Int = 64): DataFrame = {
    val corpus = df.select(col(idCol), col(embCol),
      graft.functions.VecMath.norm(col(embCol)).as("__na"))
    val pr = probes.select(col(probeIdCol).as("__pid"),
      col(probeEmbCol).as("__pemb"),
      graft.functions.VecMath.norm(col(probeEmbCol)).as("__nb"))
    val scored = corpus.crossJoin(broadcast(pr))
      .filter(col(idCol) =!= col("__pid"))
      .select(col("__pid"), col(idCol),
        graft.functions.VecMath.cosinePre(col(embCol), col("__pemb"),
          col("__na") * col("__nb")).as("cosine"))
    val idType = df.schema(idCol).dataType
    if (graft.operators.TopK.integralKeyType(idType))
      // a null or dimension-mismatched embedding scores a null cosine:
      // it ranks no neighbour (TopK's scores are non-nullable)
      graft.operators.TopK.topKPerGroup(scored.filter(col("cosine").isNotNull), Seq("__pid"),
          col("cosine"), col(idCol), k)
        .select(col("__pid").as(probeIdCol), col("rank"),
          col("id").cast(idType).as(idCol), col("score").as("cosine"))
    else {
      import org.apache.spark.sql.expressions.Window
      val salted = scored.withColumn("__salt",
        pmod(xxhash64(col(idCol)), lit(nSalts.toLong)))
      val byScore = Seq(col("cosine").desc, col(idCol).asc)
      val local = Window.partitionBy(col("__pid"), col("__salt"))
        .orderBy(byScore: _*)
      val global = Window.partitionBy(col("__pid")).orderBy(byScore: _*)
      salted
        .withColumn("__lr", row_number().over(local)).filter(col("__lr") <= k)
        .withColumn("rank", row_number().over(global)).filter(col("rank") <= k)
        .select(col("__pid").as(probeIdCol), col("rank"), col(idCol),
          col("cosine"))
    }
  }

  /** `probeBits` sentinel (the DEFAULT for [[knnGraph]] and
    * [[SemDedup.nearDuplicatePairs]]): consult the [[autoProbe]]
    * recall governor on a bounded deterministic sample instead of
    * silently shipping single-probe recall (the q144 finding: 13% on
    * the harness embeddings). Opt-OUT evidence, the round-8
    * auto-generator pattern — pinning an explicit width (0 for
    * cheapest, `planes` for brute force) skips the governor and its
    * cost: one |sample| × corpus exact ground-truth scan plus one
    * banded sweep, the honest price of a recall estimate.
    */
  val AutoProbe: Int = -1

  /** Deterministic ~`sampleSize`-row probe gate over any id type: ids
    * whose salted hash lands in stride 0. Stride, not TakeOrdered —
    * a gate must be a pushable per-row predicate for
    * [[lshRecallCurve]], and n/stride rows survive in expectation.
    */
  private[graft] def sampleGate(idCol: String, n: Long,
      sampleSize: Int, seed: Long = 42L): Column = {
    val stride = math.max(1L, n / math.max(1, sampleSize))
    pmod(xxhash64(col(idCol).cast("string"), lit(seed)), lit(stride)) === 0L
  }

  /** Approximate kNN GRAPH — every node's top-k same-cell neighbors —
    * at corpus scale: [[knnJoin]] broadcasts its probes, so using it
    * for a full graph is an n² corpus scan per corpus; here the corpus
    * self-joins ONCE on density-sized LSH cells
    * ([[SemDedup.autoPlanes]] keeps the mean cell ~`targetCell`
    * vectors, so per-cell pairwise work stays constant as n grows) and
    * each node's neighbors reduce through the bounded
    * [[graft.operators.TopK]] aggregate — no hot-node window, shuffle
    * ≤ k rows per (node, map task). Output (src, rank, dst, cosine),
    * rank 1-based by (cosine DESC, dst ASC). Recall follows the cell
    * structure (the SemDeDup trade): same-cell neighbors only at
    * `probeBits = 0` — the edge set a kNN-graph PageRank or
    * SemDeDup-style clustering consumes, not an exact kNN (use
    * [[knnJoin]] for exactness on a bounded probe set).
    *
    * `probeBits` is the recall lever (the q144 finding: single-probe
    * LSH recall is the weak point): each node ADDITIONALLY probes
    * every cell within that Hamming distance of its own — near
    * neighbors that straddle a hyperplane sit one sign bit away — at
    * a candidate-volume cost of ×Σ C(planes, d). A node's probes are
    * distinct cells and a neighbor lives in exactly one, so no pair
    * duplicates. `probeBits = planes` degenerates to exact brute
    * force (every cell probed — the spec's equivalence anchor).
    * The DEFAULT is [[AutoProbe]]: the [[autoProbe]] governor picks
    * the smallest width whose sampled recall meets `targetRecallPct`
    * — under-recall can no longer ship silently; pin an explicit
    * width to skip the governor (and its sampled ground-truth cost).
    */
  def knnGraph(df: DataFrame, embCol: String, idCol: String, k: Int,
      numPlanes: Int = 0, targetCell: Int = 128,
      probeBits: Int = AutoProbe, targetRecallPct: Long = 80L,
      probeSample: Int = 200): DataFrame = {
    require(probeBits >= 0 || probeBits == AutoProbe,
      "probeBits must be >= 0 (or Ann.AutoProbe)")
    // ids route through the long-keyed TopK aggregate; only integral
    // types round-trip the cast losslessly, so anything else (string
    // ids would silently become null dst edges) is rejected up front
    val idType = df.schema(idCol).dataType
    require(graft.operators.TopK.integralKeyType(idType),
      s"knnGraph requires an integral id column, got $idCol: $idType")
    if (df.isEmpty)
      return df.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(
          StructField("src", idType), StructField("rank", IntegerType),
          StructField("dst", idType), StructField("cosine", DoubleType))))
    lazy val n = df.count()
    val planes =
      if (numPlanes > 0) numPlanes
      else SemDedup.autoPlanes(n, targetCell)
    val resolvedProbe =
      if (probeBits != AutoProbe) probeBits
      else autoProbe(df, embCol, idCol, k,
        sampleGate(idCol, n, probeSample), targetRecallPct, planes)._1
    val dim = df.select(size(col(embCol))).head().getInt(0)
    val b = df.select(col(idCol), col(embCol),
      graft.functions.VecMath.norm(col(embCol)).as("__n"),
      lshBucketPortable(col(embCol), dim, planes).as("__bucket"))
    // probeBuckets(0, ...) IS the Hamming-ball mask set (xor with 0)
    val masks = probeBuckets(0L, planes, math.min(resolvedProbe, planes))
    val probed =
      if (masks == Seq(0L))
        b.select(col("__bucket").as("__probe"), col(idCol).as("__src"),
          col(embCol).as("__ea"), col("__n").as("__na"))
      else
        b.select(explode(array(masks.map(m =>
            col("__bucket").bitwiseXOR(lit(m))): _*)).as("__probe"),
          col(idCol).as("__src"), col(embCol).as("__ea"),
          col("__n").as("__na"))
    val scored = probed
      .join(b.select(col("__bucket").as("__bucket_b"),
          col(idCol).as("__dst"), col(embCol).as("__eb"),
          col("__n").as("__nb")),
        col("__probe") === col("__bucket_b") && col("__src") =!= col("__dst"))
      .select(col("__src"), col("__dst"),
        graft.functions.VecMath.cosinePre(col("__ea"), col("__eb"),
          col("__na") * col("__nb")).as("cosine"))
    graft.operators.TopK.topKPerGroup(scored, Seq("__src"),
        col("cosine"), col("__dst"), k)
      .select(col("__src").as("src"), col("rank"),
        col("id").cast(idType).as("dst"), col("score").as("cosine"))
  }

  /** Recall@k evaluation of the LSH index against exact brute force —
    * the eval-harness query every ANN deployment runs on a probe
    * sample before trusting the index. For each probe passing
    * `probeGate`: the EXACT top-k ([[knnJoin]] — salted, provably
    * exact) and the LSH top-k (candidates restricted to the probe's
    * portable-LSH bucket, ranked by the same cosine through the
    * bounded [[graft.operators.TopK.topKPerGroup]] aggregate), then a
    * one-row census of the overlap: recall = n_hits / n_exact.
    *
    * Scale shape: probes are a gated sample (broadcast both sides);
    * the exact side is the deliberate ground-truth scan
    * (|probes| x |corpus|, the price of a recall measurement); the LSH
    * side is a bucket equi-join touching |corpus| / 2^numPlanes rows
    * per probe. Nothing shuffles the corpus by more than the bucket
    * key; per-probe top-k state is bounded at ~4k entries.
    */
  def lshRecallCensus(df: DataFrame, embCol: String, idCol: String,
      probeGate: Column, k: Int, dim: Int, numPlanes: Int = 4): DataFrame = {
    val probes = df.filter(probeGate)
      .select(col(idCol).as("__pid"), col(embCol).as("__pemb"))
    val exact = knnJoin(df, embCol, idCol, probes, "__pid", "__pemb", k)
      .select(col("__pid"), col(idCol).as("__nid"))
    // approx side rides the per-row-norm scan too (knnJoin's r12 shape)
    val bucketed = df.select(col(idCol), col(embCol),
      graft.functions.VecMath.norm(col(embCol)).as("__na"),
      lshBucketPortable(col(embCol), dim, numPlanes).as("__bucket"))
    val pb = probes
      .withColumn("__nb", graft.functions.VecMath.norm(col("__pemb")))
      .withColumn("__pbucket",
        lshBucketPortable(col("__pemb"), dim, numPlanes))
    val approx = graft.operators.TopK.topKPerGroup(
        bucketed.join(broadcast(pb),
            col("__bucket") === col("__pbucket") && col(idCol) =!= col("__pid"))
          .withColumn("__c", graft.functions.VecMath.cosinePre(
            col(embCol), col("__pemb"), col("__na") * col("__nb"))),
        Seq("__pid"), col("__c"), col(idCol), k)
      .select(col("__pid"), col("id").as("__nid"))
    // ONE overlap pass (r12): the old 4-way crossJoin of independent
    // aggregates re-executed the exact subtree (the |probes| × |corpus|
    // ground-truth scan) and the approx subtree once per referencing
    // branch — n_exact/n_approx/n_hits all fall out of a single
    // full-outer join of the two (per-side-unique) (pid, nid) sets, so
    // each subtree now runs exactly once. Counts are identical: top-k
    // emits each (pid, nid) at most once per side, so count(marker)
    // over the joined frame IS that side's row count, and both-non-null
    // IS the intersection.
    val overlap = exact.withColumn("__e", lit(1))
      .join(approx.withColumn("__a", lit(1)), Seq("__pid", "__nid"),
        "full_outer")
      .agg(count(col("__e")).as("n_exact"),
        count(col("__a")).as("n_approx"),
        count(when(col("__e").isNotNull && col("__a").isNotNull, 1))
          .as("n_hits"))
    probes.agg(count(lit(1)).as("n_probes"))
      .crossJoin(overlap)
      .withColumn("recall_pct", expr("(100 * n_hits) div n_exact"))
  }

  /** Multi-probe recall CURVE: [[lshRecallCensus]] swept over probe
    * widths 0..`maxProbeBits` in ONE pass — the recall-vs-scan-cost
    * trade-off table that picks an index's operating point. Candidates
    * are generated once at the WIDEST probe level (probe bucket XOR
    * every <= maxProbeBits-flip mask, an equi-join on the bucket key);
    * each candidate carries its flip distance and replays into every
    * level >= it (a scan-local explode), so level sets are nested by
    * construction and recall is provably monotone in probe width.
    * Per-(level, probe) top-k runs through the bounded aggregate.
    * Output: one row per probe_bits with the overlap census vs the
    * exact [[knnJoin]] ground truth.
    */
  def lshRecallCurve(df: DataFrame, embCol: String, idCol: String,
      probeGate: Column, k: Int, dim: Int, numPlanes: Int = 4,
      maxProbeBits: Int = 2): DataFrame = {
    val probes = df.filter(probeGate)
      .select(col(idCol).as("__pid"), col(embCol).as("__pemb"))
    val exact = knnJoin(df, embCol, idCol, probes, "__pid", "__pemb", k)
      .select(col("__pid"), col(idCol).as("__nid"))
    val bucketed = df.select(col(idCol), col(embCol),
      graft.functions.VecMath.norm(col(embCol)).as("__na"),
      lshBucketPortable(col(embCol), dim, numPlanes).as("__bucket"))
    val masks: Seq[(Long, Int)] = (0 to maxProbeBits).flatMap(d =>
      (0 until numPlanes).combinations(d).map(c => (c.map(1L << _).sum, d)))
    import df.sparkSession.implicits._
    val pb = probes
      .withColumn("__nb", graft.functions.VecMath.norm(col("__pemb")))
      .withColumn("__pbucket", lshBucketPortable(col("__pemb"), dim, numPlanes))
      .crossJoin(broadcast(masks.toDF("__mask", "__hd")))
      .select(col("__pid"), col("__pemb"), col("__nb"),
        col("__pbucket").bitwiseXOR(col("__mask")).as("__bucket"),
        col("__hd"))
    val cands = bucketed.join(broadcast(pb), Seq("__bucket"))
      .filter(col(idCol) =!= col("__pid"))
      .withColumn("__c", graft.functions.VecMath.cosinePre(
        col(embCol), col("__pemb"), col("__na") * col("__nb")))
      .withColumn("probe_bits",
        explode(sequence(col("__hd"), lit(maxProbeBits))))
    val approx = graft.operators.TopK.topKPerGroup(cands,
        Seq("probe_bits", "__pid"), col("__c"), col(idCol), k)
      .select(col("probe_bits"), col("__pid"), col("id").as("__nid"))
    // r12: per-level overlap + per-level size in ONE aggregation over
    // approx LEFT-joined with the exact set — the old separate
    // hits/perLevel branches each re-executed the banded candidate
    // sweep (approx), and the hits join re-executed the ground-truth
    // scan (exact) on top of its driver-side count below. Each heavy
    // subtree now runs once per action: exact in the nExact count and
    // once here; approx once here.
    val nProbes = probes.count()
    val nExact = exact.count()
    approx.join(exact.withColumn("__e", lit(1)), Seq("__pid", "__nid"),
        "left")
      .groupBy(col("probe_bits"))
      .agg(count(lit(1)).as("n_approx"), count(col("__e")).as("n_hits"))
      .select(col("probe_bits"),
        lit(nProbes).as("n_probes"), lit(nExact).as("n_exact"),
        col("n_approx"), col("n_hits"))
      .withColumn("recall_pct", expr("(100 * n_hits) div n_exact"))
      .orderBy(col("probe_bits"))
  }

  /** Recall-targeted probe-width selection for [[knnGraph]] — closes
    * the loop the q144 measurement opened (13% single-probe recall on
    * the harness embeddings): sweep the multi-probe recall curve
    * ([[lshRecallCurve]], ONE pass over a bounded sampled probe set)
    * at the SAME plane count [[knnGraph]] will use, and choose the
    * smallest probe width whose estimated recall reaches
    * `targetRecallPct`. If no width reaches it, the widest level is
    * returned — the curve row still carries the measured recall, so a
    * caller sees the miss instead of silently under-recalling.
    *
    * Cost: the sample's exact ground truth (|sample| × corpus — the
    * honest price of any recall estimate, q136's recipe) plus one
    * banded candidate sweep; the corpus never self-joins, and the
    * selection is a ≤(maxProbeBits+1)-row driver read.
    *
    * @return (chosen probe width, the full recall curve — one row per
    *         probe_bits with n_probes/n_exact/n_approx/n_hits/
    *         recall_pct, the [[lshRecallCurve]] schema)
    */
  def autoProbe(df: DataFrame, embCol: String, idCol: String, k: Int,
      probeGate: Column, targetRecallPct: Long = 80L,
      numPlanes: Int = 0, targetCell: Int = 128,
      maxProbeBits: Int = 3): (Int, DataFrame) = {
    val planes =
      if (numPlanes > 0) numPlanes
      else SemDedup.autoPlanes(df.count(), targetCell)
    val dim = df.select(size(col(embCol))).head().getInt(0)
    val curve = lshRecallCurve(df, embCol, idCol, probeGate, k, dim,
      planes, math.min(maxProbeBits, planes))
    val levels = curve.select(col("probe_bits"), col("recall_pct"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    // a gated probe set with zero candidates at EVERY level yields an
    // empty curve (lshRecallCurve only emits levels with candidates);
    // the cheapest width is the only defensible answer there — the
    // curve frame is still returned so the caller sees the void
    val chosen = levels.find(_._2 >= targetRecallPct).map(_._1)
      .getOrElse(levels.lastOption.map(_._1).getOrElse(0))
    // the governor is the DEFAULT at the knnGraph/semdedup entry
    // points, so its choice — and the sampled ground-truth cost it
    // paid — must be visible in production logs, pinnable afterwards
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"autoProbe chose probeBits=$chosen (planes=$planes, " +
        s"target=$targetRecallPct%, curve=${levels.map { case (b, r) =>
          s"$b->$r%" }.mkString("[", " ", "]")}); pin probeBits=$chosen " +
        "to skip the governor's sampled ground-truth scan on re-runs")
    (chosen, curve)
  }

  /** Contrastive-pair mining: for each anchor, the count of POSITIVES
    * (cosine >= `posThreshold` — the near-duplicate/paraphrase set a
    * contrastive loss treats as matches) and the top-`k` HARD NEGATIVES
    * (the most similar vectors strictly below the threshold — the
    * pairs that actually move an embedding model, vs easy random
    * negatives). One broadcast-anchor scan computes every cosine;
    * the positive census and the bounded per-anchor top-k
    * ([[graft.operators.TopK.topKPerGroup]]) both fold map-side, and
    * only per-anchor aggregates ever shuffle. Anchors are a gated
    * sample; at corpus scale the scan is |anchors| x |corpus| — the
    * honest price of exact mining; swap the scored scan for the LSH
    * bucket join when approximate negatives suffice.
    */
  def hardNegatives(df: DataFrame, embCol: String, idCol: String,
      anchorGate: Column, posThreshold: Double, k: Int): DataFrame = {
    val anchors = df.filter(anchorGate)
      .select(col(idCol).as("__pid"), col(embCol).as("__pemb"),
        graft.functions.VecMath.norm(col(embCol)).as("__nb"))
    val scored = df
      .select(col(idCol), col(embCol),
        graft.functions.VecMath.norm(col(embCol)).as("__na"))
      .crossJoin(broadcast(anchors))
      .filter(col(idCol) =!= col("__pid"))
      .select(col("__pid"), col(idCol).as("__nid"),
        graft.functions.VecMath.cosinePre(col(embCol), col("__pemb"),
          col("__na") * col("__nb")).as("__c"))
    val pos = scored.filter(col("__c") >= posThreshold)
      .groupBy(col("__pid")).agg(count(lit(1)).as("n_positives"))
    val negs = graft.operators.TopK.topKPerGroup(
      scored.filter(col("__c") < posThreshold),
      Seq("__pid"), col("__c"), col("__nid"), k)
    negs.join(pos, Seq("__pid"), "left")
      .select(col("__pid").as("anchor_id"), col("rank"),
        col("id").as("neg_id"), col("score").as("cosine"),
        coalesce(col("n_positives"), lit(0L)).as("n_positives"))
      .orderBy(col("anchor_id"), col("rank"))
  }
}
