package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Centroid assignment over an embedding column — the Lloyd
  * assignment step (and IVF's cell router, cf. [[Ann]]'s IVF path) as
  * a pure scan-local expression: the k centroids are folded into the
  * plan as LITERALS, so assignment is whole-stage-codegen arithmetic
  * with NO join and NO shuffle; only the k-row census that follows
  * shuffles. At 100 TB the corpus never moves — each executor scans
  * its partitions once against the broadcast-by-literal centroids.
  *
  * All distance math is an ordered left-fold double chain
  * (`zip_with` then `aggregate` index order, see [[sqDist]]), so a SQL
  * engine replaying `list_aggregate(..., 'sum')` produces
  * bit-identical doubles and the argmin — tie-broken by centroid id —
  * is engine-portable with no quantization.
  */
object Centroids {

  /** Squared L2 distance between two float-array columns, accumulated
    * left-to-right in double (the engine-portable summation order).
    */
  def sqDist(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double")
        d * d
      }),
      lit(0.0), (acc, v) => acc + v)

  /** Assign every row to its nearest centroid (smallest [[sqDist]],
    * ties to the smaller centroid id). `centroids` is small (the k of
    * k-means); each becomes a literal vector in the plan. Output:
    * input columns + (centroid_id, dist) — dist is the exact double.
    */
  def assign(df: DataFrame, embCol: String,
      centroids: Seq[(Long, Seq[Float])]): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    val cands = centroids.map { case (cid, vec) =>
      struct(
        sqDist(col(embCol), typedLit(vec)).as("d"),
        lit(cid).as("cid"))
    }
    // least() on structs compares (d, cid) lexicographically — exactly
    // the argmin-with-id-tie-break rule, evaluated inside codegen
    val best = least(cands: _*)
    df.withColumn("centroid_id", best.getField("cid"))
      .withColumn("dist", best.getField("d"))
  }

  // ------------------------------------------------------------------
  // Fixed-point Lloyd training (full k-means, not just assignment)
  // ------------------------------------------------------------------

  /** Quantize a float-vector column to longs: `floor(double(x)·scale)`.
    * With a power-of-two scale every step is EXACT in IEEE double
    * (float→double widening is exact, ·2^s shifts the exponent), so any
    * engine replaying the formula lands on the identical integers.
    */
  def quantizeVec(c: Column, scale: Long): Column =
    transform(c, x => floor(x.cast("double") * scale).cast("long"))

  /** Integer squared L2 distance between two long-array columns —
    * the codegen'd fused expression ([[graft.functions.SqDistLong]]);
    * all-pairs scans evaluate this millions of times and the
    * declarative higher-order form is CodegenFallback.
    */
  def sqDistLong(a: Column, b: Column): Column =
    graft.functions.SqDistLong(a, b)

  /** Assignment step over integer vectors: nearest centroid by exact
    * integer distance, ties to the smaller centroid id — the same
    * literal-fold, scan-local shape as [[assign]] (corpus never
    * shuffles; each centroid is a literal vector in the plan). Adds
    * (centroid_id, dist_q).
    */
  def assignQuantized(df: DataFrame, qCol: String,
      centroids: Seq[(Long, Seq[Long])]): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    val cands = centroids.map { case (cid, vec) =>
      struct(
        sqDistLong(col(qCol), typedLit(vec)).as("d"),
        lit(cid).as("cid"))
    }
    val best = least(cands: _*)
    df.withColumn("centroid_id", best.getField("cid"))
      .withColumn("dist_q", best.getField("d"))
  }

  /** Full Lloyd iteration loop in FIXED-POINT arithmetic, bit-exactly
    * replayable by any SQL engine:
    *
    *  - data quantized once by [[quantizeVec]] (exact);
    *  - centroid update is the FLOOR-DIVIDED per-dimension mean
    *    (`floorDiv(Σq_i, n)` — floor, not truncation, so negative sums
    *    agree across engines), i.e. centroids live on the same integer
    *    grid as the data — the quantized-centroid Lloyd variant;
    *  - a centroid with no members keeps its previous position;
    *  - argmin ties break to the smaller centroid id.
    *
    * Every quantity in the loop is an integer, so there is no
    * float-summation-order hazard anywhere: Spark and a replaying
    * engine agree bit-for-bit on assignments, centroids, and
    * distances after ANY number of iterations.
    *
    * Scale shape: per iteration the corpus is scanned ONCE against
    * literal centroids (assignment is whole-stage-codegen arithmetic,
    * no join); the only shuffle is the k×(dim+1) partial-aggregate
    * census (map-side combined), collected at k rows. Iterations are
    * driver-bounded; the corpus is never cached, never moved. At
    * 100 TB this is the canonical centroid-training loop: broadcast
    * centroids out by literal, reduce k·dim longs back.
    *
    * Returns the assignment frame under the FINAL centroids (input
    * columns + `__q`, centroid_id, dist_q).
    */
  def lloyd(df: DataFrame, idCol: String, embCol: String, k: Int,
      iters: Int, scale: Long = 4096L): DataFrame = {
    val q = df.withColumn("__q", quantizeVec(col(embCol), scale))
    assignQuantized(q, "__q", lloydTrain(df, idCol, embCol, k, iters, scale))
  }

  /** The training loop of [[lloyd]] alone: returns the FINAL quantized
    * centroids `(cid, vector)` without the assignment frame — the form
    * product quantization ([[Pq]]) consumes per subspace.
    */
  def lloydTrain(df: DataFrame, idCol: String, embCol: String, k: Int,
      iters: Int, scale: Long = 4096L): Seq[(Long, Seq[Long])] = {
    require(k > 0 && iters >= 0, "k > 0, iters >= 0")
    val q = df.withColumn("__q", quantizeVec(col(embCol), scale))
    // dim from one row (bounded single-row job, limit-pushed)
    val dim = q.select(size(col("__q"))).head().getInt(0)
    // seeds: the k min-id rows, quantized DRIVER-SIDE with the same
    // exact double ops the engine uses (floor(x·2^s) is deterministic)
    var cents: Seq[(Long, Seq[Long])] =
      seedByMinId(df, idCol, embCol, k).map { case (cid, vec) =>
        (cid, vec.map(x => math.floor(x.toDouble * scale).toLong))
      }
    for (_ <- 1 to iters) {
      val assigned = assignQuantized(q, "__q", cents)
      val aggs = count(lit(1)).as("n") +:
        (0 until dim).map(i => sum(col("__q")(i)).as(s"s$i"))
      val rows = assigned.groupBy(col("centroid_id"))
        .agg(aggs.head, aggs.tail: _*)
        .collect() // k rows — bounded by k-means' k, not the data
      val updated = rows.map { r =>
        val cid = r.getLong(0); val n = r.getLong(1)
        cid -> (0 until dim).map(i => Math.floorDiv(r.getLong(2 + i), n))
      }.toMap
      cents = cents.map { case (cid, old) =>
        (cid, updated.getOrElse(cid, old))
      }
    }
    cents
  }

  /** Deterministic seed centroids: the k rows with the smallest ids.
    * The collect is bounded at k rows (k-means' k, not data-sized) —
    * same contract as [[Ann]]'s IVF training sample.
    */
  def seedByMinId(df: DataFrame, idCol: String, embCol: String,
      k: Int): Seq[(Long, Seq[Float])] = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long"), col(embCol))
      .orderBy(col(idCol)).limit(k)
      .as[(Long, Seq[Float])].collect().toSeq
  }
}
