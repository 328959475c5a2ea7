package graft.dedup

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.operators.Pinned

/** Distributed connected components over an undirected edge list —
  * the cluster-resolution step that turns near-duplicate PAIRS
  * ([[Dedup.nearDuplicates]], [[Dedup.simhashNearDuplicatesFromSigs]],
  * [[graft.similarity.SemDedup.nearDuplicatePairs]]) into dedup CLUSTERS
  * with one deterministic survivor each. Pair emission alone
  * under-deletes: if A~B and B~C but A!~C, keeping "one of each pair"
  * retains two of the three docs; the transitive closure keeps one.
  *
  * Algorithm: alternating large-star / small-star rounds (Kiveris,
  * Lattanzi, Mirrokni, Rastogi & Vassilvitskii, "Connected Components
  * in MapReduce and Beyond", ACM SoCC 2014). Each round rewires every
  * edge toward the smallest id seen in its neighborhood; the edge set
  * converges to per-component stars centered on the component minimum
  * in O(log n) rounds — the shape that survives 100 TB, unlike
  * label-propagation variants whose round count is the graph DIAMETER
  * (a duplicate chain of length k would need k rounds).
  *
  * Every round is two window aggregations + distinct (shuffles on the
  * star center); no adjacency lists are ever collected — a hot vertex
  * costs a sort-run, not an array materialization. Per-round frames
  * are persisted for the convergence check and released as soon as
  * the next round materializes; the RETURNED mapping is persisted and
  * caller-owned (unpersist when done — the library itself pins
  * nothing beyond it, same ownership contract as `IvfIndex`).
  *
  * The dedup operators never hold a mapping: they end in
  * [[dropLosers]], which applies a survivorship rule, pins only the
  * loser ids and releases the mapping before returning.
  */
object Components {

  /** Map each vertex of `edges` to its component representative (the
    * minimum vertex id in the component). Vertices not appearing in
    * any edge are absent (callers union isolated ids if needed);
    * self-loops are ignored. Returns (id, rep), one row per distinct
    * vertex, including (rep, rep) for the representative itself.
    *
    * Cost-based path choice: with long-typed ids and
    * `driverEdgeThreshold >= 1`, one action reads at most
    * `driverEdgeThreshold + 1` raw edge rows (`limit(threshold + 1)
    * .collect()`). When they all fit, the closure runs on the driver as
    * a path-compressed union-find over them — no pin, no canonical
    * shuffle, no checksum job: near-dup edge sets are usually orders of
    * magnitude below the corpus, and O(log n) alternating-star shuffle
    * rounds cost more than reading ≤ threshold pairs once. Spark's
    * bounded take scans partitions in growing steps, so the action is
    * one job over a single-partition edge frame (an AQE-coalesced pair
    * shuffle) and no job over a plan that folds to a LocalRelation.
    * Otherwise (or for non-long ids, or `driverEdgeThreshold` 0) the
    * distributed large-star/small-star loop runs unchanged — the 100 TB
    * default. The bound counts RAW rows, before
    * self-loops and duplicates drop, so a caller with heavily duplicated
    * edges takes the distributed path sooner; every dedup operator
    * passes distinct pairs. Both paths produce the identical mapping
    * (spec-pinned).
    *
    * `roundObserver` is a measurement seam: the distributed loop calls
    * it after every completed round with (round index starting at 1,
    * canonical edge count after the round). The O(log n) round-count
    * claim was measured through it (2 rounds at every scale up to
    * 10.24M docs, SURVEY.md round 10 ScaleSmoke closure legs), and
    * ComponentsSpec pins the log bound on a 64-node path through it;
    * the driver union-find path never calls it (no rounds).
    */
  def connectedComponents(edges: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", maxIter: Int = 25,
      driverEdgeThreshold: Long = 1L << 20,
      roundObserver: (Int, Long) => Unit = (_, _) => ()): DataFrame = {
    val spark = edges.sparkSession
    val uv = edges.select(col(aCol).as("u"), col(bCol).as("v"))
    if (longIds(uv) && driverEdgeThreshold >= 1) {
      val rows = uv.limit(math.min(driverEdgeThreshold, Int.MaxValue - 1L).toInt + 1)
        .collect()
      if (rows.length <= driverEdgeThreshold) return unionFind(spark, rows)
    }
    // Each round must TRUNCATE lineage, not just cache: both star
    // passes reference their input twice (self-union / self-window),
    // so composed plans grow ~4× per round — exponential in rounds,
    // an OOM at plan-stringification long before execution. Each
    // round's rows are a Pinned handle: constant-size plans, blocks
    // filled inside the round's checksum job, released by close().
    var cur = Pinned(canonical(uv))
    var curSum = checksum(cur.df)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val next = Pinned(canonical(smallStar(largeStar(cur.df))))
      val nextSum = checksum(next.df) // materializes next's blocks
      cur.close()
      converged = nextSum == curSum
      cur = next
      curSum = nextSum
      it += 1
      roundObserver(it, nextSum._1)
    }
    // converged edges are stars (child, componentMin)
    val mapping = cur.df
      .select(col("u").as("id"), col("v").as("rep"))
      .union(cur.df.select(col("v").as("id"), col("v").as("rep")))
      .distinct()
      .persist()
    mapping.count() // pin before releasing the final iteration frame
    cur.close()
    mapping
  }

  private def longIds(uv: DataFrame): Boolean =
    uv.schema.fields.forall(_.dataType == LongType)

  /** Path-compressed union-find over (u, v) edge rows on the driver,
    * union by min so each representative is its component minimum.
    * Self-loops and null ends are skipped (what [[canonical]] drops).
    * Returns the (id, rep) mapping as a LocalRelation: nothing pinned,
    * a caller's unpersist is a no-op.
    */
  private def unionFind(spark: SparkSession, rows: Array[Row]): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      // path compression
      var c = x
      while (parent.getOrDefault(c, c) != c) {
        val nxt = parent.get(c); parent.put(c, r); c = nxt
      }
      r
    }
    for (row <- rows if !row.isNullAt(0) && !row.isNullAt(1)) {
      val (u, v) = (row.getLong(0), row.getLong(1))
      if (u != v) {
        parent.putIfAbsent(u, u); parent.putIfAbsent(v, v)
        val (ru, rv) = (find(u), find(v))
        // union by MIN: the representative is the component minimum
        if (ru != rv) {
          if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv)
        }
      }
    }
    val out = new java.util.ArrayList[Row]()
    val it0 = parent.keySet().iterator()
    while (it0.hasNext) {
      val id = it0.next()
      out.add(Row(id, find(id)))
    }
    spark.createDataFrame(out, StructType(Seq(
      StructField("id", LongType), StructField("rep", LongType))))
  }

  // ------------------------------------------------- closure to losers
  /** Closure to losers — the step every dedup operator ends in, and
    * the one place its output is pinned. Closes `edges` into
    * components, lets the survivorship `rule` turn the (id, rep)
    * mapping into loser ids (one `idCol` column), and returns `df`
    * without them ([[withoutLosers]]). The losers are materialized
    * while the mapping is still cached, then the mapping is released:
    * the handle holds the only pin — the loser list, the duplicate
    * mass, small next to the corpus.
    */
  private[graft] def dropLosers(df: DataFrame, idCol: String,
      edges: DataFrame)(rule: DataFrame => DataFrame = minIdLosers(idCol))
      : Dedup.NearDupResult = {
    val mapping = connectedComponents(edges)
    try withoutLosers(df, idCol, rule(mapping)) finally mapping.unpersist()
  }

  /** `df` minus `losers` (one `idCol` column) as a caller-owned
    * [[Dedup.NearDupResult]]. The losers are persisted and counted, so
    * their lineage runs once; `close()` releases them. A loser plan
    * that folds to a LocalRelation (the rule ran over the driver-side
    * closure's mapping) is already driver-resident: nothing is
    * persisted and no counting job runs.
    */
  private[graft] def withoutLosers(df: DataFrame, idCol: String,
      losers: DataFrame): Dedup.NearDupResult = {
    val pinned = losers.queryExecution.optimizedPlan match {
      case _: LocalRelation => losers
      case _ => val l = losers.persist(); l.count(); l
    }
    Dedup.NearDupResult(df.join(pinned, Seq(idCol), "left_anti"), pinned)
  }

  /** Min-id survivorship: every member but its component's minimum
    * loses — the deterministic batch-dedup rule.
    */
  private def minIdLosers(idCol: String)(
      mapping: DataFrame): DataFrame =
    mapping.filter(col("id") =!= col("rep")).select(col("id").as(idCol))

  /** Survivorship for a `batch` closed against an already-deduped
    * history (the incremental operators): only batch ids can lose.
    *  - min-id (the id-ordering contract): a batch doc survives iff it
    *    is its component's overall minimum;
    *  - first-arrival (`historyWins`, the streaming semantic, no
    *    id-order assumption): a batch doc dies iff its component
    *    touches ANY history doc, or a smaller batch id claims the
    *    batch-only component — one marked per-component aggregate.
    */
  private[graft] def batchLosers(batch: DataFrame, idCol: String,
      historyWins: Boolean)(mapping: DataFrame): DataFrame =
    if (!historyWins)
      mapping.filter(col("id") =!= col("rep"))
        .join(batch.select(col(idCol).as("id")), Seq("id"), "left_semi")
        .select(col("id").as(idCol))
    else {
      val marked = mapping.join(
        batch.select(col(idCol).as("id"), lit(true).as("__isBatch")),
        Seq("id"), "left")
      val perRep = marked.groupBy(col("rep")).agg(
        max(when(col("__isBatch").isNull, 1).otherwise(0)).as("__hasHist"),
        min(when(col("__isBatch").isNotNull, col("id"))).as("__minBatch"))
      marked.filter(col("__isBatch").isNotNull)
        .join(perRep, Seq("rep"))
        .filter(col("__hasHist") === 1 || col("id") =!= col("__minBatch"))
        .select(col("id").as(idCol))
    }

  /** Cluster census from a mapping: representative, size, id checksum. */
  def clusters(mapping: DataFrame): DataFrame =
    mapping.groupBy(col("rep"))
      .agg(count(lit(1)).as("cluster_size"), sum(col("id")).as("sum_ids"))

  /** Orient large→small, drop self-loops, dedup — the canonical form
    * whose (count, hash-sum) checksum decides convergence.
    */
  private def canonical(e: DataFrame): DataFrame =
    e.filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct()

  /** Large-star: every vertex connects its LARGER neighbors to the
    * minimum of its neighborhood (including itself) — long tendrils
    * contract toward small ids.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val w = Window.partitionBy(col("u"))
    sym.withColumn("m", least(min(col("v")).over(w), col("u")))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
  }

  /** Small-star: every vertex connects its smaller neighbors (and
    * itself) to the minimum among them.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val or = canonical(e) // u > v for every row
    val w = Window.partitionBy(col("u"))
    val withM = or.withColumn("m", min(col("v")).over(w))
    withM.select(col("v").as("u"), col("m").as("v"))
      .union(withM.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** (row count, sum of row hashes) — an order-independent edge-set
    * fingerprint; equal fingerprints across consecutive canonical
    * rounds terminate the loop (collision odds over 64-bit hash sums
    * are negligible against maxIter as the hard backstop). The sum
    * runs in decimal: a long sum of 64-bit hashes overflows — an ANSI
    * error, and pre-ANSI a silent wrap.
    */
  private def checksum(e: DataFrame): (Long, BigDecimal) = {
    val r = e.agg(count(lit(1)),
      sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).head()
    (r.getLong(0),
      if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }
}
