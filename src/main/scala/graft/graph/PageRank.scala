package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Pinned

/** PageRank in FIXED-POINT integer arithmetic — graph centrality over
  * derived similarity graphs (kNN edges, near-dup edges) with a
  * bit-exact cross-engine contract: every per-edge contribution is
  * `floor(pr·damp / (100·outdeg))` on integers, so any SQL engine
  * replaying the unrolled iterations reproduces ranks exactly — the
  * same portability rule as the fixed-point Lloyd loop
  * ([[graft.similarity.Centroids.lloyd]]). Semantics: classic
  * damped PR without dangling-mass redistribution (a node with no
  * out-edges simply leaks its mass; kNN graphs have none).
  *
  * Scale shape per iteration: out-degrees join into the edge list
  * ONCE before the loop; then each round is edges ⋈ pr on src (one
  * key shuffle), a dst-grouped partial-aggregated sum, and a left
  * join back onto the node set — all hash equi-joins, nothing
  * quadratic, state is one long per node. Driver-bounded iteration
  * count.
  */
object PageRank {

  /** Rank nodes of `edges` (`src`, `dst` long columns) after `iters`
    * damped rounds. Returns (id, pr) with `pr` on the integer scale
    * `base` (initial mass per node), persisted and caller-owned
    * (unpersist when done — the [[graft.dedup.Components]] mapping
    * contract): nothing else stays pinned.
    */
  def rankInt(edges0: DataFrame, iters: Int, dampPct: Int = 85,
      base: Long = 1000000L): DataFrame = {
    require(iters >= 0 && dampPct >= 0 && dampPct <= 100)
    // Lineage cut (guide §5): every iteration references the edge list
    // again (eDeg) and the node set rides three joins, so an uncut plan
    // embeds the caller's edge-GENERATION subtree 2·iters+3 times and
    // re-executes it per reference — q128's 3-NN build (the 4M-pair
    // quantized distance scan) ran ~10× per action. The edge rows
    // (O(k·n) for kNN graphs, orders below the corpus) are pinned while
    // the ranks materialize, then released.
    val edges = Pinned(edges0)
    try {
      val nodes = edges.df.select(col("src").as("id"))
        .unionByName(edges.df.select(col("dst").as("id"))).distinct()
      val deg = edges.df.groupBy(col("src")).agg(count(lit(1)).as("dg"))
      val eDeg = edges.df.join(deg, "src")
      val basePr = base * (100 - dampPct) / 100
      var pr = nodes.withColumn("pr", lit(base))
      for (_ <- 1 to iters) {
        val contrib = eDeg.join(pr, eDeg("src") === pr("id"))
          .select(col("dst"),
            expr(s"(pr * $dampPct) div (100 * dg)").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("s"))
        pr = nodes.join(contrib, nodes("id") === contrib("dst"), "left")
          .select(col("id"),
            (lit(basePr) + coalesce(col("s"), lit(0L))).as("pr"))
      }
      pr.persist()
      pr.count()
      pr
    } finally edges.close()
  }
}
