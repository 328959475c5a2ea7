package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** kNN label propagation over an embedding column — the
  * quality-classifier bootstrap: given a SMALL labeled seed set (human
  * ratings, a curated "high-quality" sample, a benchmark-positive set)
  * and a large unlabeled corpus, assign each unlabeled row the
  * majority label of its k nearest seed neighbors by cosine. The
  * standard first pass for corpus-scale quality scoring when no
  * trained classifier exists yet (label a few thousand docs, propagate
  * to billions, then train the real model on the propagated set).
  *
  * Scale shape: the seed is COLLECTED (one bounded driver read — the
  * operator's contract is a seed small enough to broadcast, and the
  * collect is exactly that size) and rides into a fused codegen'd
  * expression as reference objects of the generated class
  * ([[graft.functions.KnnVoteExpr]] — the literal-centroids pattern).
  * The corpus is then ONE scan-local projection: |seed| fused cosines,
  * an O(|seed|·k) selection, and the vote, all inside whole-stage
  * codegen — no join, no aggregate, no exchange, no per-group state.
  *
  * Why not the bounded top-k AGGREGATE (the first implementation):
  * per-row top-k means one group per corpus row, and
  * `ObjectHashAggregateExec` falls back to sort-based aggregation past
  * 128 distinct groups per task — measured at 8.2M rows: 77× wall at
  * 64× corpus growth with 205 GB spilled (the sort covered the full
  * |corpus|×|seed| score stream). The scan-local form is linear by
  * construction: 3.6× at 16× growth (measured, SURVEY.md round 11
  * ScaleSmoke). ScaleSmoke is retired; q210's growth across Bench's
  * three scale factors (`tools/growth.py`) is what still watches it.
  *
  * Determinism: neighbor ties (cosine DESC, seed id ASC) and vote ties
  * (count DESC, label ASC in unsigned UTF-8 order — Spark's own string
  * order) replay exactly in a SQL oracle.
  */
object LabelPropagate {

  /** Majority-vote label for every `unlabeled` row: (idCol, label,
    * n_votes) with `n_votes` the winning label's neighbor count among
    * the k nearest seed rows. `label` is returned as string (the
    * vote's tie order); cast downstream as needed. Rows with a null
    * embedding (or null elements) are dropped — they have no
    * neighbors. Seed rows with null ids/embeddings/labels are
    * rejected up front.
    */
  def knnVote(unlabeled: DataFrame, labeled: DataFrame, embCol: String,
      idCol: String, labelCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    // bounded driver read: the seed is small by the operator's
    // contract (it is the thing being propagated FROM); float→double
    // cast is exact, so the fused cosine matches Ann.cosine bit-for-bit
    val seed = labeled
      .select(col(idCol).cast("long").as("id"),
        col(embCol).cast("array<double>").as("emb"),
        col(labelCol).cast("string").as("lab"))
      .collect()
    require(seed.nonEmpty, "labeled seed set is empty")
    require(seed.forall(r => !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2)),
      "seed rows must have non-null id, embedding, and label")
    val sorted = seed.sortBy(_.getLong(0)) // id-ascending: the tie contract
    val ids = sorted.map(_.getLong(0))
    val embs = sorted.map(_.getSeq[Double](1).toArray)
    val labs = sorted.map(_.getString(2)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val vote = graft.functions.VecMath.knnVoteColumn(
      col(embCol), ids, embs, labs, k)
    unlabeled.select(col(idCol), vote.as("__v"))
      .where(col("__v").isNotNull)
      .select(col(idCol), col("__v.label").as("label"),
        col("__v.n_votes").as("n_votes"))
  }
}
