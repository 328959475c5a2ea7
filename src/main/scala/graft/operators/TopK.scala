package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** A scored row inside the top-k buffer: "top" means largest score,
  * ties resolve to the smaller id (total order, deterministic across
  * partitionings and engines).
  */
case class Scored(score: Double, id: Long)

/** Bounded top-k as a real AGGREGATE, not a window: each task keeps at
  * most ~4k candidates per group and the partial merge re-truncates to
  * k, so the shuffle carries ≤ k rows per (group, map task) instead of
  * the group's entire row set. `rank() OVER (PARTITION BY g ORDER BY s)`
  * (q08's shape) must shuffle EVERY row to its group's reducer and sort
  * there — at 100 TB the hottest group's full row set lands on one
  * task. This aggregator's partial step is the map-side combine
  * Catalyst can't derive for window functions.
  *
  * CARDINALITY CAVEAT (measured by the ScaleSmoke label-propagate leg
  * on q210's first form; SURVEY.md round 11 records only the
  * scan-local rewrite's 3.6× at 16×):
  * `ObjectHashAggregateExec` falls back to SORT-based aggregation once
  * a task sees more than
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
  * (default 128) distinct groups — past that, the partial step sorts
  * the task's FULL input instead of hash-combining it (8.2M one-row
  * groups: 77× wall at 64× growth, 205 GB spilled). This aggregate is
  * the right shape for MANY-rows-per-group top-k (hot strata, probe
  * samples, per-cell shortlists); for one-group-per-ROW shapes against
  * a small reference set, use a scan-local fused expression instead
  * ([[graft.functions.KnnVoteExpr]] is the worked example).
  */
class TopKAgg(k: Int) extends Aggregator[Scored, ArrayBuffer[Scored], Seq[Scored]] {
  require(k > 0, "k must be positive")
  private val cap = 4 * k

  private def truncate(b: ArrayBuffer[Scored]): ArrayBuffer[Scored] =
    if (b.length <= k) b
    else {
      val kept = b.sortBy(s => (-s.score, s.id)).take(k)
      b.clear()
      b ++= kept
    }

  override def zero: ArrayBuffer[Scored] = ArrayBuffer.empty[Scored]
  override def reduce(b: ArrayBuffer[Scored], a: Scored): ArrayBuffer[Scored] = {
    b += a
    if (b.length >= cap) truncate(b) else b
  }
  override def merge(x: ArrayBuffer[Scored], y: ArrayBuffer[Scored]): ArrayBuffer[Scored] =
    truncate(x ++= y)
  override def finish(b: ArrayBuffer[Scored]): Seq[Scored] =
    truncate(b).sortBy(s => (-s.score, s.id)).toSeq
  override def bufferEncoder: Encoder[ArrayBuffer[Scored]] =
    Encoders.kryo[ArrayBuffer[Scored]]
  override def outputEncoder: Encoder[Seq[Scored]] =
    ExpressionEncoder[Seq[Scored]]()
}

object TopK {

  /** Id/key types the aggregate's `cast("long")` round-trips
    * losslessly — THE precondition behind every integral-id require in
    * the library (knnGraph's edge ids, selfRecallCensus's truth
    * arithmetic, autoProbe's recall curve): any other type casts to
    * null and silently corrupts the result instead of failing.
    */
  def integralKeyType(dt: org.apache.spark.sql.types.DataType): Boolean =
    Seq[org.apache.spark.sql.types.DataType](
      org.apache.spark.sql.types.ByteType,
      org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.LongType).contains(dt)

  /** Exact top-`k` rows per group by (`scoreCol` DESC, `idCol` ASC),
    * emitted as (groupCols..., rank, id, score) with rank 1-based.
    * One ObjectHashAggregate pair (partial + final) — the map-side
    * partial bounds the shuffle at k rows per group per task.
    */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], scoreCol: Column,
      idCol: Column, k: Int): DataFrame = {
    val agg = udaf(new TopKAgg(k), Encoders.product[Scored])
    val gcols = groupCols.map(col)
    df.groupBy(gcols: _*)
      .agg(agg(scoreCol.cast("double"), idCol.cast("long")).as("topk"))
      .select(gcols :+ posexplode(col("topk")): _*)
      .select(
        (groupCols.map(col) :+
          (col("pos") + 1).cast("int").as("rank") :+
          col("col.id").as("id") :+
          col("col.score").as("score")): _*)
  }
}
