package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Bridge into `private[sql]` Dataset construction: rebind a frame's
  * logical plan to another session (same SparkContext) so scoped conf
  * overrides — [[graft.operators.ConfScope]]'s per-operator shuffle
  * sizing — never mutate the caller's session-global SQLConf; and
  * build a frame straight over catalyst rows ([[graft.operators.Pinned]]).
  */
object GraftSqlBridge {
  /** The given frame's (analyzed) logical plan re-bound to `session`:
    * downstream planning and execution read `session`'s SQLConf, while
    * the shared CacheManager/SparkContext still serve cached blocks
    * and listeners. Works for batch and streaming plans alike.
    */
  def withSession(df: DataFrame, session: SparkSession): DataFrame =
    classic.Dataset.ofRows(
      session.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)

  /** A frame reading `rows` as-is: no Row encoding on either side. */
  def frameOver(session: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    session.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rows, schema)
}
