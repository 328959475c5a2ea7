package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.storage.StorageLevel

/** A lineage cut with an owner — the one place the library pins rows
  * below the catalog cache (SessionGuardSpec fails on any other
  * `localCheckpoint` or RDD `persist`). `df` reads a persisted copy of
  * the source frame's rows, so a plan built on it is constant-size
  * however often an iterative operator re-references it (the
  * Components rounds, the Bpe merge rounds), and every reference
  * re-reads blocks instead of re-running the source plan.
  *
  * The blocks fill during the first action over `df` — pinning fires
  * no job of its own, though with AQE on the source plan's shuffle
  * stages run when the handle is taken — or in [[materialize]] when
  * the rows must be read before anything else runs (an overwrite of
  * the files they come from). [[close]] frees them; after that,
  * actions on `df` recompute the source plan. `catalog.clearCache()`
  * does not reach these blocks: whoever takes a handle closes it.
  */
private[graft] final class Pinned private (rows: RDD[InternalRow],
    val df: DataFrame) extends AutoCloseable {

  /** Compute every partition into the block manager now (one job). */
  def materialize(): Unit = rows.count(): Unit

  override def close(): Unit = rows.unpersist(blocking = false): Unit
}

private[graft] object Pinned {
  def apply(df: DataFrame): Pinned = {
    // toRdd reuses one mutable row per partition: copy before caching
    val rows = df.queryExecution.toRdd.map(_.copy())
      .persist(StorageLevel.MEMORY_AND_DISK)
    new Pinned(rows, GraftSqlBridge.frameOver(df.sparkSession, rows, df.schema))
  }
}
