package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SCD1 MERGE / upsert: the incremental-corpus maintenance step (Delta
  * Lake's `MERGE WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT`
  * shape) as plain DataFrame algebra — a recrawl batch replaces changed
  * documents and appends new ones without rewriting untouched history
  * by hand.
  *
  * Scale shape: ONE hash join on the key. The current corpus is the big
  * side and streams through the join; the update batch is the small
  * side (a crawl increment), so AQE broadcasts it and the corpus never
  * shuffles — the same asymmetry Delta exploits with file pruning. The
  * union is a no-shuffle bag concat. Nothing collects.
  */
object Upsert {

  /** Merged view: `updates` rows win wholesale on key collision,
    * unmatched update rows insert, unmatched current rows carry over.
    * `updates` must be unique per key (pre-aggregate a multi-version
    * batch with e.g. max-by(version) first); uniqueness of `current`
    * is preserved, not required.
    */
  def upsert(current: DataFrame, updates: DataFrame,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    current.join(updates.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(updates)
  }

  /** Apply an update batch to a Hive-partitioned parquet table IN
    * PLACE, rewriting ONLY the partitions the batch touches — the
    * table-format-less MERGE at scale. Reads come back pruned to the
    * touched partitions (directory-level PartitionFilters, not a full
    * scan), the merge is [[upsert]], and the write uses DYNAMIC
    * partition overwrite so untouched partitions' files are never
    * rewritten. At 100 TB this is the difference between rewriting a
    * corpus and rewriting the 0.1% of it a recrawl batch touches.
    *
    * `updates` must carry `partCol` (every update row knows its
    * partition) and be unique per key; a key may not MOVE between
    * partitions (SCD1 in-place semantics). Returns the touched
    * partition values.
    *
    * Crash safety: the write overwrites the very partitions the merged
    * plan reads, so the merged rows are MATERIALIZED
    * ([[overwriteMaterialized]]) before the overwrite starts — the read
    * completes before the first byte is staged, and the pin is
    * released after the write commits. The remaining window is the dynamic-
    * overwrite commit itself (staged files swap in, touched-partition
    * files delete, at job commit): a crash inside that protocol can
    * still leave touched partitions partially swapped — the same
    * window any format-less dynamic overwrite has; untouched
    * partitions are never at risk. A transactional table format is the
    * escape hatch when that window matters. The overwrite mode is a
    * per-write option, not a session conf — concurrent writers on the
    * same session are unaffected.
    */
  def upsertPartitioned(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, updates: DataFrame, keys: Seq[String],
      partCol: String): Seq[String] = {
    val touched = updates.select(col(partCol).cast("string"))
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    val current = spark.read.parquet(tableDir)
      .filter(col(partCol).isin(touched: _*))
    overwriteMaterialized(upsert(current, updates, keys)) {
      _.write.option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").partitionBy(partCol).parquet(tableDir)
    }
    touched
  }

  /** Materialize `df` into a [[Pinned]] handle, run `write` on the
    * pinned rows, and release them once `write` returns or throws —
    * for writes that overwrite the very files `df` reads: the read
    * completes before the first byte is staged.
    */
  def overwriteMaterialized(df: DataFrame)(write: DataFrame => Unit): Unit = {
    val m = Pinned(df)
    try { m.materialize(); write(m.df) }
    finally m.close()
  }

  /** Change census for audit/monitoring: one row with how many keys the
    * merge would insert / update (key present on both sides but any of
    * `compareCols` differs) / leave unchanged. Full outer join on the
    * key — same single-shuffle shape; null-safe comparison so NULL
    * column values compare equal.
    */
  def changeCensus(current: DataFrame, updates: DataFrame,
      keys: Seq[String], compareCols: Seq[String]): DataFrame = {
    val cur = current.select((keys ++ compareCols).map(col): _*)
      .withColumn("__cur", lit(1))
    val upd = updates.select(
      keys.map(col) ++ compareCols.map(c => col(c).as(s"__u_$c")): _*)
      .withColumn("__upd", lit(1))
    val changed = compareCols
      .map(c => not(col(c) <=> col(s"__u_$c")))
      .reduce(_ || _)
    cur.join(upd, keys, "full_outer")
      .agg(
        sum(when(col("__cur").isNull, 1L).otherwise(0L)).as("n_inserted"),
        sum(when(col("__cur").isNotNull && col("__upd").isNotNull && changed,
          1L).otherwise(0L)).as("n_updated"),
        sum(when(col("__cur").isNotNull && col("__upd").isNotNull && !changed,
          1L).otherwise(0L)).as("n_unchanged"),
        sum(when(col("__upd").isNull, 1L).otherwise(0L)).as("n_untouched"))
  }
}
