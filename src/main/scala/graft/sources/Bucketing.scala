package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed tables: the co-located-join capability for fact⋈fact joins
  * that repeat across a workload. Writing both sides bucketed (and
  * sorted) by the join key lets every subsequent join run with NO
  * exchange — each task reads matching buckets from both sides — which
  * at 100 TB turns the workload's dominant repeated shuffle into a
  * one-time write-side cost. Dimension joins should broadcast instead
  * ([[graft.queries.Relational]]); bucketing is for the big⋈big case
  * where neither side fits an executor.
  *
  * Spark's bucketing rides the session catalog (`bucketBy` requires
  * `saveAsTable`), so these helpers manage named tables, not bare
  * parquet paths. Bucket counts should be sized so one bucket of the
  * LARGER side fits an executor core's working memory (e.g. 100 TB /
  * 4096 buckets ≈ 25 GB per bucket pre-projection — with column
  * pruning that is the scan unit, not the memory unit).
  */
object Bucketing {

  /** Write `df` as a bucketed, bucket-sorted managed table. Sorting
    * within buckets additionally enables exchange-AND-sort-free
    * sort-merge joins.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      numBuckets: Int, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write
      .mode(mode)
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Equi-join two same-key bucketed tables. With equal bucket counts
    * the planner aligns buckets and the join carries no Exchange on
    * either side; the spec `BucketingSpec` pins that plan property.
    */
  def bucketedJoin(spark: SparkSession, leftTable: String,
      rightTable: String, key: String,
      joinType: String = "inner"): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), Seq(key), joinType)

  /** Hive-style partitioned layout (`path/col=value/...`): the pruning
    * lever for predicates on LOW-cardinality columns (date, source,
    * lang) — a filter on a partition column skips whole directories
    * before any row is read (`PartitionFilters` in the scan, vs
    * `PushedFilters` which still opens every file). Keep partition
    * columns coarse: at 100 TB a per-day × per-source layout is
    * thousands of directories; a high-cardinality partition column is
    * millions of tiny files and a dead name node.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)
}
