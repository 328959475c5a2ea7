package graft

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is built. Every entry point
  * (Bench, Verify, the dev tools) and the spec harness share these
  * settings and pass only what differs:
  *
  *  - `local[cpus]` with `cpus` shuffle partitions;
  *  - AQE on, UTC session time zone, UI off;
  *  - `spark.sql.legacy.parquet.nanosAsLong`, set from birth: a thread
  *    without an active session resolves parquet schemas against the
  *    default conf (events.parquet `ts` → TIMESTAMP_NTZ);
  *  - optional tmpfs scratch ([[graft.tools.Scratch.route]]) as
  *    `spark.local.dir`, so streaming checkpoints and spills stay off a
  *    contended root disk;
  *  - the root log level.
  *
  * Partition width must scale with the data. This session leaves
  * `spark.sql.adaptive.coalescePartitions.initialPartitionNum` unset,
  * so AQE starts every shuffle at `cpus` partitions and only coalesces
  * down from there. That suits the catalog scale factors, but a width
  * fixed by the harness dies at corpus scale: with shuffles pinned at
  * 32 partitions, the shingle-verify hash build at 10.24M documents
  * (the 2048× replica corpus) failed with "Can't acquire 1073741824
  * bytes memory to build hash relation", because each task's build
  * outgrew its 1/32 share of execution memory. A 1024-wide AQE start
  * ran it to completion (measured, SURVEY.md round 10 ScaleSmoke).
  * Callers that feed corpus-scale inputs set `initialPartitionNum`
  * through `conf` so AQE starts wide and coalesces by advisory size.
  */
object Session {

  /** @param conf extra settings, applied after (and so overriding) the
    *   shared ones
    * @param scratchPrefix route scratch to tmpfs under this prefix;
    *   `None` keeps `spark.local.dir` and `java.io.tmpdir` untouched
    */
  def local(cpus: Int, conf: Map[String, String] = Map.empty,
      scratchPrefix: Option[String] = None,
      logLevel: String = "WARN"): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    scratchPrefix.flatMap(graft.tools.Scratch.route)
      .foreach(d => builder.config("spark.local.dir", d))
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
