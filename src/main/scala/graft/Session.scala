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
