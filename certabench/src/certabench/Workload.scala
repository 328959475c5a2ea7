package certabench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The outcome of one closed-loop operation (an explanation, an
  * evaluation batch, a dedup pass or a micro-batch).
  *
  * @param latencyS   wall time per unit of work in this operation (an
  *                   explanation, a pass, a micro-batch)
  * @param items      units of input completed (explanations or documents)
  * @param failures   one message per unit whose output check failed
  *                   (never more entries than `units`)
  * @param digests    (output key, digest) pairs; one key must always
  *                   yield the same digest for a given seed
  * @param layers     per-layer readings, traced operations only
  */
final case class OpResult(latencyS: Double, items: Long, units: Int,
    failures: Seq[String], digests: Seq[(String, String)],
    layers: Map[String, Double] = Map.empty)

/** A workload set up in one Spark session, ready to run operations. */
trait Instance extends AutoCloseable {
  /** The operation exactly as a user would run it. */
  def op(i: Int): OpResult

  /** The same operation with its layers timed; `layers` is filled. */
  def tracedOp(i: Int, tracer: Tracer): OpResult

  /** Per-layer readings that only exist at the end of the run. */
  def finalLayers(): Map[String, Double] = Map.empty

  /** Checks over the whole run (empty when they pass). */
  def finalFailures(): Seq[String] = Seq.empty
}

trait Workload {
  /** Generate the inputs from `seed` under `dir`, build what the
    * operations need and warm up (JIT, codegen) with operations whose
    * results are discarded. `tracer` is given for the traced run, before
    * anything starts.
    */
  def setup(spark: SparkSession, seed: Long, dir: Path, tracer: Option[Tracer]): Instance
}

object Workload {
  val all: Map[String, Workload] = Map(
    "explain" -> ExplainWorkload,
    "eval" -> EvalWorkload,
    "dedup" -> DedupWorkload,
    "stream" -> StreamWorkload)

  def digest(lines: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.toSeq.sorted.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  /** The problems found for one unit, as at most one failure message. */
  def failure(unit: String, problems: Seq[String]): Seq[String] =
    if (problems.isEmpty) Nil else Seq(s"$unit: ${problems.mkString("; ")}")

  def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The layer metrics every workload reports, per operation unit. */
  def common(w: Window, units: Int): Map[String, Double] = Map(
    "spark.jobs_per_op" -> w.jobs.size.toDouble / units,
    "spark.driver_gap_s_per_op" -> w.driverGapS / units,
    "sql.plan_s_per_op" -> w.planS / units,
    "spark.task_cpu_s_per_op" -> w.taskCpuS / units,
    "spark.gc_s_per_op" -> w.gcS / units,
    "spark.shuffle_write_mb_per_op" -> w.shuffleWriteMb / units,
    "spark.spill_mb_per_op" -> w.spillMb / units)

  def writeParquet(spark: SparkSession, rows: Seq[Row],
      schema: org.apache.spark.sql.types.StructType, path: Path): DataFrame = {
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .write.parquet(path.toString)
    spark.read.parquet(path.toString)
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
