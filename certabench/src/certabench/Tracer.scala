package certabench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Event records of the traced run. Listeners keep every event with its
  * wall-clock time; a traced operation reads the slice that falls in its
  * own window, so untraced operations interleaved with traced ones (the
  * overhead pairs) never pollute a traced reading.
  */
final case class JobRec(startMs: Long, endMs: Long, desc: String)
final case class TaskRec(launchMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWriteBytes: Long, spillBytes: Long)
final case class PlanRec(atMs: Long, planMs: Long)

/** What one traced window saw. */
final case class Window(startMs: Long, endMs: Long, jobs: Seq[JobRec],
    tasks: Seq[TaskRec], plans: Seq[PlanRec]) {
  def untaggedS: Double = jobs.filter(_.desc == null)
    .map(j => j.endMs - j.startMs).sum / 1e3

  /** Window time during which no job ran: driver-side planning, result
    * handling and scheduler round trips.
    */
  def driverGapS: Double = {
    val spans = jobs.map(j => (math.max(j.startMs, startMs), math.min(j.endMs, endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    spans.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0L, (endMs - startMs) - covered) / 1e3
  }

  def taskCpuS: Double = tasks.map(_.cpuNs).sum / 1e9
  def gcS: Double = tasks.map(_.gcMs).sum / 1e3
  def shuffleWriteMb: Double = tasks.map(_.shuffleWriteBytes).sum / 1048576.0
  def spillMb: Double = tasks.map(_.spillBytes).sum / 1048576.0
  def planS: Double = plans.map(_.planMs).sum / 1e3
}

/** Spark and SQL listeners of the traced run. Register before the first
  * traced operation (and before a streaming query starts, so its cloned
  * session inherits the query listener).
  */
final class Tracer(spark: SparkSession) {
  private val jobStarts = scala.collection.mutable.Map.empty[Int, (Long, String)]
  private val jobs = ArrayBuffer.empty[JobRec]
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val plans = ArrayBuffer.empty[PlanRec]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val desc = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
      jobStarts(e.jobId) = (e.time, desc)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStarts.remove(e.jobId).foreach { case (t0, desc) => jobs += JobRec(t0, e.time, desc) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Tracer.this.synchronized {
        tasks += TaskRec(e.taskInfo.launchTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      Tracer.this.synchronized { plans += PlanRec(System.currentTimeMillis(), ms) }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)

  /** Deliver every queued event, then return the records of [startMs, endMs]. */
  def window(startMs: Long, endMs: Long): Window = {
    org.apache.spark.CertabenchBridge.drainListenerBus(spark.sparkContext)
    synchronized {
      Window(startMs, endMs,
        jobs.filter(j => j.startMs >= startMs && j.startMs <= endMs).toList,
        tasks.filter(t => t.launchMs >= startMs && t.launchMs <= endMs).toList,
        plans.filter(p => p.atMs >= startMs && p.atMs <= endMs).toList)
    }
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }
}

/** Times a traced operation: returns its result and the window it ran in. */
object Traced {
  def apply[T](tracer: Tracer)(f: => T): (T, Window) = {
    val t0 = System.currentTimeMillis()
    val r = f
    val t1 = System.currentTimeMillis()
    (r, tracer.window(t0, t1))
  }
}
