package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Job and task tracing, the one place in the program that registers a
  * Spark or streaming listener:
  *
  *  - [[Trace.stage]] names the jobs of one stage of a multi-job
  *    operator;
  *  - [[Trace.window]] records the jobs a block fires, their task
  *    metrics and the streaming progress split.
  */
object Trace {

  /** Local property that scopes a window's jobs. Spark copies local
    * properties into threads started by a thread that holds them (and
    * into its broadcast and subquery threads), so a window sees the jobs
    * of the calling thread and of the threads it starts, and no others.
    */
  private val WindowKey = "graft.trace.window"
  /** Local property that marks the jobs fired inside [[stage]]. */
  private val StageKey = "graft.trace.stage"

  /** Tag the Spark jobs `body` fires with `name` as their
    * `spark.job.description` (listeners and the UI show it), then clear
    * it: stage-level attribution is how a tuning loop finds the stage
    * that spent the time.
    */
  def stage[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobDescription(name)
    sc.setLocalProperty(StageKey, name)
    try body
    finally { sc.setJobDescription(null); sc.setLocalProperty(StageKey, null) }
  }

  /** One Spark job fired inside a window; `endMs` is 0 when its end was
    * not seen.
    */
  final case class Job(id: Int, properties: Map[String, String],
      submitMs: Long, endMs: Long) {
    def description: Option[String] = properties.get("spark.job.description")
  }

  /** Micro-batch progress: addBatch is the data work, the rest of each
    * trigger the fixed per-batch machinery (checkpoint commits, offset
    * log, planning).
    */
  final case class Streaming(batches: Long, rows: Long,
      addBatchSec: Double, fixedSec: Double)

  /** What one window saw. `flushed` is false when the listener bus kept
    * a backlog past the flush timeout: the task metrics and the
    * streaming split may then miss events.
    */
  final case class Window(startMs: Long, endMs: Long, jobs: Seq[Job],
      cpuSec: Double, runSec: Double, gcSec: Double, streaming: Streaming,
      flushed: Boolean) {

    /** Window time during which no job ran: driver-side planning,
      * result handling and scheduler round trips.
      */
    def driverGapS: Double = {
      val spans = jobs
        .map(j => (math.max(j.submitMs, startMs),
          math.min(if (j.endMs > 0) j.endMs else endMs, endMs)))
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

    /** Job count per [[stage]] name. */
    def stages: Map[String, Int] =
      jobs.flatMap(_.properties.get(StageKey)).groupBy(identity)
        .map { case (s, js) => s -> js.size }
  }

  /** Run `body` and return what it fired. The listener bus is flushed
    * before and after `body`, outside any time `body` measures itself.
    * The streaming split counts progress only in sessions built with
    * [[progressConf]].
    */
  def window[T](spark: SparkSession)(body: => T): (T, Window) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val recorder = new Recorder(tag)
    org.apache.spark.GraftCoreBridge.flushListenerBus(sc)
    val (batches0, rows0, addBatch0, trigger0) = Progress.snapshot()
    sc.addSparkListener(recorder)
    val prior = sc.getLocalProperty(WindowKey)
    sc.setLocalProperty(WindowKey, tag)
    try {
      val t0 = System.currentTimeMillis()
      val out = try body finally sc.setLocalProperty(WindowKey, prior)
      val t1 = System.currentTimeMillis()
      val flushed = org.apache.spark.GraftCoreBridge.flushListenerBus(sc)
      val (batches1, rows1, addBatch1, trigger1) = Progress.snapshot()
      val addBatchMs = addBatch1 - addBatch0
      val streaming = Streaming(batches1 - batches0, rows1 - rows0,
        addBatchMs / 1e3, (trigger1 - trigger0 - addBatchMs) / 1e3)
      (out, recorder.synchronized {
        Window(t0, t1, recorder.jobs.values.toList, recorder.cpuNs / 1e9,
          recorder.runMs / 1e3, recorder.gcMs / 1e3, streaming, flushed)
      })
    } finally sc.removeSparkListener(recorder)
  }

  private final class Recorder(tag: String) extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stageIds = mutable.Set.empty[Int]
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.properties != null && e.properties.getProperty(WindowKey) == tag) {
        val props = e.properties.stringPropertyNames.asScala
          .map(k => k -> e.properties.getProperty(k)).toMap
        synchronized {
          jobs(e.jobId) = Job(e.jobId, props, e.time, 0L)
          stageIds ++= e.stageIds
        }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) synchronized {
        if (stageIds(e.stageId)) {
          cpuNs += m.executorCpuTime
          runMs += m.executorRunTime
          gcMs += m.jvmGCTime
        }
      }
    }
  }

  /** Session settings that register [[Progress]]. A listener added with
    * `spark.streams.addListener` would see only the registering
    * session's queries (each StreamingQueryManager filters events to its
    * own runIds), so queries on [[graft.operators.ConfScope]] forks would
    * drop out of the split. Registered by class name, every session on
    * the context (forks included) attaches its own instance at
    * SessionState construction.
    */
  val progressConf: Map[String, String] = Map(
    "spark.sql.streaming.streamingQueryListeners" -> classOf[Progress].getName)

  /** Streaming progress collector; totals accumulate in the companion,
    * shared across the instances of every session.
    */
  final class Progress extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long =
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      Progress.batches.incrementAndGet()
      Progress.rows.addAndGet(p.numInputRows)
      Progress.addBatchMs.addAndGet(d("addBatch"))
      Progress.triggerMs.addAndGet(d("triggerExecution"))
      ()
    }
  }

  private object Progress {
    val batches = new AtomicLong
    val rows = new AtomicLong
    val addBatchMs = new AtomicLong
    val triggerMs = new AtomicLong
    def snapshot(): (Long, Long, Long, Long) =
      (batches.get, rows.get, addBatchMs.get, triggerMs.get)
  }
}
