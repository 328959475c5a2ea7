package graft.tools

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Dev probe (r11): per-query job census — how many Spark jobs a query
  * fires and where the wall clock goes between them. Scheduling-bound
  * queries (wall >> task time) show up as many short jobs with gaps.
  * Runs under Bench's session settings ([[graft.Session]]).
  * Usage: runMain graft.tools.JobProfile <queryName> [queryName...]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Session.local(cpus,
      scratchPrefix = Some("graft-jobprofile-"), logLevel = "ERROR")

    final case class J(id: Int, submitted: Long, var completed: Long = 0L,
      var tasks: Int = 0, var taskMs: Long = 0L, desc: String = "")
    val jobs = mutable.LinkedHashMap[Int, J]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized {
          jobs(e.jobId) = J(e.jobId, e.time,
            desc = Option(e.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .getOrElse(""))
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.completed = e.time) }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        jobs.synchronized {
          // attribute to the last started job (approximation fine for
          // sequential query execution)
          if (jobs.nonEmpty) {
            val j = jobs.values.last
            j.tasks += 1
            if (e.taskInfo != null)
              j.taskMs += e.taskInfo.duration
          }
        }
    })

    // warm-up to amortize codegen infra
    try spark.read.parquet(s"$sfDir/nation.parquet")
      .groupBy("n_regionkey").count().count()
    catch { case _: Throwable => () }

    for (name <- args) {
      (1 to 2).foreach { rep =>
        spark.catalog.clearCache()
        if (name == "q25_certa_saliency")
          graft.queries.ErQueries.resetExplanationMemo()
        jobs.synchronized(jobs.clear())
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300)
        jobs.synchronized {
          val js = jobs.values.toSeq.filter(_.completed > 0)
          val jobMs = js.map(j => j.completed - j.submitted).sum
          val gapMs = js.sliding(2).collect {
            case Seq(a, b) => math.max(0L, b.submitted - a.completed)
          }.sum
          println(f"[jobprofile] $name rep=$rep wall=$wall%.2f njobs=${js.size} " +
            f"in-job=${jobMs / 1e3}%.2f gaps=${gapMs / 1e3}%.2f " +
            f"tasks=${js.map(_.tasks).sum} taskTime=${js.map(_.taskMs).sum / 1e3}%.2f")
          val byDesc = js.groupBy(_.desc).map { case (d, g) =>
            (d, g.size, g.map(j => j.completed - j.submitted).sum / 1e3)
          }.toSeq.sortBy(-_._3)
          byDesc.take(12).foreach { case (d, n, s) =>
            println(f"  desc '${d.take(44)}%-44s' njobs=$n%3d in-job=$s%6.2f")
          }
        }
      }
    }
    spark.stop()
  }
}
