package graft

import graft.eval.EvalDriver

class TraceSpec extends SparkSpec {

  test("a window holds the jobs of the threads its body starts, not a concurrent thread's") {
    val outsider = "trace-spec outsider"
    val worker = "trace-spec worker"
    val firing = new java.util.concurrent.CountDownLatch(1)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    // started before the window, this thread fires jobs all through it
    val other = new Thread(() => {
      spark.sparkContext.setJobDescription(outsider)
      while (!stop.get) { spark.range(0, 10, 1, 2).collect(); firing.countDown() }
    })
    other.start()
    firing.await()
    val (_, window) = try Trace.window(spark) {
      EvalDriver.parMap(Seq(1, 2), parallelism = 2, spark) { i =>
        Trace.stage(spark, worker)(spark.range(0, i, 1, 2).collect())
      }
    } finally { stop.set(true); other.join() }
    assert(window.flushed)
    val descs = window.jobs.map(_.description)
    assert(!descs.contains(Some(outsider)), descs)
    assert(descs === Seq(Some(worker), Some(worker)), descs)
    assert(window.stages === Map(worker -> 2))
  }

  test("the driver gap is the window time no job covers") {
    def job(a: Long, b: Long) = Trace.Job(0, Map.empty, a, b)
    val none = Trace.Streaming(0L, 0L, 0.0, 0.0)
    // overlapping jobs count once; a job that ran past the window is cut
    // at its end; one whose end was not seen runs to the window's end
    val w = Trace.Window(1000L, 1500L,
      Seq(job(1000L, 1100L), job(1050L, 1150L), job(1300L, 1400L)),
      0.0, 0.0, 0.0, none, flushed = true)
    assert(w.driverGapS === 0.25)
    assert(w.copy(jobs = w.jobs :+ job(1450L, 1600L)).driverGapS === 0.2)
    assert(w.copy(jobs = w.jobs :+ job(1450L, 0L)).driverGapS === 0.2)
    assert(w.copy(jobs = Nil).driverGapS === 0.5)
  }
}
