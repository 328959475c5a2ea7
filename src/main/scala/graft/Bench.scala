package graft

/** Benchmark entry point: runs every registered query on
  * SPARK_GRAFT_SF_DIR, prints one JSON line with per-query seconds.
  * A warm-up pass on a trivial plan first amortizes JVM/codegen
  * infrastructure so timings measure the queries, not the first query's
  * JIT; queries then run in name order (deterministic timing layout).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // scratch on tmpfs: streaming checkpoints fsync per micro-batch and
    // spills share the device — route them off the (contended) root disk
    // so timings measure the engine, not the host's IO queue
    val spark = Session.local(cpus, scratchPrefix = Some("graft-bench-"),
      // conf-registered (NOT addListener): streaming queries run on
      // ConfScope forks, whose managers deliver progress events only
      // to their own session's listeners — the class-name route makes
      // every session (forks included) attach an instance, and the
      // companion accumulates the totals across them
      conf = Map("spark.sql.streaming.streamingQueryListeners" ->
        "graft.tools.BenchStreamMetrics"))

    // warm-up: schema read + one small shuffle + codegen paths
    try {
      spark.read.parquet(s"$sfDir/nation.parquet")
        .groupBy("n_regionkey").count().count()
    } catch { case _: Throwable => () }

    // Per-query task-metric split (executor CPU vs run vs GC time):
    // wall-clock alone cannot distinguish "the code got slower" from
    // "the host was busy" — the round-5/6 q47/q57/q58 ambiguity. With
    // cpu ≈ prior rounds but wall inflated, the delta is scheduler/IO
    // wait (host contention); cpu inflated too means a real
    // regression. Flushed via the listener bus before each reading.
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    val runMs = new java.util.concurrent.atomic.AtomicLong
    val gcMs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            cpuNs.addAndGet(m.executorCpuTime)
            runMs.addAndGet(m.executorRunTime)
            gcMs.addAndGet(m.jvmGCTime)
            ()
          }
        }
      })
    // Streaming micro-batch split (per-batch machinery vs per-row data
    // work): the streaming tail's cost has been ASSERTED to be fixed
    // per-batch overhead (checkpoint commits, offset WAL, planning) in
    // two round reviews without a recorded number. Each progress event
    // carries the split directly: addBatch is the data work, the rest
    // of triggerExecution is the fixed machinery — so the JSON records,
    // per streaming query, batches / input rows / addBatch seconds /
    // fixed seconds. A fixed term that grows with sf would falsify the
    // assertion from the BENCH file alone. Collected by the
    // conf-registered graft.tools.BenchStreamMetrics (see builder
    // above) so ConfScope-forked streaming queries are counted too.
    import graft.tools.BenchStreamMetrics
    def metricSnapshot(): (Double, Double, Double, Long, Long, Double, Double) = {
      if (!org.apache.spark.GraftCoreBridge.flushListenerBus(spark.sparkContext))
        // a short flush bleeds this query's task metrics into the next
        // delta — say so rather than silently misattributing
        System.err.println("BENCH WARNING: listener bus flush timed out; " +
          "the adjacent cpu/gc deltas are unreliable")
      (cpuNs.get / 1e9, runMs.get / 1e3, gcMs.get / 1e3,
        BenchStreamMetrics.batches.get, BenchStreamMetrics.rows.get,
        BenchStreamMetrics.addBatchMs.get / 1e3,
        BenchStreamMetrics.triggerMs.get / 1e3)
    }

    // Each query runs THREE times and records the min: the bench host
    // shows intermittent external contention (round-3's recording was
    // inflated up to 17× by it), and a query's first executions also pay
    // JIT compilation of its generated code — measured convergence takes
    // 2-3 executions for the sketch-heavy censuses (q32 ran
    // 9.2/7.8/1.7/1.8 s in one JVM). Min-of-3 measures the code, not
    // the JIT or the neighbor; all raw runs are emitted for
    // transparency.
    final case class Run(wall: Double, cpu: Double, taskRun: Double,
      gc: Double, failure: Option[String],
      batches: Long = 0L, rows: Long = 0L,
      addBatchSec: Double = 0.0, fixedSec: Double = 0.0)
    // dev-only filter (SPARK_GRAFT_BENCH_ONLY=substr,substr): iterate on
    // a few queries without paying the full catalog; the driver sets no
    // filter and always runs everything
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(f => f.exists(n.contains)) }
    val results = selected.map { case (name, fn) =>
      def once(): Run = {
        // isolate cache state per run: earlier queries' persisted frames
        // otherwise squeeze the heap and turn later timings into
        // eviction noise; the explanation memo resets so a repeated q25
        // re-runs the full explainer
        spark.catalog.clearCache()
        if (name == "q25_certa_saliency")
          graft.queries.ErQueries.resetExplanationMemo()
        val (cpu0, run0, gc0, b0, rw0, ab0, tr0) = metricSnapshot()
        val t0 = System.nanoTime()
        // a crashing query must NOT look like a fast passing one: record
        // the failure and surface it in the JSON + on stderr
        val failure = try { fn(spark, sfDir).count(); None } catch {
          case t: Throwable =>
            System.err.println(s"BENCH FAILURE $name: ${t.getClass.getName}: ${t.getMessage}")
            Some(name)
        }
        val wall = (System.nanoTime() - t0) / 1e9
        val (cpu1, run1, gc1, b1, rw1, ab1, tr1) = metricSnapshot()
        Run(wall, cpu1 - cpu0, run1 - run0, gc1 - gc0, failure,
          b1 - b0, rw1 - rw0, ab1 - ab0, (tr1 - tr0) - (ab1 - ab0))
      }
      val runs = Seq(once(), once(), once())
      val best = runs.minBy(_.wall)
      (name, best, runs, runs.flatMap(_.failure).headOption)
    }
    def obj(f: ((String, Run, Seq[Run], Option[String])) => Double): String =
      results.map(r => "\"" + r._1 + "\":" + f(r)).mkString("{", ",", "}")
    def r3(x: Double): Double = math.rint(x * 1000) / 1000
    def obj3(f: ((String, Run, Seq[Run], Option[String])) => Double): String =
      results.map(r => "\"" + r._1 + "\":" + r3(f(r))).mkString("{", ",", "}")
    val qs = obj(_._2.wall)
    // task-metric split of the SAME run the headline number comes from
    val cpu = obj(_._2.cpu)
    val taskRun = obj(_._2.taskRun)
    val gc = obj(_._2.gc)
    val runs = (0 until 3).map(i => obj(_._3(i).wall)).mkString("[", ",", "]")
    val failures = results.flatMap(_._4).map("\"" + _ + "\"").mkString("[", ",", "]")
    // streaming split, only for queries that actually ran micro-batches
    // (same best run the headline number comes from)
    val streaming = results.filter(_._2.batches > 0).map { r =>
      "\"" + r._1 + "\":{\"batches\":" + r._2.batches +
        ",\"rows\":" + r._2.rows +
        ",\"addbatch_sec\":" + r._2.addBatchSec +
        ",\"fixed_sec\":" + r._2.fixedSec + "}"
    }.mkString("{", ",", "}")
    val total = results.map(_._2.wall).sum
    // Output layout (the round-9 attribution lesson: BENCH_r04-r09
    // carried only a 2000-char stdout TAIL, so a single long line lost
    // its head — totals, failures, and the wall/cpu split of whichever
    // queries sorted early — and the q84 13.5× drift could not be
    // classified from the artifact):
    //  line 1 (head): totals + failures + slowest-12 wall/cpu/gc split
    //    FIRST, then the rounded per-query wall and cpu maps — a
    //    head-truncated capture still answers "what regressed and was
    //    it cpu or wait".
    //  line 2 (detail): full-precision maps + per-run walls + streaming
    //    split, also written to target/bench_last.json.
    //  lines 3..k (tail, r12 — VERDICT item 2): the driver's capture
    //    keeps only the LAST ~2000 chars and parses the last complete
    //    JSON line(s), so the r10/r11 one-line compact summary (totals
    //    + slowest only) left PERF per_query empty two rounds running.
    //    The per-query WALLS now ride the tail: short keys (the unique
    //    qNNN name prefix), 2-decimal walls, chunked into consecutive
    //    self-contained JSON records of ≤ ~950 chars each (a 2 KB tail
    //    capture always holds the last two complete), ordered
    //    fastest-first so the FINAL line — the one a last-line parser
    //    keeps — carries the slowest queries. Full-name full-precision
    //    maps stay on the head/detail lines above, unchanged.
    val slowest = results.sortBy(-_._2.wall).take(12).map { r =>
      "\"" + r._1 + "\":{\"wall\":" + r3(r._2.wall) +
        ",\"cpu\":" + r3(r._2.cpu) + ",\"gc\":" + r3(r._2.gc) + "}"
    }.mkString("{", ",", "}")
    val head = s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"failures":$failures,"slowest":$slowest,"queries":${obj3(_._2.wall)},"cpu_sec":${obj3(_._2.cpu)},"sf":"$sfDir"}"""
    val detail = s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"failures":$failures,"queries":$qs,"cpu_sec":$cpu,"task_run_sec":$taskRun,"gc_sec":$gc,"streaming":$streaming,"runs":$runs,"sf":"$sfDir"}"""
    println(head)
    println(detail)
    try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("target/bench_last.json"), detail + "\n")
    } catch { case _: Throwable => () } // read-only cwd: stdout already has it
    // tail chunks (see the output-layout note above): qNNN short keys —
    // unique today; any future prefix clash falls back to full names
    // rather than silently merging two queries into one key
    val shortKey: Map[String, String] = {
      val pref = results.map(r => r._1 -> r._1.takeWhile(_ != '_')).toMap
      if (pref.values.toSeq.distinct.size == pref.size) pref
      else results.map(r => r._1 -> r._1).toMap
    }
    def r2(x: Double): Double = math.rint(x * 100) / 100
    val tailEntries = results.sortBy(_._2.wall)
      .map(r => "\"" + shortKey(r._1) + "\":" + r2(r._2.wall))
    val chunks = scala.collection.mutable.ArrayBuffer[List[String]]()
    var cur = List.empty[String]
    var curLen = 0
    for (e <- tailEntries) {
      if (curLen + e.length + 1 > 850 && cur.nonEmpty) {
        chunks += cur.reverse; cur = Nil; curLen = 0
      }
      cur = e :: cur
      curLen += e.length + 1
    }
    if (cur.nonEmpty) chunks += cur.reverse
    chunks.zipWithIndex.foreach { case (c, i) =>
      println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","n":${results.size},"part":"${i + 1}/${chunks.size}","failures":$failures,"queries":${c.mkString("{", ",", "}")},"sf":"$sfDir"}""")
    }
    spark.stop()
  }
}
