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
      conf = Trace.progressConf)

    // warm-up: schema read + one small shuffle + codegen paths
    try {
      spark.read.parquet(s"$sfDir/nation.parquet")
        .groupBy("n_regionkey").count().count()
    } catch { case _: Throwable => () }

    // Each run is one Trace.window. Its task-metric split (executor CPU
    // vs run vs GC time) tells "the code got slower" from "the host was
    // busy": wall-clock alone cannot (the round-5/6 q47/q57/q58
    // ambiguity). With cpu ≈ prior rounds but wall inflated, the delta
    // is scheduler/IO wait; cpu inflated too means a real regression.
    // Its streaming split records, per streaming query, batches / input
    // rows / addBatch seconds / fixed seconds, so a fixed per-batch term
    // that grows with sf shows in the BENCH file alone. Its job census
    // (jobs, driver gap, jobs per stage) names the layer a multi-job
    // query spends its time in.
    //
    // Each query runs THREE times and records the min: the bench host
    // shows intermittent external contention (round-3's recording was
    // inflated up to 17× by it), and a query's first executions also pay
    // JIT compilation of its generated code — measured convergence takes
    // 2-3 executions for the sketch-heavy censuses (q32 ran
    // 9.2/7.8/1.7/1.8 s in one JVM). Min-of-3 measures the code, not
    // the JIT or the neighbor; all raw runs are emitted for
    // transparency.
    final case class Run(wall: Double, failure: Option[String], trace: Trace.Window)
    // dev-only filter (SPARK_GRAFT_BENCH_ONLY=substr,substr): iterate on
    // a few queries without paying the full catalog; the driver sets no
    // filter and always runs everything
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(f => f.exists(n.contains)) }
    val results = selected.map { case (name, fn) =>
      def once(): Run = {
        // the explanation memo resets so a repeated q25 re-runs the full
        // explainer
        if (name == "q25_certa_saliency")
          graft.queries.ErQueries.resetExplanationMemo()
        val ((wall, failure), trace) = Trace.window(spark) {
          val t0 = System.nanoTime()
          // a crashing query must NOT look like a fast passing one: record
          // the failure and surface it in the JSON + on stderr
          val failure = try { fn(spark, sfDir).count(); None } catch {
            case t: Throwable =>
              System.err.println(s"BENCH FAILURE $name: ${t.getClass.getName}: ${t.getMessage}")
              Some(name)
          }
          ((System.nanoTime() - t0) / 1e9, failure)
        }
        if (!trace.flushed)
          // a short flush loses task metrics — say so rather than
          // silently under-reporting
          System.err.println(s"BENCH WARNING: listener bus flush timed out; " +
            s"the cpu/gc readings of $name are unreliable")
        Session.isolate(spark, "bench", name)
        Run(wall, failure, trace)
      }
      val runs = Seq(once(), once(), once())
      val best = runs.minBy(_.wall)
      // only the best run's trace is kept: a full catalog is ~600 runs
      (name, best, runs.map(_.wall), runs.flatMap(_.failure).headOption)
    }
    def obj(f: ((String, Run, Seq[Double], Option[String])) => Double): String =
      results.map(r => "\"" + r._1 + "\":" + f(r)).mkString("{", ",", "}")
    def r3(x: Double): Double = math.rint(x * 1000) / 1000
    def obj3(f: ((String, Run, Seq[Double], Option[String])) => Double): String =
      results.map(r => "\"" + r._1 + "\":" + r3(f(r))).mkString("{", ",", "}")
    val qs = obj(_._2.wall)
    // task-metric split and job census of the SAME run the headline
    // number comes from
    val cpu = obj(_._2.trace.cpuSec)
    val taskRun = obj(_._2.trace.runSec)
    val gc = obj(_._2.trace.gcSec)
    val jobs = results.map(r => "\"" + r._1 + "\":" + r._2.trace.jobs.size)
      .mkString("{", ",", "}")
    val driverGap = obj(_._2.trace.driverGapS)
    val runs = (0 until 3).map(i => obj(_._3(i))).mkString("[", ",", "]")
    val failures = results.flatMap(_._4).map("\"" + _ + "\"").mkString("[", ",", "]")
    // streaming split, only for queries that actually ran micro-batches
    // (same best run the headline number comes from)
    val streaming = results.filter(_._2.trace.streaming.batches > 0).map { r =>
      val s = r._2.trace.streaming
      "\"" + r._1 + "\":{\"batches\":" + s.batches +
        ",\"rows\":" + s.rows +
        ",\"addbatch_sec\":" + s.addBatchSec +
        ",\"fixed_sec\":" + s.fixedSec + "}"
    }.mkString("{", ",", "}")
    // jobs per Trace.stage name, only for queries that tag their jobs
    val stages = results.filter(_._2.trace.stages.nonEmpty).map { r =>
      "\"" + r._1 + "\":" + r._2.trace.stages.toSeq.sorted
        .map { case (d, n) => Verify.jsonString(d) + ":" + n }.mkString("{", ",", "}")
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
    //    split + job census, also written to target/bench_last.json.
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
        ",\"cpu\":" + r3(r._2.trace.cpuSec) + ",\"gc\":" + r3(r._2.trace.gcSec) + "}"
    }.mkString("{", ",", "}")
    val head = s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"failures":$failures,"slowest":$slowest,"queries":${obj3(_._2.wall)},"cpu_sec":${obj3(_._2.trace.cpuSec)},"sf":"$sfDir"}"""
    val detail = s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"failures":$failures,"queries":$qs,"cpu_sec":$cpu,"task_run_sec":$taskRun,"gc_sec":$gc,"streaming":$streaming,"jobs":$jobs,"driver_gap_sec":$driverGap,"stages":$stages,"runs":$runs,"sf":"$sfDir"}"""
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
