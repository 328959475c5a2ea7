package certabench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark of certaspark's explainer and dedup layers.
  *
  * {{{
  * certabench.Main --workload explain|eval|dedup|stream --seed N
  *   --seconds S --trace 0|1 --work DIR
  * }}}
  *
  * Set-up (session start, input generation, warm-up) runs three times and
  * reports the median. Then operations run back to back until `--seconds`
  * have passed. With `--trace 0` the last stdout line carries the
  * end-to-end metrics; with `--trace 1` operations alternate untraced and
  * traced, and it carries the per-layer metrics and the tracing overhead.
  * A detail line before it records host steal, failures, leaks and the
  * output digest in both modes.
  */
object Main {
  val setupReps = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def arg(k: String) = args.getOrElse(k, throw new IllegalArgumentException(s"--$k missing"))
    val name = arg("workload")
    val workload = Workload.all.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val work = Paths.get(arg("work")).toAbsolutePath

    // ------------------------------------------------------------ set-up
    val setupS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var inst: Instance = null
    var tracer: Option[Tracer] = None
    for (rep <- 0 until setupReps) {
      val last = rep == setupReps - 1
      val t0 = System.nanoTime()
      spark = session(work.resolve(s"local-$rep"))
      tracer = if (traced && last) Some(new Tracer(spark)) else None
      inst = workload.setup(spark, seed, Files.createDirectories(work.resolve(s"setup-$rep")),
        tracer)
      setupS += (System.nanoTime() - t0) / 1e9
      if (!last) { inst.close(); spark.stop() }
    }

    val settleS = Host.settleJit()

    // ------------------------------------------------------------ timed loop
    val results = ArrayBuffer.empty[OpResult]
    val untracedWalls = ArrayBuffer.empty[Double]
    val tracedWalls = ArrayBuffer.empty[Double]
    val pinned = ArrayBuffer.empty[(Int, Double)]
    val cpu0 = Host.processCpuS()
    val jit0 = Host.jitS()
    val steal0 = Host.cpuTicks()
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds || (traced && tracedWalls.isEmpty)) {
      val traceThis = traced && i % 2 == 1
      val (r, wall) = Workload.seconds(
        try tracer.filter(_ => traceThis).fold(inst.op(i))(inst.tracedOp(i, _))
        catch { case e: Exception =>
          e.printStackTrace()
          OpResult(Double.NaN, 0, 1, Seq(s"op $i threw ${e.getClass.getSimpleName}: ${e.getMessage}"), Nil)
        })
      (if (traceThis) tracedWalls else untracedWalls) += wall
      results += r
      pinned += Host.pinned(spark)
      i += 1
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    val jitS = Host.jitS() - jit0
    val cpuS = Host.processCpuS() - cpu0 - jitS
    val steal = Host.stealFrac(steal0, Host.cpuTicks())

    val finalLayers = if (traced) inst.finalLayers() else Map.empty[String, Double]
    val finalFailures = inst.finalFailures()
    inst.close()
    val liveHeapMb = Host.liveHeapMb()
    tracer.foreach(_.close())
    spark.stop()

    // ------------------------------------------------------------ checks
    val attempted = results.map(_.units).sum
    val opFailures = results.flatMap(_.failures)
    val failed = math.min(attempted, results.map(r => math.min(r.units, r.failures.size)).sum)
    val digestStore = work.getParent.getParent.resolve("digests").resolve(s"$name-$seed.tsv")
    val digestMismatches = Digests.check(digestStore, results.flatMap(_.digests).toSeq)
    val allFailures = opFailures ++ finalFailures ++ digestMismatches
    allFailures.take(20).foreach(f => System.err.println(s"check failed: $f"))
    val correct = allFailures.isEmpty && attempted > 0

    // ------------------------------------------------------------ report
    val latencies = results.map(_.latencyS).filterNot(_.isNaN).toSeq
    val items = results.map(_.items).sum
    val peakRssMb = Host.peakRssMb()
    val detail = Map[String, Any](
      "workload" -> name, "seed" -> seed, "trace" -> traced,
      "cpus" -> Runtime.getRuntime.availableProcessors,
      "setup_runs_s" -> setupS.toSeq, "loop_s" -> loopS, "ops" -> results.size,
      "op_latency_s" -> latencies, "jit_s" -> jitS, "jit_settle_s" -> settleS,
      "units" -> attempted, "items" -> items, "fail_frac" -> failed.toDouble / math.max(1, attempted),
      "host.steal_frac" -> steal, "peak_rss_mb" -> peakRssMb, "live_heap_mb" -> liveHeapMb,
      "spark.pinned_rdds_after" -> pinned.map(_._1), "spark.pinned_mb_after" -> pinned.map(_._2),
      // the first operation's outputs are the same for every run of a seed
      "digest" -> Workload.digest(results.head.digests.map(d => s"${d._1}=${d._2}")),
      "failures" -> allFailures.take(20))
    println("detail " + Json.render(detail))

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", median(setupS.toSeq), "s"),
        ("op_p50_s", median(latencies), "s"),
        ("items_per_s", items / loopS, "1/s"),
        ("cpu_s_per_op", cpuS / math.max(1, attempted), "s"),
        ("live_heap_mb", liveHeapMb, "MB"))
      else {
        val tracedOps = results.indices.filter(_ % 2 == 1).map(results)
        val layerMeans = Layers.of(name).map(_._1).map { n =>
          n -> mean(tracedOps.flatMap(_.layers.get(n)))
        }.toMap ++ finalLayers
        val untraced = median(untracedWalls.toSeq)
        val tracedMed = median(tracedWalls.toSeq)
        val derived = Map(
          "host.steal_frac" -> steal,
          "fail_frac" -> failed.toDouble / math.max(1, attempted),
          "setup.first_s" -> setupS.head,
          "host.peak_rss_mb" -> peakRssMb,
          "spark.pinned_rdds_after" -> pinned.last._1.toDouble,
          "spark.pinned_mb_after" -> pinned.last._2,
          "trace.untraced_op_s" -> untraced,
          "trace.traced_op_s" -> tracedMed,
          "trace.overhead_frac" -> (if (untraced > 0) tracedMed / untraced - 1 else 0.0))
        Layers.of(name).map { case (n, unit) =>
          (n, derived.getOrElse(n, layerMeans.getOrElse(n, 0.0)), unit)
        }
      }
    val result = Map[String, Any](
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap)
    println(Json.render(result))
  }

  def session(localDir: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("certabench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir.toString)
      .config("spark.sql.warehouse.dir", localDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Per-layer metric names and units, in report order (`all` is the
  * per_layer list of BENCHMARK.json).
  */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "spark.jobs_per_op" -> "count", "spark.driver_gap_s_per_op" -> "s",
    "sql.plan_s_per_op" -> "s", "spark.task_cpu_s_per_op" -> "s",
    "spark.gc_s_per_op" -> "s", "spark.shuffle_write_mb_per_op" -> "MB",
    "spark.spill_mb_per_op" -> "MB", "spark.pinned_rdds_after" -> "count",
    "spark.pinned_mb_after" -> "MB",
    "explain.jobs" -> "count", "matcher.original_s" -> "s",
    "candidates.support_s" -> "s", "candidates.support_jobs" -> "count",
    "perturb.augment_s" -> "s", "triangles.discover_s" -> "s",
    "perturb.resolve_s" -> "s", "perturb.depth_s" -> "s",
    "perturb.depth_jobs" -> "count", "explain.cf_examples_s" -> "s",
    "explain.triangles" -> "count",
    "dedup.candidates_s" -> "s", "dedup.candidate_pairs" -> "count",
    "dedup.verify_s" -> "s", "dedup.verified_pairs" -> "count",
    "dedup.verify_yield" -> "ratio", "dedup.components_s" -> "s",
    "dedup.components_jobs" -> "count", "dedup.survivors_s" -> "s",
    "dedup.planted_recall" -> "ratio",
    "stream.addbatch_s" -> "s", "stream.fixed_s" -> "s", "stream.probe_s" -> "s",
    "stream.state_append_s" -> "s", "stream.jobs_per_batch" -> "count",
    "stream.history_rows" -> "count", "stream.batch_p90_s" -> "s",
    "stream.planted_recall" -> "ratio",
    "host.steal_frac" -> "ratio", "host.peak_rss_mb" -> "MB", "fail_frac" -> "ratio",
    "setup.first_s" -> "s",
    "trace.untraced_op_s" -> "s", "trace.traced_op_s" -> "s",
    "trace.overhead_frac" -> "ratio")

  /** Layers only the `eval` workload has. */
  val evalOnly: Seq[(String, String)] = Seq(
    "candidates.auto_select_s" -> "s", "matcher.pairs_scored" -> "count",
    "matcher.score_s" -> "s", "matcher.pairs_scored.support" -> "count",
    "matcher.pairs_scored.perturb" -> "count", "matcher.pairs_per_triangle" -> "ratio",
    "eval.untagged_s" -> "s", "eval.cf_found_frac" -> "ratio")

  def of(workload: String): Seq[(String, String)] =
    if (workload == "eval") all ++ evalOnly else all
}

/** Host readings that need no Spark listener. */
object Host {
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Time the JIT compiler threads spent compiling. */
  def jitS(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Wait (at most `maxS`) until background JIT compilation goes quiet,
    * so the timed loop does not share the cores with the compiler
    * threads that set-up left busy. Returns the time waited.
    */
  def settleJit(maxS: Double = 5.0): Double = {
    val t0 = System.nanoTime()
    var busy = true
    while (busy && (System.nanoTime() - t0) / 1e9 < maxS) {
      val before = jitS()
      Thread.sleep(250)
      busy = jitS() - before > 0.025
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** (steal, total) jiffies of the aggregate `cpu` line of /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val f = Paths.get("/proc/stat")
    if (!Files.isReadable(f)) (0L, 0L)
    else {
      val line = Files.readAllLines(f).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (line.length > 7) line(7) else 0L, line.take(8).sum)
    }
  }

  def stealFrac(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  /** Heap still in use after a full collection, in MB: what the session
    * retains (pinned blocks, caches, leaked frames) once the work is done.
    */
  def liveHeapMb(): Double = {
    // Spark's cleaner releases shuffle and broadcast state only after a
    // collection finds its owners unreachable; give it a few rounds
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** VmHWM of this JVM, in MB. */
  def peakRssMb(): Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.isReadable(f)) 0.0
    else scala.jdk.CollectionConverters.ListHasAsScala(Files.readAllLines(f)).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  /** Persisted RDDs left in the session and the storage they hold. */
  def pinned(spark: SparkSession): (Int, Double) = {
    val sc = spark.sparkContext
    val mb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
    (sc.getPersistentRDDs.size, mb)
  }
}

/** Cross-run output check: the digest of every output key is stored per
  * workload and seed the first time it is seen; a later run of the same
  * seed must reproduce it.
  */
object Digests {
  def check(store: Path, digests: Seq[(String, String)]): Seq[String] = {
    Files.createDirectories(store.getParent)
    val known = scala.collection.mutable.LinkedHashMap.empty[String, String]
    if (Files.exists(store))
      scala.jdk.CollectionConverters.ListHasAsScala(Files.readAllLines(store)).asScala
        .map(_.split("\t")).collect { case Array(k, v) => known(k) = v }
    val mismatches = digests.flatMap { case (k, d) =>
      known.get(k) match {
        case Some(prev) if prev != d => Some(s"output $k digest $d, expected $prev")
        case Some(_) => None
        case None => known(k) = d; None
      }
    }.distinct
    Files.write(store, known.map { case (k, v) => s"$k\t$v" }.mkString("", "\n", "\n")
      .getBytes("UTF-8"))
    mismatches
  }
}

/** Just enough JSON for numbers, strings, booleans, sequences and maps. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => render(k.toString) + ": " + render(x) }
      .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => render(other.toString)
  }
}
