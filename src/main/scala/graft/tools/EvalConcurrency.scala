package graft.tools

import org.apache.spark.sql.functions._

/** Explainer concurrency at the reference eval-loop scale (eval.py:69
  * explains hundreds of rows). Runs EvalDriver.evalCf over `nPairs`
  * (args(0), default 100) at each parallelism in args.tail (default
  * 1 8 16 32 — the knee sweep) under a FAIR-scheduled pool
  * (EvalDriver.parMap already tags its jobs with the `graft-eval`
  * pool; this tool supplies the FAIR allocation so concurrent
  * explanation job-streams share executors instead of queueing FIFO),
  * asserts every level's outputs are identical to the sequential
  * loop's, and prints the speedup curve — the job-stream-contention
  * probe the 32-pair EvalDriver leg (measured, SURVEY.md round 6
  * ScaleSmoke) was too small for, and the measurement behind
  * [[graft.eval.EvalDriver.defaultParallelism]].
  */
object EvalConcurrency {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nPairs = args.headOption.map(_.toInt).getOrElse(100)
    val pars = if (args.length > 1) args.tail.toIndexedSeq.map(_.toInt)
      else Seq(1, 8, 16, 32)

    val alloc = java.nio.file.Files.createTempFile("fairpools", ".xml")
    java.nio.file.Files.writeString(alloc,
      """<?xml version="1.0"?>
        |<allocations>
        |  <pool name="graft-eval">
        |    <schedulingMode>FAIR</schedulingMode>
        |    <weight>1</weight>
        |    <minShare>0</minShare>
        |  </pool>
        |</allocations>""".stripMargin)

    val spark = graft.Session.local(32, logLevel = "ERROR", conf = Map(
      "spark.scheduler.mode" -> "FAIR",
      "spark.scheduler.allocation.file" -> alloc.toString))
    import spark.implicits._

    val part = graft.sources.Tables.load(spark, sfDir, "part")
      .select(col("p_partkey").as("id"), col("p_name").as("name"),
        col("p_brand").as("brand"), col("p_type").as("ptype"),
        col("p_size").cast("string").as("psize"))
      .repartition(32).cache()
    part.count()
    val ids = part.select(col("id")).orderBy(col("id")).limit(nPairs)
      .as[Long].collect().toSeq
    val pairs = ids.map(i => (i, i, 1)).toDF("ltable_id", "rtable_id", "label")
    val model = graft.matcher.TokenCosineModel()

    def run(par: Int): (Double, Seq[String]) = {
      val out = java.nio.file.Files
        .createTempDirectory(s"evalconc_$par").toString
      val t0 = System.nanoTime()
      val df = graft.eval.EvalDriver.evalCf(part, part, pairs, model, out,
        numTriangles = 10, maxRows = nPairs, parallelism = par)
      val rows = df.drop("latencySec").collect().map(_.toString).toSeq.sorted
      ((System.nanoTime() - t0) / 1e9, rows)
    }

    // warm-up: a small batch pays the JIT/codegen cost BEFORE either
    // timed leg — measuring par1 first in a cold JVM would attribute
    // all warm-up to the sequential leg and inflate the speedup
    {
      val warm = ids.take(8).map(i => (i, i, 1))
        .toDF("ltable_id", "rtable_id", "label")
      val out = java.nio.file.Files.createTempDirectory("evalconc_w").toString
      graft.eval.EvalDriver.evalCf(part, part, warm, model, out,
        numTriangles = 10, maxRows = 8, parallelism = 1)
    }

    val (t1, r1) = run(1)
    println(f"[evalconc] $nPairs pairs (FAIR pool): par1 $t1%7.1fs")
    pars.filter(_ > 1).foreach { p =>
      val (tp, rp) = run(p)
      require(r1 == rp, s"parallel eval outputs diverged at par$p")
      println(f"[evalconc] $nPairs pairs (FAIR pool): par$p%-3d $tp%7.1fs" +
        f"  speedup ${t1 / tp}%5.2fx  outputs identical")
    }
    spark.stop()
  }
}
