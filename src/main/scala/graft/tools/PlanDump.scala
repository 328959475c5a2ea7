package graft.tools

/** Dev tool (r11): dump `.explain("formatted")` for named queries to
  * files — the plans/rNN before/after evidence. Usage:
  *   runMain graft.tools.PlanDump <outDir> <suffix> <query> [query...]
  * writes <outDir>/<query>_<suffix>.txt per query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Session.local(cpus,
      scratchPrefix = Some("graft-plandump-"), logLevel = "ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (n <- names) {
      spark.catalog.clearCache()
      val txt =
        try graft.SparkEntry.queries(n)(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        catch { case t: Throwable => s"explain failed: $t" }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"), txt)
      println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
