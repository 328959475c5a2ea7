package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: restrict the dump to named queries (dev-only;
    // the driver always passes exactly sfDir + outDir)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // same tmpfs scratch routing as Bench: the streaming queries'
    // temp checkpoints otherwise fsync against the root disk
    val spark = Session.local(cpus, scratchPrefix = Some("graft-verify-"))
    new java.io.File(outDir).mkdirs()
    // frozen-golden freshness: if the driver regenerated the fixture
    // content the goldens bind to, say so ONCE and loudly instead of
    // letting the golden queries go hash-red inscrutably
    graft.queries.GoldenFixture.staleness(spark, sfDir).foreach { msg =>
      System.err.println(s"[verify] GOLDEN FIXTURE STALE: $msg — " +
        "regenerate constants with `runMain graft.tools.GoldenGen`")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Session.isolate(spark, "verify", name)
    }
    writeOracleSql(s"$outDir/oracle_sql.json")
    spark.stop()
  }

  /** JSON string literal: escapes backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR in an oracle's SQL would otherwise make
    * `json.load` (tools/compare_oracle.py) reject the whole file and no
    * query would be checked.
    */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Write `SparkEntry.oracleSql` as one JSON object (query → SQL). */
  def writeOracleSql(path: String): Unit = {
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(path), json): Unit
  }
}
