package graft.tools

/** Dump `SparkEntry.oracleSql` to a JSON file without running any
  * query (no SparkSession) — the fast path for iterating on an oracle's
  * DuckDB-side form with `tools/compare_oracle.py` or a direct duckdb
  * shell, instead of paying a full Verify run per edit. Writes the same
  * file Verify writes as `oracle_sql.json`.
  *
  * Usage: runMain graft.tools.OracleDump <outFile>
  */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "/tmp/oracle_sql.json"
    graft.Verify.writeOracleSql(out)
    println(s"[oracle-dump] wrote ${graft.SparkEntry.oracleSql.size} oracles to $out")
  }
}
