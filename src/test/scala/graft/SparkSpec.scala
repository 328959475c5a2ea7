package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  // ERROR matches src/test/resources/log4j2.properties; nanosAsLong is
  // set from birth by Session.local — suites run in parallel threads,
  // and a thread without an active session resolves parquet schemas
  // against DEFAULT conf values (ts → TIMESTAMP_NTZ flake)
  lazy val session: SparkSession = Session.local(4, logLevel = "ERROR", conf = Map(
    "spark.app.name" -> "graft-test",
    // managed tables (BucketingSpec) must never land in the repo tree
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
}
