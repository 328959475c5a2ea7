package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Leak gate: runs `body` and fails if it leaves an RDD pinned that was
    * not pinned when it started. What `body` pinned is released either
    * way, so a test that fails before its own `close()` cannot turn a
    * later test's gate red.
    */
  def assertNoNewPins[T](body: => T): T = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    def added = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    try {
      val out = body
      val left = added
      assert(left.isEmpty, s"pinned RDDs left behind: ${left.values.mkString(", ")}")
      out
    } finally added.values.foreach(_.unpersist(blocking = true))
  }

  /** A test whose body runs under [[assertNoNewPins]]. */
  def leakGatedTest(name: String)(body: => Any)(
      implicit pos: org.scalactic.source.Position): Unit =
    test(name)(assertNoNewPins(body))
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
