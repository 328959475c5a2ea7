package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source-level guards: one owner per mechanism. Every local session is
  * built by [[graft.Session.local]] (a second builder chain drifts from
  * the shared settings — one without nanosAsLong reads event timestamps
  * as a different type), and every RDD-level pin is a
  * [[graft.operators.Pinned]] handle (a hand-rolled one has no owner
  * that releases it, and `catalog.clearCache()` does not reach it).
  */
class SessionGuardSpec extends AnyFunSuite {

  /** `file:line` of every line under `roots` containing a needle. */
  private def sites(roots: Seq[String], needles: Seq[String]): Seq[String] = {
    val dirs = roots.map(new java.io.File(_))
    dirs.foreach(r => assert(r.isDirectory, s"run from the repo root: $r"))
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    dirs.flatMap(scalaFiles).flatMap { f =>
      java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex.collect {
        case (line, i) if needles.exists(line.contains) => s"${f.getPath}:${i + 1}"
      }
    }
  }

  test("no session builder chain outside graft.Session") {
    // split: this file is scanned too
    val found = sites(Seq("src/main/scala", "src/test/scala"),
      Seq("SparkSession" + ".builder"))
    assert(found.map(_.takeWhile(_ != ':')) ===
      Seq("src/main/scala/graft/Session.scala"), found.mkString("\n"))
  }

  test("no RDD-level pin outside graft.operators.Pinned") {
    val found = sites(Seq("src/main/scala"),
      Seq(".localCheckpoint(", ".rdd.persist("))
      .filterNot(_.startsWith("src/main/scala/graft/operators/Pinned.scala:"))
    assert(found.isEmpty, found.mkString("\n"))
  }
}
