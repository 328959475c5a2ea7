package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source-level guards: one owner per mechanism. Every local session is
  * built by [[graft.Session.local]] (a second builder chain drifts from
  * the shared settings — one without nanosAsLong reads event timestamps
  * as a different type), and every RDD-level pin is a
  * [[graft.operators.Pinned]] handle (a hand-rolled one has no owner
  * that releases it, and `catalog.clearCache()` does not reach it).
  * README's tools table names every main, and only those.
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

  test("README's tools table lists exactly the mains in src/main") {
    // the object enclosing each `def main`, qualified by its package
    val mains = sites(Seq("src/main/scala"), Seq("def main(")).map { site =>
      val (path, line) = site.splitAt(site.lastIndexOf(':'))
      val src = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(path)).asScala.take(line.tail.toInt)
      val pkg = src.collectFirst { case l if l.startsWith("package ") =>
        l.stripPrefix("package ").trim }
      val obj = src.reverse.collectFirst {
        case l if l.trim.startsWith("object ") => l.trim.split("[ {]")(1) }
      (pkg.toSeq ++ obj).mkString(".")
    }.toSet
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val section = readme.split("\n## ")
      .find(_.startsWith("Entry points and tools")).getOrElse("")
    val rows = "(?m)^\\| `(graft\\.[\\w.]+)` \\|".r
      .findAllMatchIn(section).map(_.group(1)).toSet
    assert(rows.nonEmpty, "README has no \"Entry points and tools\" table")
    assert(rows === mains, s"README rows: $rows\nmains: $mains")
  }

  test("no RDD-level pin outside graft.operators.Pinned") {
    val found = sites(Seq("src/main/scala"),
      Seq(".localCheckpoint(", ".rdd.persist("))
      .filterNot(_.startsWith("src/main/scala/graft/operators/Pinned.scala:"))
    assert(found.isEmpty, found.mkString("\n"))
  }
}
