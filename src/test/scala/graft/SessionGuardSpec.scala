package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source-level guards: one owner per mechanism. Every local session is
  * built by [[graft.Session.local]] (a second builder chain drifts from
  * the shared settings — one without nanosAsLong reads event timestamps
  * as a different type), and every RDD-level pin is a
  * [[graft.operators.Pinned]] handle (a hand-rolled one has no owner
  * that releases it, and `catalog.clearCache()` does not reach it).
  * Every Spark or streaming listener is registered by [[graft.Trace]].
  * README's tools table names every main, and only those, and every
  * scaladoc link in src/main names something src/main defines.
  */
class SessionGuardSpec extends AnyFunSuite {

  /** (path, 1-based line number, text) of every line of the .scala
    * files under `roots`.
    */
  private def lines(roots: Seq[String]): Seq[(String, Int, String)] = {
    val dirs = roots.map(new java.io.File(_))
    dirs.foreach(r => assert(r.isDirectory, s"run from the repo root: $r"))
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    dirs.flatMap(scalaFiles).flatMap { f =>
      java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex.map {
        case (line, i) => (f.getPath, i + 1, line)
      }
    }
  }

  /** `file:line` of every line under `roots` containing a needle. */
  private def sites(roots: Seq[String], needles: Seq[String]): Seq[String] =
    lines(roots).collect {
      case (path, n, line) if needles.exists(line.contains) => s"$path:$n"
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

  test("no Spark or streaming listener outside graft.Trace") {
    // split: this file is scanned too
    val found = sites(Seq("src/main/scala", "src/test/scala"),
      Seq("addSpark" + "Listener(", "new Spark" + "Listener",
        "extends StreamingQuery" + "Listener"))
      .filterNot(_.startsWith("src/main/scala/graft/Trace.scala:"))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("every scaladoc link in src/main names a definition in src/main") {
    val src = lines(Seq("src/main/scala"))
    val definition = "\\b(?:def|val|var|class|object|trait|type)\\s+`?(\\w+)".r
    val definedIn: Map[String, Set[String]] = src
      .flatMap { case (path, _, line) =>
        definition.findAllMatchIn(line).map(_.group(1) -> path) }
      .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
    def dir(path: String): String = path.take(path.lastIndexOf('/'))
    // `name` resolves in its own package; `Owner.name` to a file that
    // defines both; a package-qualified `pkg.Name` to any definition
    def resolves(link: String, path: String): Boolean = {
      val segs = link.takeWhile(_ != '(').replace('#', '.').split('.').toSeq
      val in = definedIn.getOrElse(segs.last, Set.empty)
      segs.init.lastOption match {
        case None => in.exists(dir(_) == dir(path))
        case Some(owner) if owner.head.isUpper =>
          in.exists(definedIn.getOrElse(owner, Set.empty))
        case Some(_) => in.nonEmpty
      }
    }
    val link = "\\[\\[([^\\]]+)\\]\\]".r
    val broken = src.flatMap { case (path, n, line) =>
      val doc = line.trim.startsWith("*") || line.trim.startsWith("/**")
      (if (doc) link.findAllMatchIn(line).map(_.group(1)).toSeq else Nil)
        .filterNot(l => Seq("org.apache.", "scala.", "java.").exists(l.startsWith))
        .filterNot(resolves(_, path))
        .map(l => s"$path:$n [[$l]]")
    }
    assert(broken.isEmpty, broken.mkString("\n"))
  }

  test("no RDD-level pin outside graft.operators.Pinned") {
    val found = sites(Seq("src/main/scala"),
      Seq(".localCheckpoint(", ".rdd.persist("))
      .filterNot(_.startsWith("src/main/scala/graft/operators/Pinned.scala:"))
    assert(found.isEmpty, found.mkString("\n"))
  }
}
