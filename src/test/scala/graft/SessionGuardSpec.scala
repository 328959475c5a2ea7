package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every local session is built by [[graft.Session.local]]: a second
  * builder chain drifts from the shared settings (one without
  * nanosAsLong reads event timestamps as a different type).
  */
class SessionGuardSpec extends AnyFunSuite {

  test("no session builder chain outside graft.Session") {
    val needle = "SparkSession" + ".builder" // split: this file is scanned too
    val roots = Seq("src/main/scala", "src/test/scala").map(new java.io.File(_))
    roots.foreach(r => assert(r.isDirectory, s"run from the repo root: $r"))
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    val sites = roots.flatMap(scalaFiles).flatMap { f =>
      java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(needle) => s"${f.getPath}:${i + 1}"
      }
    }
    assert(sites.map(_.takeWhile(_ != ':')) ===
      Seq("src/main/scala/graft/Session.scala"), sites.mkString("\n"))
  }
}
