package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One-builder guard: every local session comes from [[GraftSession]].
  * Hand-copied session builders drift (Verify once ran AQE coalescing
  * off while Bench measured it on, so the oracle checked plans the
  * bench never ran). A source scan over src/ lists every file that
  * opens a session builder and requires that list to be exactly
  * GraftSession.scala. */
class GraftSessionSpec extends AnyFunSuite {

  private val builder = """SparkSession\s*\.\s*[bB]uilder\b""".r

  test("only GraftSession.scala opens a session builder") {
    val root = java.nio.file.Paths.get("src")
    assert(java.nio.file.Files.isDirectory(root),
      s"source tree not found at ${root.toAbsolutePath} — run tests from the repo root")
    val hits = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(f => builder.findFirstIn(
        new String(java.nio.file.Files.readAllBytes(f), "UTF-8")).isDefined)
      .map(_.getFileName.toString).toSeq.sorted
    // regex-rot guard: the one real builder must be visible, or the scan
    // has gone vacuous and the assertion below proves nothing
    assert(hits.contains("GraftSession.scala"),
      "scan no longer sees GraftSession's own builder — regex rotted?")
    assert(hits === Seq("GraftSession.scala"),
      "build local sessions with GraftSession.local, not a private copy of its conf")
  }
}
