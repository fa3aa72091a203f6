package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The streaming harness is written once: every in-process drain ends in
  * `StreamingOps.drain` / `StreamingOps.memoryDrain`, every recovery leg
  * in `StreamingOps.awaitLeg`, and every staged fixture goes through
  * `Staging.stage`. A second copy of any of these code lines in
  * `src/main/scala` can drift from the helper (a missed stop, a swallowed
  * failure, a leaked tmp dir), so this spec fails on it by file and line.
  * Comment lines are not code and are skipped.
  */
class StreamingHarnessLintSpec extends AnyFunSuite {

  private val root = Paths.get("src", "main", "scala")
  private val streaming = "graft/streaming/StreamingOps.scala"

  /** (what the line does, its pattern, the file holding the one helper
    * line, the helper to call instead).
    */
  private val rules = Seq(
    ("memory-sink start", """format\("memory"\)""".r, streaming,
      "StreamingOps.memoryDrain"),
    ("quiescence wait", """processAllAvailable\(\)""".r, streaming,
      "StreamingOps.drain / memoryDrain"),
    ("injected-crash catch",
      """case \w+: (org\.apache\.spark\.sql\.streaming\.)?StreamingQueryException""".r,
      streaming, "StreamingOps.awaitLeg"),
    // `_tmp_${java.util.UUID...}`, or `"_tmp_" +` with the UUID on the next line
    ("staging tmp dir", """_tmp_(\$\{java\.util\.UUID|"\s*\+)""".r,
      "graft/operators/Staging.scala", "Staging.stage"))

  private def codeLines: Seq[(String, String)] = {
    assert(Files.isDirectory(root), s"run from the repository root: $root not found")
    val s = Files.walk(root)
    val files = try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      finally s.close()
    files.sortBy(_.toString).flatMap { p =>
      val rel = unix(root.relativize(p))
      Files.readAllLines(p).asScala.toSeq.zipWithIndex.collect {
        case (line, i) if !isComment(line) => (s"$rel:${i + 1}", line.trim)
      }
    }
  }

  test("each streaming-harness line exists once, inside its helper") {
    val lines = codeLines
    val report = rules.flatMap { case (what, re, home, helper) =>
      val hits = lines.filter { case (_, line) => re.findFirstIn(line).nonEmpty }
      val inHome = hits.count(_._1.startsWith(home + ":"))
      if (hits.size == 1 && inHome == 1) None
      else Some(s"$what: ${hits.size} lines (expected 1, in $home); call $helper:\n    " +
        hits.map { case (at, line) => s"$at: $line" }.mkString("\n    "))
    }
    if (report.nonEmpty)
      fail(s"\n${report.mkString("\n")}")
  }

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")
  }

  private def unix(p: Path): String = p.iterator().asScala.mkString("/")
}
