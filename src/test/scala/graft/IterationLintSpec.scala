package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Driver-side iteration is written once: every checkpointed loop runs
  * in `GraphLoops.fixpoint` (checkpoint each iterate, probe, drop the
  * prior one), and every forced-broadcast byte gate goes through
  * `Dedup.gatedBroadcast`. A hand-written loop counter grows its own
  * story for when its iterates are freed, and a hand-written gate can
  * lose the `bar > 0` guard that keeps a disabled bar from broadcasting a
  * 0-byte estimate, so this spec fails on either by file, line and
  * enclosing def. The bar itself derives from Spark's own
  * `spark.sql.autoBroadcastJoinThreshold`: the library has no conf keys
  * of its own, and a second test fails on any code line that reads or
  * writes a `graft.`-prefixed key. Comment lines are not code and are
  * skipped.
  */
class IterationLintSpec extends AnyFunSuite {

  private val root = Paths.get("src", "main", "scala")

  /** What a line does, its pattern, the (file, member def) that holds
    * the one allowed copy, the helper to call, and the (file, member def,
    * reason) exceptions that may keep a copy of their own.
    */
  private case class Rule(what: String, re: scala.util.matching.Regex,
      home: (String, String), helper: String,
      exceptions: Seq[(String, String, String)] = Nil)

  private val rules = Seq(
    Rule("driver loop round counter", """\brounds \+= 1\b""".r,
      ("graft/operators/GraphLoops.scala", "fixpoint"), "GraphLoops.fixpoint",
      Seq(
        ("graft/queries/Round10Queries.scala", "kcorePeelWithRounds",
          "probes BEFORE it steps (an empty doomed set ends the loop " +
            "without a new iterate) and keeps every round's doomed set as a " +
            "side output"),
        ("graft/queries/Round10Queries.scala", "cappedHamilton",
          "probes BEFORE it steps (no deficit left ends the loop) and keeps " +
            "every round's allocations as a side output"))),
    Rule("byte-gated broadcast", """(?i)bar > 0 &&""".r,
      ("graft/operators/Dedup.scala", "gatedBroadcast"), "Dedup.gatedBroadcast"))

  /** A member def (indented at most two spaces): a def nested inside a
    * method body does not change the enclosing member.
    */
  private val memberDef = """^ {0,2}(?:\S+\s+)*?def\s+([A-Za-z_][A-Za-z0-9_]*)""".r

  /** (file, line number, enclosing member def or "", trimmed code line). */
  private def codeLines: Seq[(String, Int, String, String)] = {
    assert(Files.isDirectory(root), s"run from the repository root: $root not found")
    val s = Files.walk(root)
    val files = try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      finally s.close()
    files.sortBy(_.toString).flatMap { p =>
      val rel = unix(root.relativize(p))
      var enclosing = ""
      Files.readAllLines(p).asScala.toSeq.zipWithIndex.flatMap { case (line, i) =>
        if (isComment(line)) None
        else {
          memberDef.findFirstMatchIn(line).foreach(m => enclosing = m.group(1))
          Some((rel, i + 1, enclosing, line.trim))
        }
      }
    }
  }

  test("each driver loop and byte gate is written once, inside its helper") {
    val lines = codeLines
    val report = rules.flatMap { r =>
      val hits = lines.filter { case (file, _, enclosing, line) =>
        r.re.findFirstIn(line).nonEmpty &&
          !r.exceptions.exists { case (f, d, _) => f == file && d == enclosing }
      }
      val inHome = hits.count { case (f, _, d, _) => (f, d) == r.home }
      if (inHome == 1 && hits.size == 1) None
      else Some(s"${r.what}: ${hits.size} lines (expected 1, in ${r.home._1} " +
        s"`${r.home._2}`); call ${r.helper}:" + listing(hits))
    }
    if (report.nonEmpty)
      fail(s"\n${report.mkString("\n")}")
  }

  test("no code line reads or writes a graft.-prefixed conf key") {
    // A conf call on a "graft. literal, or a key-shaped literal
    // ("graft.<family>.<camelCaseKey>") handed to a helper that reads it.
    // Class names (`format("graft.sources.CollectorSink")`) end in an
    // upper-case segment and are not conf calls, so they do not match.
    val confKey =
      """\b(?:get|getOption|set|unset)\(\s*"graft\.|"graft\.[a-z]+\.[a-z]\w*"""".r
    val hits = codeLines.filter { case (_, _, _, line) =>
      confKey.findFirstIn(line).nonEmpty }
    if (hits.nonEmpty)
      fail(s"\n${hits.size} graft conf key lines (derive the value from " +
        "Spark's own settings instead):" + listing(hits))
  }

  private def listing(hits: Seq[(String, Int, String, String)]): String =
    hits.map { case (f, n, d, line) => s"\n    $f:$n (def $d): $line" }.mkString

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")
  }

  private def unix(p: Path): String = p.iterator().asScala.mkString("/")
}
