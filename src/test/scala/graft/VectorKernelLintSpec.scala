package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The vector-search kernels are written once: the round-6 cosine pair in
  * `VectorOps` (`cos6` / `cos6Sql`), the exact re-rank tail and the 1-bit
  * bucket-flip expansion in `Similarity` (`rerank`, `probeBv`), and the
  * stored-index catalog check in `StoredTables` (`whenMissing`, behind
  * `getOrBuild`). A second copy of any of these code lines in
  * `src/main/scala` can drift from the helper (a changed rounding breaks
  * an oracle hash, a missed lock builds an index twice), so this spec
  * fails on it by file and line. Comment lines are not code and are
  * skipped.
  */
class VectorKernelLintSpec extends AnyFunSuite {

  private val root = Paths.get("src", "main", "scala")
  private val vectorOps = "graft/operators/VectorOps.scala"
  private val similarity = "graft/operators/Similarity.scala"
  private val storedTables = "graft/operators/StoredTables.scala"

  /** (what the line does, its pattern, the file holding the helper, the
    * number of lines allowed there — None: any — and the helper to call).
    * Every other file is allowed none.
    */
  private val rules = Seq(
    ("round-6 cosine", """round\((call_function\("graft_cosine", |cosine\()""".r, vectorOps, Some(1),
      "VectorOps.cos6"),
    ("round-6 cosine oracle", """sqrt\(list_dot_product\(""".r, vectorOps, Some(1),
      "VectorOps.cos6Sql"),
    ("exact re-rank tail", """orderBy\(col\("cos_sim"\)\.desc""".r, similarity, Some(1),
      "Similarity.rerank"),
    ("1-bit bucket flip", """bitwiseXOR\(lit\(1 << i\)\)""".r, similarity, Some(1),
      "Similarity.probeBv"),
    ("stored-table catalog check", """spark\.catalog\.tableExists\(""".r, storedTables, None,
      "StoredTables.getOrBuild / whenMissing"))

  /** (file, exact trimmed line, reason). Each entry excuses one line. */
  private val allowed = Seq(
    ("graft/operators/HybridRetrieval.scala",
      "|                / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),",
      "x218's dense-rank oracle breaks its line inside `round(`, so its " +
        "whitespace-collapsed text (and oracle hash) differs from cos6Sql's"),
    ("graft/operators/HybridRetrieval.scala",
      "|                 * sqrt(list_dot_product(pv.q, pv.q))), 6) DESC,",
      "the same x218 oracle fragment, second norm"))

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

  private def excused(at: String, line: String): Boolean =
    allowed.exists { case (file, ok, _) => at.startsWith(file + ":") && line == ok }

  test("each vector-kernel line exists once, inside its helper") {
    val lines = codeLines
    val report = rules.flatMap { case (what, re, home, inHomeMax, helper) =>
      val hits = lines.filter { case (at, line) =>
        re.findFirstIn(line).nonEmpty && !excused(at, line)
      }
      val (inHome, elsewhere) = hits.partition(_._1.startsWith(home + ":"))
      val ok = elsewhere.isEmpty && inHomeMax.forall(_ == inHome.size)
      if (ok) None
      else Some(s"$what: ${hits.size} lines (expected " +
        inHomeMax.fold(s"none outside $home")(n => s"$n, in $home") + s"); call $helper:\n    " +
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
