package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The whitespace tokenizer is written once: `TextOps.tokenArray` (Spark)
  * and `TextOps.tokenArraySql` (DuckDB oracle). Any other `split(lower(`
  * or `string_split(lower(` in `src/main/scala` is a copy that can drift
  * from its twin and silently break the oracle hash checks, so this spec
  * fails on it by file and line.
  */
class TokenizerLintSpec extends AnyFunSuite {

  private val root = Paths.get("src", "main", "scala")
  private val home = Paths.get("graft", "operators", "TextOps.scala")

  /** (file under src/main/scala, exact line content, reason). Each entry
    * excuses one line.
    */
  private val allowed = Seq(
    ("graft/queries/CoreQueries.scala",
      """.select(col("doc_id"), explode(split(lower(col("text")), " ")).as("word"))""",
      "q04_flatten: the flatten operator explodes the RAW split and drops " +
        "empty words as a separate row filter (Generate then Filter) — its " +
        "own contract, with its own oracle"),
    ("graft/queries/CoreQueries.scala",
      """|  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word""",
      "q04_flatten's oracle: the same raw unnest then WHERE word <> ''"))

  test("no tokenizer copy in src/main/scala outside TextOps (q04_flatten excepted)") {
    assert(Files.isDirectory(root), s"run from the repository root: $root not found")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toVector
    val hits: Seq[(String, String)] = files.flatMap { p =>
      val rel = root.relativize(p)
      if (rel == home) Nil
      else Files.readAllLines(p).asScala.toSeq.zipWithIndex.collect {
        case (line, i) if line.contains("split(lower(") => // and string_split(lower(
          (s"${unix(rel)}:${i + 1}", line.trim)
      }
    }
    val offenders = hits.filterNot { case (at, line) =>
      allowed.exists { case (file, ok, _) => at.startsWith(file + ":") && line == ok }
    }
    if (offenders.nonEmpty)
      fail(s"\n${offenders.size} inline tokenizer copies; use TextOps.tokenArray / " +
        "TextOps.tokenArraySql:\n  " +
        offenders.map { case (at, line) => s"$at: $line" }.mkString("\n  "))
    val excused = hits.size - offenders.size
    assert(excused <= allowed.size,
      s"$excused lines match the ${allowed.size} one-line q04_flatten exceptions")
  }

  private def unix(p: Path): String = p.iterator().asScala.mkString("/")
}
