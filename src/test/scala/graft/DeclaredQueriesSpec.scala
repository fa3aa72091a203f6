package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Pins the declared-query contract: the sorted query names and, per
  * name, the SHA-256 of its DuckDB oracle with whitespace runs collapsed
  * to one space (`-` when the query has no oracle).
  *
  * `src/test/resources/declared_queries.tsv` is the committed record. A
  * refactor that moves an oracle fragment into a shared constant (e.g.
  * `${TextOps.tokenArraySql}`) must leave every hash unchanged; a query
  * dropped, renamed or re-worded shows up here by name. On a mismatch the
  * recomputed file is written to `target/declared_queries.actual.tsv`;
  * copy it over the resource only when the oracle change is intended.
  */
class DeclaredQueriesSpec extends AnyFunSuite {

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString

  private def render: Seq[String] =
    SparkEntry.defs.sortBy(_.name).map { d =>
      d.name + "\t" + d.oracle.map(o => sha256(o.replaceAll("\\s+", " "))).getOrElse("-")
    }

  test("declared query names and oracle hashes match declared_queries.tsv") {
    val names = SparkEntry.defs.map(_.name)
    assert(names.distinct.size == names.size,
      s"duplicate query names: ${names.diff(names.distinct).mkString(", ")}")
    val actual = render
    val expected = scala.io.Source
      .fromResource("declared_queries.tsv", getClass.getClassLoader)
      .getLines().filter(_.nonEmpty).toVector
    if (actual != expected) {
      val out = Paths.get("target", "declared_queries.actual.tsv")
      Files.createDirectories(out.getParent)
      Files.write(out, actual.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    val missing = expected.diff(actual)
    val extra = actual.diff(expected)
    assert(missing.isEmpty && extra.isEmpty,
      s"\nexpected but not declared:\n  ${missing.mkString("\n  ")}" +
        s"\ndeclared but not expected:\n  ${extra.mkString("\n  ")}")
    assert(actual == expected, "same lines, different order")
    assert(actual.size == 275)
  }
}
