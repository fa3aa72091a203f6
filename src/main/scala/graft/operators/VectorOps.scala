package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{call_function, round}

/** The round-6 cosine: the contract between every vector plan and its
  * DuckDB oracle. `graft_cosine` walks dot and both norms in one pass with
  * the same ascending accumulation as the composed list_dot_product/sqrt
  * rendering, so the two agree bit for bit, and both round to 6 decimals.
  * This is the ONLY place either rendering is written ([[cos6]],
  * [[cos6Sql]]); `VectorKernelLintSpec` fails on a copy elsewhere in
  * `src/main/scala`. Callers register [[graft.functions.GraftFunctions]]
  * on the session first.
  */
object VectorOps {

  /** round(cosine(a, b), 6) over two array<double> columns. */
  def cos6(a: Column, b: Column): Column = round(call_function("graft_cosine", a, b), 6)

  /** Oracle-side rendering of [[cos6]] over two DOUBLE[] expressions. */
  def cos6Sql(a: String, b: String): String =
    s"round(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 6)"
}
