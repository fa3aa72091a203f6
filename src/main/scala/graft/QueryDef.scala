package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One declared query: a Spark rendering plus (optionally) the DuckDB
  * oracle SQL the driver hash-compares against (SURVEY.md §2.C).
  *
  * `oracle = None` → the driver records a weaker rows-only check (used for
  * ops whose internals — e.g. xxhash64-based MinHash — have no DuckDB
  * equivalent).
  */
final case class QueryDef(
    name: String,
    spark: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {

  /** Exact decimal-path sum of a double column, returned as double.
    *
    * Summation of doubles is association-order dependent, and Spark's
    * partial/final aggregation order is nondeterministic across partitions —
    * so a plain `round(sum(x), 2)` can flip its last digit between engines
    * (or between runs). Casting to DECIMAL first makes the aggregation exact
    * in both Spark and DuckDB regardless of order; the cast back to double is
    * then a single deterministic rounding. Source doubles carry <= 2-3
    * decimal digits (FIXTURES.md), far inside DECIMAL(18,6).
    */
  def dsum(c: Column, scale: Int = 6): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** DuckDB-side rendering of [[dsum]]. */
  def dsumSql(expr: String, scale: Int = 6): String =
    s"CAST(sum(CAST($expr AS DECIMAL(18,$scale))) AS DOUBLE)"
}
