package graft.queries

import graft.{Checkpoints, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-17: mergeable equi-width histograms with a certified quantile
  * error bound — the approximate-percentile machinery production
  * monitoring runs (percentile_approx / t-digest territory), rendered so
  * every number is exact-integer and the error GUARANTEE is certified
  * against the exact order statistic, not cited.
  */
object Round17Queries {

  private[graft] val Buckets = 32L
  private val Qs = Seq(250L, 500L, 900L)

  /** Exact integer rendering of `value`: DECIMAL(18,6) micros — both
    * engines compute identical longs (the dsum discipline applied to a
    * scalar).
    */
  private[graft] def vMicros(c: Column): Column =
    (c.cast("decimal(18,6)") * 1000000L).cast("long")

  /** The estimate/certification tail over a per-type histogram — shared
    * by the batch query and the x244 streaming twin, so the bound logic
    * is one definition. `hist` carries (event_type, b, cnt); `stats`
    * carries (event_type, n, mx); `exact` carries (event_type, q, exact_v).
    */
  private[graft] def quantileReport(hist: DataFrame, stats: DataFrame,
      exact: DataFrame): DataFrame = {
    val ranks = stats.select(col("event_type"), col("n"), col("mx"),
        explode(array(Qs.map(lit): _*)).as("q"))
      .select(col("event_type"), col("q"), col("n"), col("mx"),
        expr("(q * n + 999) DIV 1000").as("r"))
    // Cumulative counts via the bucket-spine self-join (32^2 per type,
    // corpus-independent); the target bucket is the min b whose
    // cumulative count reaches the rank.
    val cum = hist.as("h").join(hist.as("h2"),
        col("h.event_type") === col("h2.event_type") &&
          col("h2.b") <= col("h.b"))
      .groupBy(col("h.event_type").as("event_type"), col("h.b").as("b"))
      .agg(sum(col("h2.cnt")).as("cum"))
    val target = ranks.join(cum, "event_type")
      .filter(col("cum") >= col("r"))
      .groupBy("event_type", "q", "n", "r", "mx")
      .agg(min(col("b")).as("b"))
    target.join(exact, Seq("event_type", "q"))
      .select(col("event_type"), col("q"), col("n"), col("r"), col("b"),
        expr(s"(b + 1) * (mx + 1) DIV $Buckets").as("est_hi_micros"),
        col("exact_v").as("exact_micros"),
        (expr(s"(b + 1) * (mx + 1) DIV $Buckets") - col("exact_v"))
          .as("err_micros"),
        expr(s"mx DIV $Buckets + 1").as("width_micros"),
        (expr(s"(b + 1) * (mx + 1) DIV $Buckets") - col("exact_v") >= 0 &&
          expr(s"(b + 1) * (mx + 1) DIV $Buckets") - col("exact_v") <=
            expr(s"mx DIV $Buckets + 1") + 1).cast("long").as("within_bound"))
      .orderBy("event_type", "q")
  }

  private[graft] def eventStats(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"), vMicros(col("value")).as("v"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), max(col("v")).as("mx"))

  private[graft] def exactQuantiles(s: SparkSession, dir: String)
      : DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("v", "event_id")
    val ranked = Tables.events(s, dir)
      .select(col("event_type"), col("event_id"), vMicros(col("value")).as("v"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
    ranked.select(col("event_type"), col("v"), col("rn"),
        explode(array(Qs.map(lit): _*)).as("q"))
      .filter(col("rn") === expr("(q * n + 999) DIV 1000"))
      .select(col("event_type"), col("q"), col("v").as("exact_v"))
  }

  /** x243: equi-width histogram quantiles, CERTIFIED — the approximate
    * percentile every monitoring stack ships (32 fixed-width buckets per
    * group; mergeable by vector-add, which x244's streaming twin proves
    * at the drained-register level), with the textbook guarantee made
    * data: for each (event_type, q ∈ {p25, p50, p90}) the bucket
    * upper-bound estimate sits ABOVE the exact order statistic by at
    * most one bucket width. The exact side is x76's integer-rank
    * selection (ceil(q·n/1000) via row_number — no fp boundary); values
    * go through DECIMAL(18,6) micros so every quantity is an exact long
    * in both engines.
    *
    * Scale: the histogram is one map-side-combinable aggregate (types ×
    * 32 cells); the estimate tail is bucket-spine-bounded. The exact
    * side costs the per-group sort — the price of CERTIFYING; production
    * runs only the histogram half, which is the point of the bound.
    */
  private def histQuantiles(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"), vMicros(col("value")).as("v"))
    val stats = Checkpoints.local(eventStats(s, dir))
    val hist = ev.join(stats, "event_type")
      .select(col("event_type"),
        expr(s"v * $Buckets DIV (mx + 1)").as("b"))
      .groupBy("event_type", "b").agg(count(lit(1)).as("cnt"))
    quantileReport(hist, stats, exactQuantiles(s, dir))
  }

  private[graft] val histQuantilesSql: String =
    s"""WITH ev AS (SELECT event_type, event_id,
       |                   CAST(CAST(value AS DECIMAL(18,6)) * 1000000
       |                        AS BIGINT) AS v
       |            FROM events),
       | stats AS (SELECT event_type, count(*) AS n, max(v) AS mx
       |           FROM ev GROUP BY 1),
       | hist AS (SELECT ev.event_type,
       |                 v * $Buckets // (mx + 1) AS b, count(*) AS cnt
       |          FROM ev JOIN stats USING (event_type) GROUP BY 1, 2),
       | qs(q) AS (VALUES (CAST(250 AS BIGINT)), (500), (900)),
       | ranks AS (SELECT event_type, q, n, mx,
       |                  (q * n + 999) // 1000 AS r
       |           FROM stats CROSS JOIN qs),
       | cum AS (SELECT h.event_type, h.b, sum(h2.cnt) AS cum
       |         FROM hist h JOIN hist h2
       |           ON h.event_type = h2.event_type AND h2.b <= h.b
       |         GROUP BY 1, 2),
       | target AS (SELECT r.event_type, r.q, r.n, r.r, r.mx,
       |                   min(c.b) AS b
       |            FROM ranks r JOIN cum c ON r.event_type = c.event_type
       |                                   AND c.cum >= r.r
       |            GROUP BY 1, 2, 3, 4, 5),
       | ex AS (SELECT event_type, q, v AS exact_v FROM (
       |          SELECT ev.event_type, ev.v, qs.q,
       |                 row_number() OVER (PARTITION BY ev.event_type, qs.q
       |                   ORDER BY ev.v, ev.event_id) AS rn,
       |                 count(*) OVER (PARTITION BY ev.event_type, qs.q)
       |                   AS n
       |          FROM ev CROSS JOIN qs) z
       |        WHERE rn = (q * n + 999) // 1000)
       |SELECT t.event_type, t.q, CAST(t.n AS BIGINT) AS n,
       |       CAST(t.r AS BIGINT) AS r, CAST(t.b AS BIGINT) AS b,
       |       CAST((t.b + 1) * (t.mx + 1) // $Buckets AS BIGINT)
       |         AS est_hi_micros,
       |       CAST(ex.exact_v AS BIGINT) AS exact_micros,
       |       CAST((t.b + 1) * (t.mx + 1) // $Buckets - ex.exact_v
       |            AS BIGINT) AS err_micros,
       |       CAST(t.mx // $Buckets + 1 AS BIGINT) AS width_micros,
       |       CAST(CASE WHEN (t.b + 1) * (t.mx + 1) // $Buckets
       |                      - ex.exact_v >= 0
       |                  AND (t.b + 1) * (t.mx + 1) // $Buckets
       |                      - ex.exact_v <= t.mx // $Buckets + 2
       |                 THEN 1 ELSE 0 END AS BIGINT) AS within_bound
       |FROM target t JOIN ex ON t.event_type = ex.event_type
       |                     AND t.q = ex.q
       |ORDER BY t.event_type, t.q""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("x243_hist_quantiles", histQuantiles, Some(histQuantilesSql)))
}
