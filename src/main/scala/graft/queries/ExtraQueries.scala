package graft.queries

import graft.{QueryDef, Tables}
import graft.QueryDef.{dsum, dsumSql}
import graft.operators.TextOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Coverage beyond the §2.C core: the SURVEY §2.B capabilities marked
  * "available but out of declared scope" (rollup/grouping sets, intersect/
  * except, analytic lag/lead, approximate distinct) — declared here so a
  * reference user gets the full relational surface.
  */
object ExtraQueries {

  val all: Seq[QueryDef] = Seq(

    // Rollup (hierarchical grouping sets). coalesce() folds the NULL group
    // markers to 'ALL' so NULL-ordering differences between engines can't
    // touch the hash.
    QueryDef(
      "x12_rollup",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .rollup("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("cnt"), round(dsum(col("l_quantity")), 2).as("qty"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
            coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
            col("cnt"), col("qty"))
          .orderBy("rf", "ls"),
      Some(s"""SELECT coalesce(l_returnflag, 'ALL') AS rf,
              |       coalesce(l_linestatus, 'ALL') AS ls,
              |       count(*) AS cnt, round(${dsumSql("l_quantity")}, 2) AS qty
              |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
              |ORDER BY rf, ls""".stripMargin)),

    // Set intersection (distinct semantics, per SQL INTERSECT).
    QueryDef(
      "x13_intersect",
      (s, dir) =>
        Tables.customer(s, dir).select(col("c_custkey").as("k"))
          .intersect(Tables.orders(s, dir)
            .filter(col("o_totalprice") > 300000).select(col("o_custkey").as("k")))
          .orderBy("k"),
      Some("""SELECT c_custkey AS k FROM customer
             |INTERSECT
             |SELECT o_custkey AS k FROM orders WHERE o_totalprice > 300000
             |ORDER BY k""".stripMargin)),

    // Set difference (distinct semantics, per SQL EXCEPT).
    QueryDef(
      "x14_except",
      (s, dir) =>
        Tables.customer(s, dir).select(col("c_custkey").as("k"))
          .except(Tables.orders(s, dir)
            .filter(col("o_totalprice") > 300000).select(col("o_custkey").as("k")))
          .orderBy("k"),
      Some("""SELECT c_custkey AS k FROM customer
             |EXCEPT
             |SELECT o_custkey AS k FROM orders WHERE o_totalprice > 300000
             |ORDER BY k""".stripMargin)),

    // Analytic lag: per-user event deltas. Decimal path keeps the
    // subtraction exact; first event per user yields NULL delta (parity:
    // lag default is NULL in both engines).
    QueryDef(
      "x15_lag_delta",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables.events(s, dir)
          .select(col("event_id"),
            round((col("value").cast("decimal(18,6)")
              - lag(col("value").cast("decimal(18,6)"), 1).over(w))
              .cast("double"), 2).as("delta"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id,
             |  round(CAST(CAST(value AS DECIMAL(18,6))
             |    - lag(CAST(value AS DECIMAL(18,6)), 1) OVER (
             |        PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE), 2) AS delta
             |FROM events ORDER BY event_id""".stripMargin)),

    // Array scalar functions (§2.B scalar row: array family): size, sort,
    // slice, membership — all codegen'd, all over the token arrays.
    QueryDef(
      "x28_array_funcs",
      (s, dir) => {
        val toks = TextOps.tokenArray(col("text"))
        Tables.documents(s, dir)
          .select(col("doc_id"),
            size(toks).cast("long").as("n_toks"),
            array_join(slice(sort_array(toks), 1, 3), ",").as("first3"),
            array_contains(toks, "the").as("has_the"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id,
              |       CAST(len(toks) AS BIGINT) AS n_toks,
              |       array_to_string(list_sort(toks)[1:3], ',') AS first3,
              |       list_contains(toks, 'the') AS has_the
              |FROM (SELECT doc_id, ${TextOps.tokenArraySql} AS toks
              |      FROM documents) t
              |ORDER BY doc_id""".stripMargin)),

    // Map scalar functions (§2.B scalar row: map family): parse the JSON
    // props into a typed MapType, then element_at + map_keys.
    QueryDef(
      "x29_map_funcs",
      (s, dir) => {
        val m = from_json(col("props"), org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.LongType))
        Tables.events(s, dir)
          .select(col("event_id"),
            element_at(m, "k").as("k_val"),
            size(map_keys(m)).cast("long").as("n_keys"))
          .orderBy("event_id")
          .limit(1000)
      },
      Some("""SELECT event_id,
             |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
             |       CAST(len(json_keys(props)) AS BIGINT) AS n_keys
             |FROM events ORDER BY event_id LIMIT 1000""".stripMargin)),

    // Approximate distinct (HLL++). The raw estimate is engine-specific
    // (no DuckDB rendering), but the CLAIM the estimator makes — within
    // 10% of the exact count (default rsd = 5%, so 2σ) — is checkable:
    // the query emits the exact count plus an in-bound boolean, and the
    // oracle asserts `true`. An out-of-bound estimate hash-mismatches the
    // gate instead of hiding behind a rows-only check. The point at
    // 100 TB: one pass, no shuffle of raw keys, fixed memory — this
    // replaces q09 when exactness isn't required.
    QueryDef(
      "x16_approx_distinct",
      (s, dir) =>
        Tables.orders(s, dir).agg(
          approx_count_distinct(col("o_custkey")).as("approx_cd"),
          countDistinct(col("o_custkey")).as("exact_cd"))
          .select(col("exact_cd"),
            (abs(col("approx_cd") - col("exact_cd"))
              <= col("exact_cd") * lit(0.1)).as("within_10pct")),
      Some("SELECT count(DISTINCT o_custkey) AS exact_cd, true AS within_10pct FROM orders"))
  )
}
