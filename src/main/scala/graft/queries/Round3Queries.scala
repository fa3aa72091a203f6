package graft.queries

import graft.{QueryDef, Tables}
import graft.QueryDef.{dsum, dsumSql}
import graft.operators.{TextAnalysis, TextOps}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Round-3 additions: the fact-fact SortMergeJoin shape that dominates
  * real warehouse workloads (TPC-H Q9's profit rollup), previously the one
  * join plan the suite never exercised — every earlier join had a
  * broadcastable small side.
  *
  * Reference tie-in: a async-pipes user renders this as a hand-rolled
  * hash-join stage over two unbounded inputs
  * (`/root/reference/src/pipeline/builder.rs:200-240` branching inputs);
  * here it is a declarative 4-way join Catalyst plans as
  * shuffle-sort-merge on the fact-fact edge plus broadcast on the dims.
  */
object Round3Queries {

  /** Exact decimal revenue: l_extendedprice * (1 - l_discount).
    *
    * Type choreography keeps BOTH engines exact and in-range:
    * discount is DECIMAL(7,6) (value in [0,1], <=3 digits), price
    * DECIMAL(18,6); the product is DECIMAL(26..27,12) — HUGEINT storage in
    * DuckDB, java BigDecimal in Spark — so the sums are exact and the final
    * double cast is one deterministic rounding (same recipe as
    * QueryDef.dsum, widened for the product). Keeping the discount side
    * narrow matters: DECIMAL(19,6)*(DECIMAL(20,6)) would exceed DuckDB's
    * 38-digit multiply width and error out.
    */
  private def revenue: Column =
    col("l_extendedprice").cast("decimal(18,6)") *
      (lit(1).cast("decimal(7,6)") - col("l_discount").cast("decimal(7,6)"))

  private val revenueSql =
    "CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(7,6)) - CAST(l_discount AS DECIMAL(7,6)))"

  val all: Seq[QueryDef] = Seq(

    // TPC-H Q9 shape: profit by nation and order-year. The lineitem⋈orders
    // edge is fact-fact (600k ⋈ 150k at sf0.1; neither side broadcastable
    // at real scale) and carries an explicit merge hint so the plan is the
    // one a 100 TB run would use: both facts hash-partitioned on orderkey,
    // SortMergeJoin, THEN broadcast-hash dims (part/supplier/nation) on the
    // already-joined stream. AQE can still demote to broadcast at toy SFs
    // without the hint — pinning it keeps the benchmarked plan honest.
    QueryDef(
      "x40_q9_profit",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .select("l_orderkey", "l_partkey", "l_suppkey",
            "l_extendedprice", "l_discount")
        val ord = Tables.orders(s, dir).select("o_orderkey", "o_orderdate")
        li.hint("merge")
          .join(ord.hint("merge"), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.part(s, dir)
              .filter(col("p_type").startsWith("STANDARD"))
              .select("p_partkey")),
            col("l_partkey") === col("p_partkey"))
          .join(broadcast(Tables.supplier(s, dir)
              .select("s_suppkey", "s_nationkey")),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables.nation(s, dir)
              .select("n_nationkey", "n_name")),
            col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name").as("nation"),
            year(col("o_orderdate")).cast("long").as("o_year"))
          // The exact sum carries scale 12 from the product; narrowed to
          // scale 4 (lossless — revenue has <= 4 decimal digits) so the
          // decimal's integer representation stays below 2^53 and BOTH
          // engines' decimal→double casts round identically. (At scale 12
          // the representation is ~3.5e19 and DuckDB's conversion goes
          // through an imprecise double divide — off-by-1e-9 vs Spark.)
          .agg(sum(revenue).cast("decimal(28,4)").cast("double").as("profit"),
            count(lit(1)).as("n_items"))
          .orderBy("nation", "o_year")
      },
      Some(s"""SELECT n_name AS nation, year(o_orderdate) AS o_year,
              |       CAST(CAST(sum($revenueSql) AS DECIMAL(28,4)) AS DOUBLE) AS profit,
              |       count(*) AS n_items
              |FROM lineitem
              |JOIN orders   ON l_orderkey = o_orderkey
              |JOIN part     ON l_partkey = p_partkey
              |JOIN supplier ON l_suppkey = s_suppkey
              |JOIN nation   ON s_nationkey = n_nationkey
              |WHERE p_type LIKE 'STANDARD%'
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // TF-IDF keyword extraction, integer-exact: each document's single most
    // characteristic term, ranked by (tf DESC, df ASC, term ASC) — the
    // tf-idf ordering for any monotone idf, expressed on the raw integers
    // so the cross-engine hash never touches a transcendental (ln differs
    // by an ulp between libm and the JVM). (No df-stopword cutoff: this
    // corpus's 31-term vocabulary has near-uniform df, so a cutoff either
    // keeps everything or drops whole documents; df ASC in the ranking is
    // what does the idf work.) Scale: tf is one shuffle on (doc, term),
    // df one on term, ranking a WindowGroupLimit-pruned row_number — no
    // O(corpus) state anywhere.
    QueryDef(
      "x41_top_tfidf_term",
      (s, dir) => {
        val toks = Tables.documents(s, dir).select(col("doc_id"),
          explode(TextOps.tokenArray(col("text"))).as("term"))
        val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id")
          .orderBy(col("tf").desc, col("df").asc, col("term").asc)
        tf.join(dfreq, "term")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("doc_id", "term", "tf", "df")
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, term, tf, df FROM (
              |  SELECT doc_id, term, tf, df,
              |         row_number() OVER (PARTITION BY doc_id
              |                            ORDER BY tf DESC, df ASC, term ASC) AS rn
              |  FROM (
              |    SELECT doc_id, term, count(*) AS tf,
              |           CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS df
              |    FROM (
              |      SELECT doc_id, unnest(${TextOps.tokenArraySql}) AS term
              |      FROM documents) tk
              |    GROUP BY 1, 2) tfd) ranked
              |WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // Repetition-based quality gate (the Gopher-style "top 2-gram ratio"
    // filter): a document whose most frequent bigram exceeds 20% of its
    // bigrams is boilerplate/spam-shaped. Integer arithmetic end-to-end
    // (top*5 > total ⇔ ratio > 0.2) — no float in the gate. Scale: one
    // shuffle on (doc, bigram), one on doc; both keys well-distributed.
    QueryDef(
      "x42_bigram_repetition",
      (s, dir) =>
        TextAnalysis.bigramCounts(Tables.documents(s, dir))
          .groupBy("doc_id")
          .agg(max(col("c")).as("top_cnt"), sum(col("c")).as("total"))
          .select(col("doc_id"), col("top_cnt"), col("total"),
            TextAnalysis.topBigramRepetitive(col("top_cnt"), col("total")).as("repetitive"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id, top_cnt, total,
              |       ${TextAnalysis.topBigramRepetitiveSql("top_cnt", "total")} AS repetitive
              |FROM (
              |  SELECT doc_id, max(c) AS top_cnt, CAST(sum(c) AS BIGINT) AS total
              |  FROM (
              |    ${TextAnalysis.bigramCountsSql}) g
              |  GROUP BY 1) agg
              |ORDER BY doc_id""".stripMargin)),

    // Unpivot (wide→long, the inverse of x32's pivot): three lineitem
    // measures melted into (metric, val) rows, then aggregated per metric.
    // Decimal sums use scale 2 (lossless — source doubles carry <= 2dp)
    // so the total's integer representation stays below 2^53 for a
    // faithful double cast in both engines. Scale: the unpivot is a
    // narrow 3× row expansion fused into the scan projection — no shuffle
    // before the partial aggregate.
    QueryDef(
      "x45_unpivot",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .select("l_quantity", "l_extendedprice", "l_discount")
          .unpivot(Array.empty[Column],
            Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
            "metric", "val")
          .groupBy("metric")
          .agg(dsum(col("val"), 2).as("total"), count(lit(1)).as("cnt"))
          .orderBy("metric"),
      Some(s"""SELECT metric, ${dsumSql("val", 2)} AS total, count(*) AS cnt
              |FROM (
              |  SELECT 'l_quantity' AS metric, l_quantity AS val FROM lineitem
              |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
              |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem) u
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Full-outer join: per-user high-value click counts vs high-value
    // error counts — users with only one activity kind survive on either
    // side, keys coalesce, counts default to 0. The one outer-join shape
    // the suite lacked (q10-13 cover inner/semi/anti; x20/x21 cover
    // asof/range). The value>95 cut makes the strata sparse enough that
    // one-sided users genuinely exist at every SF (every user has every
    // event type unfiltered, which would degenerate to an inner join).
    QueryDef(
      "x46_full_outer",
      (s, dir) => {
        val ev = Tables.events(s, dir).filter(col("value") > 95)
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id").as("cu")).agg(count(lit(1)).as("clicks"))
        val errors = ev.filter(col("event_type") === "error")
          .groupBy(col("user_id").as("eu")).agg(count(lit(1)).as("errors"))
        clicks.join(errors, col("cu") === col("eu"), "full_outer")
          .select(coalesce(col("cu"), col("eu")).as("user_id"),
            coalesce(col("clicks"), lit(0L)).as("clicks"),
            coalesce(col("errors"), lit(0L)).as("errors"))
          .orderBy("user_id")
      },
      Some("""SELECT COALESCE(c.cu, e.eu) AS user_id,
             |       COALESCE(c.clicks, 0) AS clicks,
             |       COALESCE(e.errors, 0) AS errors
             |FROM (SELECT user_id AS cu, count(*) AS clicks FROM events
             |      WHERE event_type = 'click' AND value > 95 GROUP BY 1) c
             |FULL OUTER JOIN
             |     (SELECT user_id AS eu, count(*) AS errors FROM events
             |      WHERE event_type = 'error' AND value > 95 GROUP BY 1) e
             |  ON c.cu = e.eu
             |ORDER BY user_id""".stripMargin)),

    // Analytic rank family: percent_rank / cume_dist / ntile over a
    // deterministic total order (value, event_id — no ties, so both
    // engines' rank semantics coincide and the emitted ratios are single
    // exact divisions of small integers). Limited to the first 1000
    // events for a bounded gate; the window itself runs over all rows.
    QueryDef(
      "x47_window_ranks",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type")
          .orderBy(col("value").asc, col("event_id").asc)
        Tables.events(s, dir)
          .select(col("event_id"), col("event_type"),
            percent_rank().over(w).as("pr"),
            cume_dist().over(w).as("cd"),
            ntile(4).over(w).cast("long").as("quartile"))
          .orderBy("event_id")
          .limit(1000)
      },
      Some("""SELECT event_id, event_type,
             |       percent_rank() OVER w AS pr,
             |       cume_dist()    OVER w AS cd,
             |       CAST(ntile(4) OVER w AS BIGINT) AS quartile
             |FROM events
             |WINDOW w AS (PARTITION BY event_type ORDER BY value ASC, event_id ASC)
             |ORDER BY event_id LIMIT 1000""".stripMargin)),

    // Sliding (hopping) windows: 1-hour windows every 30 minutes — each
    // event lands in exactly 2 windows. Spark's window() handles the
    // assignment natively; the oracle materializes the same two windows
    // per event as a UNION ALL of the aligned and the -30min-shifted
    // truncation. Same plan runs incrementally under Structured Streaming
    // (x17 is the tumbling special case). Counts only — integer-exact.
    QueryDef(
      "x48_sliding_window",
      (s, dir) =>
        Tables.events(s, dir)
          // window over NTZ directly: tz-free bucket alignment (a CAST to
          // TIMESTAMP here would shift buckets by the session offset).
          .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
            col("event_type"))
          .agg(count(lit(1)).as("c"))
          .select(graft.functions.TimeCols.ntzEpochMicros("w.start").as("start_us"),
            col("event_type"), col("c"))
          .orderBy("start_us", "event_type"),
      Some("""SELECT epoch_us(ws) AS start_us, event_type, count(*) AS c
             |FROM (
             |  SELECT date_trunc('hour', ts)
             |           + CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE
             |                  ELSE INTERVAL 0 MINUTE END AS ws,
             |         event_type FROM events
             |  UNION ALL
             |  SELECT date_trunc('hour', ts)
             |           + CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE
             |                  ELSE INTERVAL 0 MINUTE END - INTERVAL 30 MINUTE AS ws,
             |         event_type FROM events) sw
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Approximate per-group quantile with a verified error bound — the
    // x16 pattern applied to percentile_approx: the query emits the exact
    // interpolated median (both engines agree on quantile_cont) plus a
    // boolean asserting the sketch's answer lands within the exact p40-p60
    // band; the oracle asserts `true`. An out-of-band sketch hash-fails
    // the gate instead of hiding behind a rows-only check.
    QueryDef(
      "x49_approx_quantile",
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy("event_type")
          .agg(percentile_approx(col("value"), lit(0.5), lit(10000)).as("apx"),
            expr("percentile(value, 0.5)").as("exact_med"),
            expr("percentile(value, 0.4)").as("p40"),
            expr("percentile(value, 0.6)").as("p60"))
          .select(col("event_type"), col("exact_med"),
            (col("apx") >= col("p40") && col("apx") <= col("p60")).as("within_band"))
          .orderBy("event_type"),
      Some("""SELECT event_type, quantile_cont(value, 0.5) AS exact_med,
             |       true AS within_band
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // regexp_extract_all: pull every digit run out of the raw props
    // payload as an array column (the extraction sibling of x37's
    // redaction — together they are the scrub/harvest pair a PII pass
    // needs). Codegen'd regex per row, no shuffle before the limit.
    QueryDef(
      "x53_regex_extract",
      (s, dir) =>
        Tables.events(s, dir)
          .select(col("event_id"),
            // Stringified (array_join) because the driver's pandas harness
            // cannot sort ARRAY-typed result columns.
            array_join(regexp_extract_all(col("props"), lit("[0-9]+"), lit(0)),
              ",").as("nums"),
            size(regexp_extract_all(col("props"), lit("[0-9]+"), lit(0)))
              .cast("long").as("n_nums"))
          .orderBy("event_id")
          .limit(1000),
      Some("""SELECT event_id,
             |       array_to_string(regexp_extract_all(props, '[0-9]+'), ',') AS nums,
             |       CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_nums
             |FROM events ORDER BY event_id LIMIT 1000""".stripMargin)),

    // Null-safe equality join (<=> / IS NOT DISTINCT FROM): a label
    // dimension where the NULL key row legitimately matches NULL-keyed
    // facts — the semantics a plain equi-join silently drops. Spark plans
    // the <=> predicate as a hashable EqualNullSafe key, so this stays a
    // real hash join, not a cartesian filter.
    QueryDef(
      "x54_nullsafe_join",
      (s, dir) => {
        import s.implicits._
        val dim = Seq(
          (Option("click"), "interaction"), (Option("view"), "interaction"),
          (Option("purchase"), "conversion"), (Option("signup"), "conversion"),
          (Option.empty[String], "failure")).toDF("et_dim", "label")
        Tables.events(s, dir)
          .withColumn("et",
            when(col("event_type") === "error", lit(null)).otherwise(col("event_type")))
          .join(dim, col("et") <=> col("et_dim"))
          .groupBy("label").agg(count(lit(1)).as("c"))
          .orderBy("label")
      },
      Some("""SELECT label, count(*) AS c
             |FROM (SELECT CASE WHEN event_type = 'error' THEN NULL
             |             ELSE event_type END AS et FROM events) e
             |JOIN (VALUES ('click', 'interaction'), ('view', 'interaction'),
             |             ('purchase', 'conversion'), ('signup', 'conversion'),
             |             (NULL, 'failure')) d(et_dim, label)
             |  ON e.et IS NOT DISTINCT FROM d.et_dim
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Bounded sliding window frame (ROWS 3 PRECEDING): per-user moving
    // average over the last 4 events. The moving SUM runs on exact
    // decimals (frame content is deterministic, but double accumulation
    // order inside a frame is not guaranteed identical across engines);
    // the average is then ONE double division on both sides. q14 covers
    // the unbounded cumulative frame; this covers the bounded one.
    QueryDef(
      "x57_moving_avg",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")
          .orderBy(col("us"), col("event_id"))
          .rowsBetween(-3, 0)
        Tables.events(s, dir)
          .withColumn("us", graft.functions.TimeCols.ntzEpochMicros("ts"))
          .select(col("event_id"),
            (sum(col("value").cast("decimal(18,6)")).over(w).cast("double")
              / count(lit(1)).over(w)).as("mavg"))
          .orderBy("event_id")
          .limit(1000)
      },
      Some("""SELECT event_id,
             |       CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
             |         / count(*) OVER w AS mavg
             |FROM (SELECT *, epoch_us(ts) AS us FROM events) e
             |WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
             |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
             |ORDER BY event_id LIMIT 1000""".stripMargin)),

    // Array aggregation: the distinct-set-per-group rendering
    // (collect_set + sort for determinism). x28 covers array SCALAR
    // functions; this covers building arrays BY aggregation.
    QueryDef(
      "x58_array_agg",
      (s, dir) =>
        Tables.events(s, dir)
          .filter(col("user_id") < 100)
          .groupBy("user_id")
          // Stringified (array_join) because the driver's pandas harness
          // cannot sort ARRAY-typed result columns; the aggregation itself
          // is still collect_set + sort_array.
          .agg(array_join(sort_array(collect_set(col("event_type"))), ",")
              .as("types"),
            count(lit(1)).as("n"))
          .orderBy("user_id"),
      Some("""SELECT user_id,
             |       array_to_string(list_sort(list_distinct(list(event_type))), ',') AS types,
             |       count(*) AS n
             |FROM events WHERE user_id < 100
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // The textual SQL entry point: the same engine surface through
    // spark.sql(...) over registered temp views (TPC-H Q4 shape) —
    // proving the library's tables and determinism recipes compose with
    // the SQL API, not just the DataFrame DSL.
    QueryDef(
      "x59_sql_api",
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("g_orders")
        Tables.lineitem(s, dir).createOrReplaceTempView("g_lineitem")
        s.sql("""SELECT o_orderpriority, count(*) AS n_orders
                |FROM g_orders
                |WHERE o_orderdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00'
                |  AND o_orderdate <  TIMESTAMP_NTZ '1996-04-01 00:00:00'
                |  AND EXISTS (SELECT 1 FROM g_lineitem
                |              WHERE l_orderkey = o_orderkey
                |                AND l_shipdate > o_orderdate)
                |GROUP BY o_orderpriority
                |ORDER BY o_orderpriority""".stripMargin)
      },
      Some("""SELECT o_orderpriority, count(*) AS n_orders
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             |  AND o_orderdate <  TIMESTAMP '1996-04-01'
             |  AND EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey
             |                AND l_shipdate > o_orderdate)
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // Temporal scalar family: extract/diff/truncate arithmetic on order
    // dates — all integer-exact (year/quarter/month/day-of-week ints,
    // datediff in whole days), so the hash gate is immune to interval
    // semantics. Spark's dayofweek is 1=Sunday; DuckDB's dayofweek is
    // 0=Sunday — aligned via (dow % 7) + 1 on the DuckDB side.
    QueryDef(
      "x60_date_funcs",
      (s, dir) =>
        Tables.orders(s, dir)
          .select(col("o_orderkey"),
            year(col("o_orderdate")).cast("long").as("y"),
            quarter(col("o_orderdate")).cast("long").as("q"),
            month(col("o_orderdate")).cast("long").as("m"),
            dayofweek(col("o_orderdate")).cast("long").as("dow"),
            datediff(lit("1998-01-01").cast("date"),
              col("o_orderdate").cast("date")).cast("long").as("days_to_98"))
          .orderBy("o_orderkey")
          .limit(1000),
      Some("""SELECT o_orderkey,
             |       year(o_orderdate) AS y,
             |       quarter(o_orderdate) AS q,
             |       month(o_orderdate) AS m,
             |       CAST((dayofweek(o_orderdate) % 7) + 1 AS BIGINT) AS dow,
             |       CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS BIGINT) AS days_to_98
             |FROM orders ORDER BY o_orderkey LIMIT 1000""".stripMargin)),

    // Correlated scalar subquery: each order's most expensive line item.
    // Catalyst decorrelates the subquery into an aggregate + join — the
    // rewrite that makes per-row subqueries viable at scale (a naive
    // per-row execution would be O(orders × lineitem)).
    QueryDef(
      "x61_corr_subquery",
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("g_orders2")
        Tables.lineitem(s, dir).createOrReplaceTempView("g_lineitem2")
        s.sql("""SELECT o_orderkey,
                |       (SELECT max(l_extendedprice) FROM g_lineitem2
                |        WHERE l_orderkey = o_orderkey) AS max_price
                |FROM g_orders2
                |ORDER BY o_orderkey LIMIT 1000""".stripMargin)
      },
      Some("""SELECT o_orderkey,
             |       (SELECT max(l_extendedprice) FROM lineitem
             |        WHERE l_orderkey = o_orderkey) AS max_price
             |FROM orders
             |ORDER BY o_orderkey LIMIT 1000""".stripMargin)),

    // Latest-record-per-key compaction (the CDC/upsert dedup shape: keep
    // each key's most recent row). row_number over (key ORDER BY time
    // DESC) = 1 — Spark prunes per-partition with WindowGroupLimit before
    // the shuffle, so the reducer sees one candidate per key per map
    // partition, not the full history. THE standard warehouse compaction
    // at any scale.
    QueryDef(
      "x62_latest_per_key",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id", "event_type")
          .orderBy(col("us").desc, col("event_id").desc)
        Tables.events(s, dir)
          .withColumn("us", graft.functions.TimeCols.ntzEpochMicros("ts"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("user_id", "event_type", "event_id", "us")
          .orderBy("user_id", "event_type")
      },
      Some("""SELECT user_id, event_type, event_id, us FROM (
             |  SELECT user_id, event_type, event_id, us,
             |         row_number() OVER (PARTITION BY user_id, event_type
             |                            ORDER BY us DESC, event_id DESC) AS rn
             |  FROM (SELECT *, epoch_us(ts) AS us FROM events) e) ranked
             |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin)),

    // Frequent-items sketch (Misra-Gries via stat.freqItems) with the
    // x16/x49 verified-bound pattern: every event type carries ~20%
    // frequency, far above the 10% support, so the sketch's guarantee
    // (freq > support ⇒ included) makes "all exact distinct types appear
    // in the sketch result" a hard invariant the oracle asserts. The
    // single sketch row crossing the driver is an aggregate, not data.
    QueryDef(
      "x63_freq_items",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val sketch = ev.stat.freqItems(Array("event_type"), 0.1)
          .collect()(0).getSeq[String](0)
        ev.select(col("event_type").as("t")).distinct()
          .select(col("t"),
            array_contains(typedLit(sketch), col("t")).as("in_sketch"))
          .orderBy("t")
      },
      Some("SELECT DISTINCT event_type AS t, true AS in_sketch FROM events ORDER BY 1"))
  )
}
