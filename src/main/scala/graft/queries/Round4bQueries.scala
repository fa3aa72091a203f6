package graft.queries

import graft.{QueryDef, Tables}
import graft.QueryDef.{dsum, dsumSql}
import graft.operators.TextOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 batch 2: time-series resample + forward-fill, exact discrete
  * percentiles, per-label embedding centroids, CDC-style latest-wins
  * upsert merge, explicit cross-join grid expansion, and deterministic
  * per-source corpus mixing — the remaining analytic shapes a
  * training-data pipeline runs beyond dedup/quality/similarity. Each has
  * a full DuckDB oracle.
  */
object Round4bQueries {

  /** Exact decimal revenue (same choreography as Round4Queries — one
    * factor narrow so DuckDB multiplies inside 38 digits).
    */
  private def revenue: org.apache.spark.sql.Column =
    col("l_extendedprice").cast("decimal(18,6)") *
      (lit(1).cast("decimal(7,6)") - col("l_discount").cast("decimal(7,6)"))

  private val revenueSql =
    "CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(7,6)) - CAST(l_discount AS DECIMAL(7,6)))"

  val all: Seq[QueryDef] = Seq(

    // Hourly resample + forward fill (sensor/time-series alignment): a
    // per-key hourly grid from sequence(), left-joined to the observed
    // hourly aggregate, gaps filled with last-observation-carried-forward
    // (last(_, ignoreNulls) over an ordered per-key window). Scale: the
    // grid is generated per key (narrow), the join and the window both
    // hash-partition on user_id — no global sort, state bounded by key
    // span, and per-key rows (time range / 1h) are bounded regardless of
    // corpus size.
    QueryDef(
      "x75_gapfill",
      (s, dir) => {
        val hourly = Tables.events(s, dir)
          .filter(col("user_id") < 10)
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
          .agg(round(dsum(col("value")), 2).as("s"))
        val grid = hourly.groupBy("user_id")
          .agg(min("h").as("h0"), max("h").as("h1"))
          .select(col("user_id"),
            explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR")))
              .as("h"))
        val w = Window.partitionBy("user_id").orderBy("h")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(hourly, Seq("user_id", "h"), "left")
          .select(col("user_id"), col("h"),
            col("s").isNotNull.as("observed"),
            last(col("s"), ignoreNulls = true).over(w).as("filled"))
          .orderBy("user_id", "h")
      },
      Some(s"""WITH hourly AS (
              |  SELECT user_id, date_trunc('hour', ts) AS h,
              |         round(${dsumSql("value")}, 2) AS s
              |  FROM events WHERE user_id < 10 GROUP BY 1, 2),
              | grid AS (
              |  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
              |  FROM (SELECT user_id, min(h) AS h0, max(h) AS h1
              |        FROM hourly GROUP BY 1))
              |SELECT g.user_id, g.h, s IS NOT NULL AS observed,
              |       last_value(s IGNORE NULLS)
              |         OVER (PARTITION BY g.user_id ORDER BY g.h) AS filled
              |FROM grid g LEFT JOIN hourly USING (user_id, h)
              |ORDER BY 1, 2""".stripMargin)),

    // Exact discrete percentiles (p25/p50/p90 latency-style cuts): DuckDB
    // percentile_disc picks the smallest value whose cumulative rank
    // reaches ceil(p*n) — mirrored here by row_number selection with the
    // index computed in INTEGER arithmetic ((num*n + den-1) DIV den), so
    // no floating-point boundary can disagree between engines. One
    // shuffle on the group key; the per-group sort is the same work the
    // exact percentile fundamentally needs.
    QueryDef(
      "x76_percentile_disc",
      (s, dir) => {
        val w = Window.partitionBy("event_type")
          .orderBy(col("value"), col("event_id"))
        val ranked = Tables.events(s, dir)
          .select(col("event_type"), col("value"),
            row_number().over(w).as("rn"),
            count(lit(1)).over(Window.partitionBy("event_type")).as("n"))
        ranked.groupBy("event_type")
          .agg(
            max(when(expr("rn = (n + 3) DIV 4"), col("value"))).as("p25"),
            max(when(expr("rn = (n + 1) DIV 2"), col("value"))).as("p50"),
            max(when(expr("rn = (9 * n + 9) DIV 10"), col("value"))).as("p90"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type,
             |       percentile_disc(0.25) WITHIN GROUP (ORDER BY value) AS p25,
             |       percentile_disc(0.5)  WITHIN GROUP (ORDER BY value) AS p50,
             |       percentile_disc(0.9)  WITHIN GROUP (ORDER BY value) AS p90
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Per-label embedding centroid, one row per (label, dimension):
    // posexplode → groupBy(label, pos) → exact decimal sum / count, with
    // the mean as ONE double division of exact quantities (the x72
    // trick). Scale: the explode is narrow, the aggregate is map-side
    // combinable on (label, pos) — |labels|×|dims| cells total, no
    // per-vector state anywhere. This is the k-means update step / class
    // prototype computation over an embedding corpus.
    QueryDef(
      "x77_embedding_centroid",
      (s, dir) => Tables.embeddings(s, dir)
        .select(col("label"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("label"), (col("pos") + 1).cast("long").as("pos"))
        .agg(count(lit(1)).as("n"),
          (dsum(col("x").cast("double")).cast("double") /
            count(lit(1))).as("c"))
        .orderBy("label", "pos"),
      Some(s"""SELECT label, pos, count(*) AS n,
              |       CAST(${dsumSql("CAST(x AS DOUBLE)")} AS DOUBLE) / count(*) AS c
              |FROM (SELECT label, unnest(embedding) AS x,
              |             generate_subscripts(embedding, 1) AS pos
              |      FROM embeddings) e
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // CDC latest-wins upsert merge: fold the newest change-record per key
    // (latest order, deterministic ties on o_orderkey) into the base
    // dimension — the incremental-refresh MERGE a warehouse runs,
    // rendered as window-top-1 + left join + coalesce. Scale: ONE
    // shuffle of the fact on the merge key serves both the top-1 window
    // and the per-key count; the dim join is the usual broadcast/SMJ
    // choice left to the planner.
    QueryDef(
      "x78_upsert_merge",
      (s, dir) => {
        val wk = Window.partitionBy("o_custkey")
          .orderBy(desc("o_orderdate"), desc("o_orderkey"))
        val latest = Tables.orders(s, dir)
          .select(col("o_custkey"), col("o_totalprice"),
            row_number().over(wk).as("rn"),
            count(lit(1)).over(Window.partitionBy("o_custkey")).as("n"))
          .filter(col("rn") === 1)
        Tables.customer(s, dir)
          .join(latest, col("c_custkey") === col("o_custkey"), "left")
          .select(col("c_custkey"), col("c_name"),
            coalesce(col("o_totalprice"), col("c_acctbal")).as("balance"),
            coalesce(col("n"), lit(0L)).as("n_orders"))
          .orderBy("c_custkey")
      },
      Some("""WITH l AS (
             |  SELECT * FROM (
             |    SELECT o_custkey, o_totalprice,
             |           row_number() OVER (PARTITION BY o_custkey
             |             ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn,
             |           count(*) OVER (PARTITION BY o_custkey) AS n
             |    FROM orders) WHERE rn = 1)
             |SELECT c_custkey, c_name,
             |       COALESCE(o_totalprice, c_acctbal) AS balance,
             |       COALESCE(n, 0) AS n_orders
             |FROM customer LEFT JOIN l ON c_custkey = o_custkey
             |ORDER BY 1""".stripMargin)),

    // Explicit cartesian product (grid expansion): every region paired
    // with every event-type aggregate — the label-grid / hyperparameter-
    // sweep shape. Both sides are AGGREGATES (tiny at any corpus size),
    // so the product is a BroadcastNestedLoopJoin of two broadcastable
    // inputs — the only safe cross-join shape at 100 TB, and the plan
    // audit pins it.
    QueryDef(
      "x79_cross_join",
      (s, dir) => {
        val regions = Tables.region(s, dir).select("r_regionkey", "r_name")
        val et = Tables.events(s, dir)
          .groupBy("event_type").agg(count(lit(1)).as("n_events"))
        regions.crossJoin(et)
          .select(col("r_regionkey"), col("r_name"), col("event_type"),
            col("n_events"))
          .orderBy("r_regionkey", "event_type")
      },
      Some("""SELECT r_regionkey, r_name, event_type, n_events
             |FROM region CROSS JOIN (
             |  SELECT event_type, count(*) AS n_events
             |  FROM events GROUP BY 1) et
             |ORDER BY 1, 3""".stripMargin)),

    // Deterministic per-source corpus mixing (the "data mixture" pass an
    // LLM run applies before training): each source gets a configured
    // keep-fraction ((suffix mod 4 + 1)/4 here), applied with an
    // md5-derived per-doc uniform compared in PURE INTEGER space
    // (u32 < frac * 2^32) — reproducible across engines, partitionings,
    // and retries, with zero floating point in the predicate. Narrow
    // map+filter at the scan; nothing shuffles until the caller does.
    QueryDef(
      "x80_source_mix",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), col("source"))
        .withColumn("u",
          conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8),
            16, 10).cast("long"))
        .withColumn("keep_num",
          (substring(col("source"), 4, 10).cast("long") % 4 + 1) * 1073741824L)
        .filter(col("u") < col("keep_num"))
        .select("doc_id", "source")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, source FROM documents
             |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
             |      < (CAST(substr(source, 4) AS BIGINT) % 4 + 1) * 1073741824
             |ORDER BY 1""".stripMargin)),

    // TPC-H Q18 (large-volume customers): HAVING-subquery semi join onto
    // the fact, customer dim joined after, top-100 by order value.
    // l_quantity is integral, so double sums are exact and
    // order-independent — no decimal choreography needed. Scale shape:
    // the qualifying-orders set is an aggregate (tiny) → broadcast semi
    // join; the final top-100 is TakeOrdered, not a global sort.
    QueryDef(
      "x82_tpch_q18",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val big = li.groupBy("l_orderkey")
          .agg(sum("l_quantity").as("sq"))
          .filter(col("sq") > 280).select("l_orderkey")
        val ord = Tables.orders(s, dir)
          .join(broadcast(big), col("o_orderkey") === big("l_orderkey"),
            "left_semi")
        ord
          .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
          .join(li, col("o_orderkey") === col("l_orderkey"))
          .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice")
          .agg(sum("l_quantity").as("sum_qty"))
          .orderBy(desc("o_totalprice"), asc("o_orderdate"), asc("o_orderkey"))
          .limit(100)
      },
      Some("""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
             |       sum(l_quantity) AS sum_qty
             |FROM customer
             |JOIN orders   ON c_custkey = o_custkey
             |JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE o_orderkey IN (
             |  SELECT l_orderkey FROM lineitem
             |  GROUP BY 1 HAVING sum(l_quantity) > 280)
             |GROUP BY 1, 2, 3, 4, 5
             |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
             |LIMIT 100""".stripMargin)),

    // RANGE-interval window frame (trailing 1-hour per-user stats): the
    // time-based sibling of x57's ROWS frame — the frame is defined by an
    // event-time span, not a row count. Spark's rangeBetween needs a
    // numeric order key, so the frame runs over integer epoch-micros
    // (exact; interval arithmetic in µs on both engines). Partitioned by
    // user — no single-partition window at any scale.
    QueryDef(
      "x83_range_frame",
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("tsu"))
          .rangeBetween(-3600000000L, 0L)
        Tables.events(s, dir)
          .withColumn("tsu", graft.functions.TimeCols.ntzEpochMicros("ts"))
          .select(col("event_id"), col("user_id"),
            count(lit(1)).over(w).as("n_1h"),
            round(sum(col("value").cast("decimal(18,6)")).over(w)
              .cast("double"), 2).as("sv_1h"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
             |       count(*) OVER w AS n_1h,
             |       round(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE), 2) AS sv_1h
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts
             |             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
             |ORDER BY event_id""".stripMargin)),

    // Ordered string aggregation (the LISTAGG shape): per user, the
    // sorted distinct high-value event types as one delimited string —
    // rendered order-deterministically on both engines
    // (array_sort(collect_set(...)) vs string_agg(DISTINCT ... ORDER BY)).
    // Map-side combinable; state per group is bounded by the type
    // vocabulary.
    QueryDef(
      "x84_string_agg",
      (s, dir) => Tables.events(s, dir)
        .filter(col("value") > 95)
        .groupBy("user_id")
        .agg(concat_ws(",", array_sort(collect_set(col("event_type"))))
          .as("types"))
        .orderBy("user_id"),
      Some("""SELECT user_id,
             |       string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types
             |FROM events WHERE value > 95
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Document chunking — the training-prep op that turns long documents
    // into overlapping fixed-width token windows (width 10, stride 5
    // here; width 2048, stride 1024 in a real run). One narrow pass:
    // tokenize, generate chunk starts with sequence(), slice the token
    // array per start — no shuffle, no UDF, and the chunk count per doc
    // is ~len/stride regardless of corpus size. The final start
    // (len - width) is always included even when off-stride, so NO tail
    // token is ever dropped — a coverage law the property spec caught
    // the stride-only version violating.
    QueryDef(
      "x86_chunking",
      (s, dir) => {
        val ts = TextOps.tokenArray(col("text"))
        val cap = greatest(size(col("ts")).cast("long") - 10, lit(0L))
        Tables.documents(s, dir)
          .select(col("doc_id"), ts.as("ts"))
          .select(col("doc_id"), col("ts"),
            explode(array_distinct(concat(
              sequence(lit(0L), cap, lit(5L)), array(cap)))).as("chunk_start"))
          .select(col("doc_id"), col("chunk_start"),
            array_join(slice(col("ts"),
              (col("chunk_start") + 1).cast("int"), lit(10)), " ").as("chunk"))
          .orderBy("doc_id", "chunk_start")
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id,
              |         ${TextOps.tokenArraySql} AS ts
              |  FROM documents),
              | chunks AS (
              |  SELECT doc_id, ts,
              |         unnest(list_distinct(list_append(generate_series(0,
              |           CAST(greatest(len(ts) - 10, 0) AS BIGINT), 5),
              |           CAST(greatest(len(ts) - 10, 0) AS BIGINT)))) AS chunk_start
              |  FROM toks)
              |SELECT doc_id, chunk_start,
              |       array_to_string(list_slice(ts, chunk_start + 1, chunk_start + 10), ' ') AS chunk
              |FROM chunks ORDER BY 1, 2""".stripMargin)),

    // Sequence packing by cumulative token budget, PER SOURCE: each
    // source shard packs its docs (doc_id order) into 512-token bins via
    // a running sum — the deterministic packing pass before batching.
    // The window partitions on source, so no single-partition window
    // exists at any corpus size (global packing would serialize; per-shard
    // packing is what a distributed run does anyway).
    QueryDef(
      "x87_seq_packing",
      (s, dir) => {
        val ts = TextOps.tokenArray(col("text"))
        val w = Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            size(ts).cast("long").as("n_tok"))
          .withColumn("bin",
            (sum(col("n_tok")).over(w) - col("n_tok")).divide(lit(512))
              .cast("long"))
          .orderBy("doc_id")
      },
      Some(s"""WITH n AS (
              |  SELECT doc_id, source,
              |         CAST(len(${TextOps.tokenArraySql}) AS BIGINT) AS n_tok
              |  FROM documents)
              |SELECT doc_id, source, n_tok,
              |       CAST((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id)
              |             - n_tok) // 512 AS BIGINT) AS bin
              |FROM n ORDER BY 1""".stripMargin)),

    // TPC-H Q21 shape (suppliers solely at fault): combined correlated
    // EXISTS + NOT EXISTS on the same fact — the hardest anti-join
    // planning pattern (Spark turns them into one LeftSemi and one
    // LeftAnti over the shared l_orderkey shuffle). Adapted to this
    // schema: a supplier's RETURNED line on a multi-supplier order where
    // no OTHER supplier's line was returned.
    QueryDef(
      "x88_tpch_q21",
      (s, dir) => {
        Tables.lineitem(s, dir).createOrReplaceTempView("g_lineitem")
        s.sql("""SELECT l1.l_suppkey AS suppkey, count(*) AS numwait
                |FROM g_lineitem l1
                |WHERE l1.l_returnflag = 'R'
                |  AND EXISTS (SELECT 1 FROM g_lineitem l2
                |              WHERE l2.l_orderkey = l1.l_orderkey
                |                AND l2.l_suppkey <> l1.l_suppkey)
                |  AND NOT EXISTS (SELECT 1 FROM g_lineitem l3
                |                  WHERE l3.l_orderkey = l1.l_orderkey
                |                    AND l3.l_suppkey <> l1.l_suppkey
                |                    AND l3.l_returnflag = 'R')
                |GROUP BY 1
                |ORDER BY numwait DESC, suppkey
                |LIMIT 20""".stripMargin)
      },
      Some("""SELECT l1.l_suppkey AS suppkey, count(*) AS numwait
             |FROM lineitem l1
             |WHERE l1.l_returnflag = 'R'
             |  AND EXISTS (SELECT 1 FROM lineitem l2
             |              WHERE l2.l_orderkey = l1.l_orderkey
             |                AND l2.l_suppkey <> l1.l_suppkey)
             |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
             |                  WHERE l3.l_orderkey = l1.l_orderkey
             |                    AND l3.l_suppkey <> l1.l_suppkey
             |                    AND l3.l_returnflag = 'R')
             |GROUP BY 1
             |ORDER BY numwait DESC, suppkey
             |LIMIT 20""".stripMargin)),

    // TPC-H Q5 (local supplier volume): the classic 5-way star-plus-
    // colocation join — the c_nationkey = s_nationkey condition makes the
    // customer and supplier arms correlate through the fact, the shape
    // join-order optimizers earn their keep on. Dims broadcast; the
    // orders date filter pushes to the fact scan.
    QueryDef(
      "x90_tpch_q5",
      (s, dir) => {
        val cust = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
        val ord = Tables.orders(s, dir)
          .filter(expr("o_orderdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00'") &&
            expr("o_orderdate < TIMESTAMP_NTZ '1997-01-01 00:00:00'"))
          .select("o_orderkey", "o_custkey")
        val li = Tables.lineitem(s, dir)
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        val supp = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
        val nat = Tables.nation(s, dir).select("n_nationkey", "n_name", "n_regionkey")
        val reg = Tables.region(s, dir)
          .filter(col("r_name") === "ASIA").select("r_regionkey")
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
          .groupBy("n_name")
          .agg(sum(revenue).cast("decimal(28,4)").cast("double").as("revenue"))
          .orderBy(desc("revenue"), asc("n_name"))
      },
      Some(s"""SELECT n_name,
              |       CAST(CAST(sum($revenueSql) AS DECIMAL(28,4)) AS DOUBLE) AS revenue
              |FROM customer
              |JOIN orders   ON c_custkey = o_custkey
              |JOIN lineitem ON l_orderkey = o_orderkey
              |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              |JOIN nation   ON s_nationkey = n_nationkey
              |JOIN region   ON n_regionkey = r_regionkey
              |WHERE r_name = 'ASIA'
              |  AND o_orderdate >= TIMESTAMP '1996-01-01'
              |  AND o_orderdate <  TIMESTAMP '1997-01-01'
              |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin)),

    // TPC-H Q6 (forecasting revenue change): pure scan-filter-aggregate —
    // every predicate pushes to the parquet scan, the aggregate is one
    // partial+final pair, zero joins. The "how fast can you scan"
    // baseline of the suite.
    QueryDef(
      "x91_tpch_q6",
      (s, dir) => Tables.lineitem(s, dir)
        .filter(expr("l_shipdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00'") &&
          expr("l_shipdate < TIMESTAMP_NTZ '1997-01-01 00:00:00'") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast("decimal(18,6)") *
            col("l_discount").cast("decimal(7,6)"))
          .cast("decimal(28,4)").cast("double").as("revenue"),
          count(lit(1)).as("n")),
      Some("""SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))
             |         * CAST(l_discount AS DECIMAL(7,6))) AS DECIMAL(28,4)) AS DOUBLE) AS revenue,
             |       count(*) AS n
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             |  AND l_shipdate <  TIMESTAMP '1997-01-01'
             |  AND l_discount BETWEEN 0.05 AND 0.07
             |  AND l_quantity < 24""".stripMargin)),

    // TPC-H Q10 (returned-item reporting): fact filtered on returnflag,
    // customer + nation dims, top-20 accounts by lost revenue —
    // TakeOrdered, dims broadcast.
    QueryDef(
      "x92_tpch_q10",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .filter(col("l_returnflag") === "R")
          .select("l_orderkey", "l_extendedprice", "l_discount")
        val ord = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
        val cust = Tables.customer(s, dir)
          .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
        val nat = Tables.nation(s, dir).select("n_nationkey", "n_name")
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
          .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
          .agg(sum(revenue).cast("decimal(28,4)").cast("double").as("revenue"))
          .orderBy(desc("revenue"), asc("c_custkey"))
          .limit(20)
      },
      Some(s"""SELECT c_custkey, c_name, c_acctbal, n_name,
              |       CAST(CAST(sum($revenueSql) AS DECIMAL(28,4)) AS DOUBLE) AS revenue
              |FROM lineitem
              |JOIN orders   ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation   ON c_nationkey = n_nationkey
              |WHERE l_returnflag = 'R'
              |GROUP BY 1, 2, 3, 4
              |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin))
  )
}
