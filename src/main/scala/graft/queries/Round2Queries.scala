package graft.queries

import graft.{QueryDef, Tables}
import graft.QueryDef.{dsum, dsumSql}
import graft.operators.{Skew, TextOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-2 additions: native session windows, deterministic sampling,
  * pivot, exact order statistics, moment-based statistics over exact
  * decimal sums, skew-salted aggregation as a verified query, and the
  * string-similarity / redaction / n-gram text operators a training-data
  * pipeline needs beyond round 1's coverage.
  *
  * Reference tie-in: all of these are stage computations a user of
  * biewers2/async-pipes would write as hand-rolled closures over a stateful
  * stage (`/root/reference/src/lib.rs:140-187`); here each is a declarative
  * Spark plan that Catalyst can push down, reorder, and scale out.
  */
object Round2Queries {

  private def eventsUs(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).withColumn("us",
      graft.functions.TimeCols.ntzEpochMicros("ts"))

  private val eventsUsSql =
    "SELECT *, epoch_us(ts) AS us FROM events"

  /** Deterministic 32-bit LCG over a bigint key — identical arithmetic in
    * Spark and DuckDB, so a "random" sample is reproducible cross-engine
    * AND cross-run. At 100 TB this is the only sampling that survives task
    * retries: rand()-based sampling resamples on recompute (same failure
    * class as a positional salt), a content-hash predicate does not.
    *
    * The key is reduced mod 2^31 BEFORE the multiply: the max intermediate
    * is (2^31-1)*1103515245 + 12345 ≈ 2.4e18 < 2^63-1, so the arithmetic
    * never overflows int64 for ANY bigint key. (An unreduced key overflows
    * at key >= ~8.4e9 — exactly the 100 TB row-count regime — where DuckDB
    * raises and non-ANSI Spark silently wraps: crash on one engine,
    * divergent sample on the other.)
    */
  private def lcgPct(key: Column): Column =
    (((key % lit(2147483648L)) * lit(1103515245L) + lit(12345L))
      % lit(2147483648L)) % lit(100)

  private def lcgPctSql(key: String): String =
    s"(((($key % 2147483648) * 1103515245 + 12345) % 2147483648) % 100)"

  val all: Seq[QueryDef] = Seq(

    // Native session windows (Spark's session_window, batch mode) — the
    // built-in rendering of x19's hand-rolled gaps-and-islands. Semantics:
    // an event extends the session while its gap to the PREVIOUS event is
    // strictly < 30 min (windows [t, t+gap) merge on overlap); session end
    // = last event + gap. Scale: one shuffle on user_id, state is one
    // window per open session — this exact plan runs incrementally under
    // Structured Streaming.
    QueryDef(
      "x30_session_window",
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(col("user_id"),
            // session_window over NTZ directly: buckets computed on the
            // tz-free local micros, so a non-UTC session can't shift them.
            session_window(col("ts"), "30 minutes").as("sw"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            graft.functions.TimeCols.ntzEpochMicros("sw.start").as("start_us"),
            graft.functions.TimeCols.ntzEpochMicros("sw.end").as("end_us"),
            col("n_events"))
          .orderBy("user_id", "start_us"),
      Some(s"""SELECT user_id, min(us) AS start_us,
              |       max(us) + 1800000000 AS end_us, count(*) AS n_events
              |FROM (
              |  SELECT user_id, us,
              |         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
              |                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
              |  FROM (
              |    SELECT user_id, event_id, us,
              |           CASE WHEN lag(us, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
              |                  THEN 1
              |                WHEN us - lag(us, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) >= 1800000000
              |                  THEN 1
              |                ELSE 0 END AS is_new
              |    FROM ($eventsUsSql) e) flagged) sessions
              |GROUP BY user_id, session_id ORDER BY user_id, start_us""".stripMargin)),

    // Stratified deterministic sampling: 50% of purchases, 5% of the rest,
    // selected by the LCG predicate above. The per-stratum rate is a plain
    // CASE, so Catalyst pushes the whole predicate to the scan.
    QueryDef(
      "x31_strat_sample",
      (s, dir) =>
        Tables.events(s, dir)
          .filter(lcgPct(col("event_id")) <
            when(col("event_type") === "purchase", 50).otherwise(5))
          .select("event_id", "event_type", "user_id")
          .orderBy("event_id"),
      Some(s"""SELECT event_id, event_type, user_id FROM events
              |WHERE ${lcgPctSql("event_id")} <
              |      CASE WHEN event_type = 'purchase' THEN 50 ELSE 5 END
              |ORDER BY event_id""".stripMargin)),

    // Pivot (wide aggregation): daily event counts, one column per event
    // type. Fixed pivot values keep the schema static (no extra pass to
    // discover values — required for a deterministic 100 TB plan); missing
    // cells coalesce to 0 to match SQL conditional aggregation.
    QueryDef(
      "x32_pivot",
      (s, dir) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val pivoted = Tables.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .pivot("event_type", types)
          .agg(count(lit(1)))
        types.foldLeft(pivoted)((df, t) =>
            df.withColumn(t, coalesce(col(t), lit(0L))))
          .orderBy("day")
      },
      Some("""SELECT CAST(ts AS DATE) AS day,
             |       count(*) FILTER (WHERE event_type = 'click')    AS click,
             |       count(*) FILTER (WHERE event_type = 'error')    AS error,
             |       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
             |       count(*) FILTER (WHERE event_type = 'signup')   AS signup,
             |       count(*) FILTER (WHERE event_type = 'view')     AS view
             |FROM events GROUP BY 1 ORDER BY day""".stripMargin)),

    // Exact per-group median (interpolated, the quantile_cont/median
    // definition both engines share). Inputs carry <=2 decimal digits and
    // the midpoint of two doubles is a single IEEE op — bit-stable.
    QueryDef(
      "x33_median",
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy("event_type")
          .agg(median(col("value")).as("med"), count(lit(1)).as("cnt"))
          .orderBy("event_type"),
      Some("""SELECT event_type, median(value) AS med, count(*) AS cnt
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Moment-based statistics (stddev, Pearson correlation) derived from
    // EXACT decimal power sums, with the final formula evaluated in double
    // with identical parenthesization in both engines. Spark's built-in
    // stddev/corr stream doubles in partition order (nondeterministic at
    // scale); routing the moments through decimals makes the statistic
    // bit-stable under any partitioning — the same trick as QueryDef.dsum.
    // Oracle-side inputs are DECIMAL(19,6), not 18: DuckDB multiplies
    // DECIMAL(18) in int64 (l_extendedprice² overflows it); width >= 19
    // forces HUGEINT arithmetic. Spark promotes the product to
    // DECIMAL(37,12) on its own, so both engines sum exactly.
    QueryDef(
      "x34_moment_stats",
      (s, dir) => {
        val q = col("l_quantity").cast("decimal(18,6)")
        val p = col("l_extendedprice").cast("decimal(18,6)")
        Tables.lineitem(s, dir)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).cast("double").as("n"),
            sum(q).cast("double").as("sx"), sum(q * q).cast("double").as("sxx"),
            sum(p).cast("double").as("sy"), sum(p * p).cast("double").as("syy"),
            sum(q * p).cast("double").as("sxy"))
          .select(col("l_returnflag"),
            sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              / (col("n") * (col("n") - lit(1.0)))).as("sd_qty"),
            ((col("n") * col("sxy") - col("sx") * col("sy"))
              / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
                * sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("corr_qp"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |       sqrt((n * sxx - sx * sx) / (n * (n - 1.0))) AS sd_qty,
             |       ((n * sxy - sx * sy)
             |         / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))) AS corr_qp
             |FROM (
             |  SELECT l_returnflag,
             |         CAST(count(*) AS DOUBLE) AS n,
             |         CAST(sum(q) AS DOUBLE) AS sx, CAST(sum(q * q) AS DOUBLE) AS sxx,
             |         CAST(sum(p) AS DOUBLE) AS sy, CAST(sum(p * p) AS DOUBLE) AS syy,
             |         CAST(sum(q * p) AS DOUBLE) AS sxy
             |  FROM (SELECT l_returnflag, CAST(l_quantity AS DECIMAL(19,6)) AS q,
             |               CAST(l_extendedprice AS DECIMAL(19,6)) AS p
             |        FROM lineitem) c GROUP BY 1) m
             |ORDER BY l_returnflag""".stripMargin)),

    // Skew-salted two-phase aggregation as a VERIFIED query: the salted
    // partial/final plan must produce exactly the plain groupBy result.
    // (Deterministic content-derived salt — see Skew.saltedAgg's notes on
    // the SPARK-23207 retry hazard.)
    QueryDef(
      "x35_salted_agg",
      (s, dir) =>
        Skew.saltedAgg(Tables.events(s, dir), col("user_id"), col("value"))
          .orderBy("k"),
      Some(s"""SELECT user_id AS k, ${dsumSql("value")} AS total, count(*) AS cnt
              |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Edit-distance similarity between adjacent documents (prefix-bounded
    // Levenshtein — the O(len²) DP cost is capped at 60 chars/doc, the
    // standard trick for edit-distance prefilters at corpus scale).
    QueryDef(
      "x36_levenshtein",
      (s, dir) => {
        val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        d.as("a").join(d.as("b"), col("b.doc_id") === col("a.doc_id") + lit(1L))
          .select(col("a.doc_id").as("doc_id"),
            levenshtein(substring(col("a.text"), 1, 60),
              substring(col("b.text"), 1, 60)).cast("long").as("dist"))
          .orderBy("doc_id")
      },
      Some("""SELECT a.doc_id AS doc_id,
             |       CAST(levenshtein(substr(a.text, 1, 60), substr(b.text, 1, 60)) AS BIGINT) AS dist
             |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
             |ORDER BY doc_id""".stripMargin)),

    // Redaction (PII-scrub shape): mask every digit run in the raw props
    // payload. One codegen'd regexp_replace per row — the same operator
    // masks emails/SSNs at scale; digits are what this corpus contains.
    QueryDef(
      "x37_redact",
      (s, dir) =>
        Tables.events(s, dir)
          .select(col("event_id"),
            regexp_replace(col("props"), "[0-9]+", "#").as("redacted"))
          .orderBy("event_id")
          .limit(1000),
      Some("""SELECT event_id, regexp_replace(props, '[0-9]+', '#', 'g') AS redacted
             |FROM events ORDER BY event_id LIMIT 1000""".stripMargin)),

    // Top-20 bigram counts: n-gram frequency analysis (the 2-gram sibling
    // of x02's 3-gram shingles, counted rather than joined). The token
    // array is projected ONCE, then paired with its own 1-shifted slice —
    // `transform(sequence)(element_at(toks,...))` re-evaluated the
    // split+filter per bigram when CollapseProject inlined it (4.4 s at
    // sf0.1 → the r2 bench's slowest query); zip_with over two slices
    // references `toks` from a materialized projection instead.
    QueryDef(
      "x38_bigrams",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(TextOps.tokenArray(col("text")).as("toks"))
          .select(explode(TextOps.bigramArray(col("toks"))).as("bigram"))
          .groupBy("bigram").agg(count(lit(1)).as("c"))
          .orderBy(desc("c"), col("bigram"))
          .limit(20),
      Some(s"""SELECT bigram, count(*) AS c FROM (
              |  SELECT unnest(${TextOps.bigramArraySql}) AS bigram
              |  FROM (SELECT ${TextOps.tokenArraySql} AS toks
              |        FROM documents) t) b
              |GROUP BY bigram ORDER BY c DESC, bigram LIMIT 20""".stripMargin))
  )
}
