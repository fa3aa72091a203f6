package graft.queries

import graft.{Checkpoints, QueryDef, Tables}
import graft.operators.{LineOps, TextAnalysis, TextOps}
import org.apache.spark.sql.functions._

/** Round-6b: ordered-sequence analytics over the events stream.
  *
  * x142 is the classic multi-step funnel (view → click → purchase with
  * strictly increasing timestamps per user). The relational rendering
  * chains per-step minimum timestamps through equi-joins on user_id —
  * step k's input is only the survivors of step k-1, so each stage
  * SHRINKS; no window over the whole event history, no per-user
  * event-list materialization. At 100 TB each stage is one hash
  * aggregate + one hash join on user_id, all map-side combinable, and
  * the funnel depth is the number of stages, not a data-dependent loop.
  * Conversion ratios are per-10k integer floor-divisions (house
  * determinism rule).
  */
object Round6bQueries {

  private val steps = Seq("view", "click", "purchase")

  private def funnel(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val ev = Tables.events(s, dir).select("user_id", "event_type", "ts")
    // Per-step first-reach times, each conditioned on the previous step.
    val reached = steps.zipWithIndex.scanLeft(Option.empty[org.apache.spark.sql.DataFrame]) {
      case (prev, (step, i)) =>
        val base = ev.filter(col("event_type") === step)
        val gated = prev match {
          case None    => base
          case Some(p) => base.join(p, "user_id").filter(col("ts") > col(s"t$i"))
        }
        // Materialized (r16): step i feeds step i+1's gate AND its own
        // count AND (step 1) the base — lazily the funnel re-ran the
        // whole prefix per consumer (7 event scans in one plan).
        Some(Checkpoints.local(
          gated.groupBy("user_id").agg(min("ts").as(s"t${i + 1}"))))
    }.flatten
    val counts = reached.zipWithIndex.map { case (df, i) =>
      df.agg(count(lit(1)).as("users"))
        .select(lit(i + 1).as("step"), lit(steps(i)).as("event_type"), col("users"))
    }.reduce(_ unionByName _)
    val base = reached.head.agg(count(lit(1)).as("base"))
    counts.crossJoin(broadcast(base))
      .select(col("step"), col("event_type"), col("users"),
        expr("(users * 10000) div base").as("conv_per_10k"))
      .orderBy("step")
  }

  private[queries] val funnelSql =
    """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
      |            WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN s1 USING (user_id)
      |       WHERE event_type = 'click' AND ts > t1 GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN s2 USING (user_id)
      |       WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1),
      |c AS (SELECT 1 AS step, 'view' AS event_type, count(*) AS users FROM s1
      |      UNION ALL SELECT 2, 'click', count(*) FROM s2
      |      UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
      |SELECT step, event_type, CAST(users AS BIGINT) AS users,
      |       CAST(users * 10000 // (SELECT users FROM c WHERE step = 1) AS BIGINT) AS conv_per_10k
      |FROM c ORDER BY step""".stripMargin

  /** x144: PageRank over the part co-purchase graph (parts sharing an
    * order), 3 unrolled iterations, EXACT integer arithmetic.
    *
    * Two scale decisions make this the plan you'd run at 100 TB:
    * (1) edge generation self-joins on l_orderkey, so fan-out per order
    * is |items|² — bounded by basket size (a constant), linear overall,
    * never corpus-quadratic; (2) each iteration is one equi-join on the
    * node key + one hash aggregate, and the iteration COUNT is fixed and
    * unrolled into the plan — no driver-side loop state, no action per
    * step (contrast x43's convergence loop, which needs one 1-row probe
    * per round because its stopping rule is data-dependent).
    *
    * The round is [[graft.operators.GraphLoops.pagerankRound]] (graph,
    * checkpoints and broadcast gate documented there), the one body its
    * tolerance-driven twin `GraphLoops.pagerankConverged` runs under the
    * fixpoint loop; here the three rounds compose lazily into ONE plan,
    * so no iterate is checkpointed.
    *
    * Determinism: ranks are 10^6-scaled integers; per-edge contributions
    * use integer division (`div` truncation = DuckDB `//` floor on
    * non-negatives), so every engine computes identical ranks — the same
    * reason x127/x125 use integer ratios instead of doubles. Isolated
    * parts (never co-ordered) have no edges and are excluded from the
    * node set by construction.
    */
  private def pagerank(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val (r0, round) = graft.operators.GraphLoops.pagerankRound(s, dir)
    graft.operators.GraphLoops.pagerankTop20(
      (1 to 3).foldLeft(r0)((r, _) => round(r)))
  }

  private def prStep(prev: String, cur: String): String =
    s"""$cur AS (
       |  SELECT n.node,
       |         150000 + (850000 * coalesce(sum(c.contrib), 0)) // 1000000 AS r
       |  FROM nodes n LEFT JOIN (
       |    SELECT e.dst AS node, r.r // d.outdeg AS contrib
       |    FROM edges e JOIN $prev r ON e.src = r.node JOIN deg d ON e.src = d.src) c
       |    USING (node) GROUP BY 1)""".stripMargin

  private val pagerankSql =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |edges AS (SELECT DISTINCT a.p AS src, b.p AS dst
       |          FROM op a JOIN op b ON a.o = b.o AND a.p <> b.p),
       |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
       |${prStep("r0", "r1")},
       |${prStep("r1", "r2")},
       |${prStep("r2", "r3")}
       |SELECT node AS part_id, CAST(r AS BIGINT) AS rank_scaled
       |FROM r3 ORDER BY rank_scaled DESC, part_id LIMIT 20""".stripMargin

  /** x145/x146: sequence mining over the per-user event stream. Both ride
    * ONE window shape — partition by user_id, order by (ts, event_id) —
    * so the sort amortizes at 100 TB exactly like x15/x19: partitions are
    * bounded by per-user history, never corpus-sized; everything after
    * the lead() is a tiny hash aggregate (|event_types|^k rows).
    */
  private def pathWindow = org.apache.spark.sql.expressions.Window
    .partitionBy("user_id").orderBy("ts", "event_id")

  private def eventPaths(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("e2", lead("event_type", 1).over(pathWindow))
      .withColumn("e3", lead("event_type", 2).over(pathWindow))
      .filter(col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path")).limit(10)

  private val eventPathsSql =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |         lead(event_type, 1) OVER w AS e2,
      |         lead(event_type, 2) OVER w AS e3
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT event_type || '>' || e2 || '>' || e3 AS path,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM seq WHERE e3 IS NOT NULL
      |GROUP BY 1 ORDER BY n DESC, path LIMIT 10""".stripMargin

  private def markov(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val tr = Tables.events(s, dir)
      .select(col("user_id"), col("event_type").as("src"), col("ts"), col("event_id"))
      .withColumn("dst", lead("src", 1).over(pathWindow))
      .filter(col("dst").isNotNull)
    tr.groupBy("src", "dst").agg(count(lit(1)).as("n"))
      .withColumn("tot", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")))
      .select(col("src"), col("dst"), col("n"),
        expr("(n * 10000) div tot").as("p_per_10k"))
      .orderBy("src", "dst")
  }

  private val markovSql =
    """WITH tr AS (
      |  SELECT event_type AS src,
      |         lead(event_type, 1) OVER (PARTITION BY user_id
      |                                   ORDER BY ts, event_id) AS dst
      |  FROM events),
      |c AS (SELECT src, dst, count(*) AS n FROM tr
      |      WHERE dst IS NOT NULL GROUP BY 1, 2)
      |SELECT src, dst, CAST(n AS BIGINT) AS n,
      |       CAST(n * 10000 // sum(n) OVER (PARTITION BY src) AS BIGINT) AS p_per_10k
      |FROM c ORDER BY src, dst""".stripMargin

  /** x147: per-source quality quota — the RefinedWeb-style "best N per
    * domain" cap. rank-then-filter compiles to WindowGroupLimit
    * (plan-audited), so each source's per-partition buffer holds at most
    * N rows BEFORE the exchange — the shuffle carries N·|sources| rows,
    * not the corpus. The x08 quality score supplies the ordering key.
    */
  private def sourceQuota(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, dir)
    val q = graft.operators.TextAnalysis.qualityScore(docs)
      .select("doc_id", "quality")
    docs.select("doc_id", "source").join(q, "doc_id")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")
          .orderBy(col("quality").desc, col("doc_id"))).cast("long"))
      .filter(col("rk") <= 40)
      .select("doc_id", "source", "quality", "rk")
      .orderBy("source", "rk")
  }

  private val sourceQuotaSql =
    s"""SELECT doc_id, source, quality, rk FROM (
       |  SELECT d.doc_id, d.source, q.quality,
       |         row_number() OVER (PARTITION BY d.source
       |                            ORDER BY q.quality DESC, d.doc_id) AS rk
       |  FROM documents d
       |  JOIN (${graft.operators.TextAnalysis.qualityScoreSql}) q
       |    ON d.doc_id = q.doc_id) r
       |WHERE rk <= 40 ORDER BY source, rk""".stripMargin

  /** x148: classifier-monitoring — the lang-ID confusion matrix
    * (labeled lang × x07 prediction, per-10k recall split per label
    * row). The eval every production quality/language classifier ships
    * with; one |langs|²-sized aggregate after the x07 pass, shuffle
    * bounded by label cardinality.
    */
  private def langConfusion(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, dir)
    val pred = graft.operators.TextAnalysis.langId(docs)
      .select("doc_id", "pred_lang")
    docs.select("doc_id", "lang").join(pred, "doc_id")
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      .withColumn("tot", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("lang")))
      .select(col("lang"), col("pred_lang"), col("n"),
        expr("(n * 10000) div tot").as("per_10k"))
      .orderBy("lang", "pred_lang")
  }

  private val langConfusionSql =
    s"""WITH pred AS (${graft.operators.TextAnalysis.langIdSql})
       |SELECT d.lang, p.pred_lang, CAST(count(*) AS BIGINT) AS n,
       |       CAST(count(*) * 10000 // sum(count(*)) OVER (PARTITION BY d.lang) AS BIGINT) AS per_10k
       |FROM documents d JOIN pred p USING (doc_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** x150: cohort retention matrix — users grouped by first-activity day,
    * per-10k retention at each day offset. Cohort starts are STAGGERED
    * deterministically (a user's events only count from day-of-month >
    * user_id % 14 — the derived-fixture pattern) so the matrix has real
    * cohort structure on the synthetic stream. Two hash aggregates + one
    * equi-join on user_id; DATE-typed cohort keys and datediff day
    * offsets keep both engines integer-exact.
    */
  private def retention(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"), col("ts"))
      .filter(dayofmonth(col("ts")) > pmod(col("user_id"), lit(14)))
    val first = ev.groupBy("user_id").agg(to_date(min("ts")).as("cohort_day"))
    val act = ev.join(first, "user_id")
      .select(col("user_id"), col("cohort_day"),
        datediff(to_date(col("ts")), col("cohort_day")).cast("long").as("days_since"))
      .distinct()
    val size = first.groupBy("cohort_day").agg(count(lit(1)).as("n0"))
    act.groupBy("cohort_day", "days_since").agg(count(lit(1)).as("active"))
      .join(size, "cohort_day")
      .select(col("cohort_day"), col("days_since"), col("active"),
        expr("(active * 10000) div n0").as("retained_per_10k"))
      .orderBy("cohort_day", "days_since")
  }

  private val retentionSql =
    """WITH ev AS (
      |  SELECT user_id, ts FROM events WHERE extract(day FROM ts) > user_id % 14),
      |first AS (
      |  SELECT user_id, CAST(date_trunc('day', min(ts)) AS DATE) AS cohort_day
      |  FROM ev GROUP BY 1),
      |act AS (
      |  SELECT DISTINCT e.user_id, f.cohort_day,
      |         CAST(date_diff('day', f.cohort_day,
      |                        CAST(date_trunc('day', e.ts) AS DATE)) AS BIGINT) AS days_since
      |  FROM ev e JOIN first f USING (user_id)),
      |sz AS (SELECT cohort_day, count(*) AS n0 FROM first GROUP BY 1)
      |SELECT a.cohort_day, a.days_since, CAST(count(*) AS BIGINT) AS active,
      |       CAST(count(*) * 10000 // any_value(s.n0) AS BIGINT) AS retained_per_10k
      |FROM act a JOIN sz s USING (cohort_day)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** x151: RFM segmentation — recency/frequency/monetary quintiles per
    * user, reported as segment-cell user counts. NO global window: the
    * quintile bounds come from a bounded, md5-deterministic user sample
    * (target ~256 users; modulus `greatest(1, n div 256)` derived from
    * the exact user count, so the sample stays ~fixed-size at any n —
    * at test SFs below 256 users the modulus is 1 and the path is
    * exact). Cutpoints are exact integer-rank discrete quantiles of the
    * sample, computed relationally: per-dim value histogram → cumulative
    * count via a tiny self-join (sample-bounded, ≤ a few hundred
    * distinct values) → `min v with 5·cum(v) ≥ k·n_s` (the SQL-standard
    * percentile_disc rule in pure integer arithmetic, so both engines
    * agree bit-for-bit). The 12 cutpoints broadcast to a map-side
    * bucket assignment; the only data-sized shuffles are the two hash
    * aggregates (per-user metrics, segment cells). Monetary is bucketed
    * in exact floor-cents (DECIMAL path) so no float crosses the gate.
    * This is the 100 TB-shaped swap the r6 verdict asked for — the old
    * three unpartitioned ntile(5) windows sorted every user on one
    * partition, three times. RfmCutpointSpec certifies the sampled
    * cutpoints against the full-population exact ranks.
    */
  /** Per-user RFM metrics melted to (user_id, dim, v) — all BIGINT
    * (monetary in exact floor-cents) so one generic cutpoint pipeline
    * serves all three dimensions. Shared by [[rfm]] and RfmCutpointSpec.
    */
  private[graft] def rfmMetricsLong(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val m = Tables.events(s, dir).groupBy("user_id").agg(
      datediff(lit("2024-02-01").cast("date"), to_date(max("ts")))
        .cast("long").as("r"),
      count(lit(1)).as("f"),
      floor(sum(col("value").cast("decimal(18,6)")) * 100).cast("long").as("mo"))
    m.select(col("user_id"), explode(array(
        struct(lit("r").as("dim"), col("r").as("v")),
        struct(lit("f").as("dim"), col("f").as("v")),
        struct(lit("m").as("dim"), col("mo").as("v")))).as("dv"))
      .select(col("user_id"), col("dv.dim").as("dim"), col("dv.v").as("v"))
  }

  /** Sampled exact-rank quintile cutpoints (dim, k, cut), k = 1..4.
    * Sample: md5-derived integer hash mod `greatest(1, n div 256)` — a
    * ~256-user deterministic sample at any scale. Cutpoint: the
    * SQL-standard percentile_disc rule `min v with 5·cum(v) ≥ k·n_s` in
    * pure integer arithmetic over a sample-bounded histogram self-join.
    */
  private[graft] def rfmCutpoints(s: org.apache.spark.sql.SparkSession,
      longDf: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val sMod = longDf.filter(col("dim") === "r")
      .agg(count(lit(1)).as("n"))
      .select(greatest(lit(1L), expr("n div 256")).as("s"))
    val h = conv(substring(md5(col("user_id").cast("string").cast("binary")),
      1, 8), 16, 10).cast("long")
    // ~256-user sample; two aggregate consumers
    val samp = Checkpoints.local(longDf.crossJoin(broadcast(sMod)).filter(h % col("s") === 0))
    val ns = samp.groupBy("dim").agg(count(lit(1)).as("ns"))
    val hist = samp.groupBy("dim", "v").agg(count(lit(1)).as("c"))
    val cum = hist.as("a").join(hist.as("b"),
        col("a.dim") === col("b.dim") && col("b.v") <= col("a.v"))
      .groupBy(col("a.dim").as("dim"), col("a.v").as("v"))
      .agg(sum(col("b.c")).as("cum"))
    val ks = s.range(1, 5).select(col("id").as("k"))
    cum.join(ns, "dim").crossJoin(broadcast(ks))
      .filter(col("cum") * 5 >= col("k") * col("ns"))
      .groupBy("dim", "k").agg(min("v").as("cut"))
  }

  private def rfm(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    // Materialized (r16): the long metric table feeds the cutpoint
    // derivation (itself 3 consumers) AND the quintile assignment —
    // lazily the per-user events aggregate re-ran per consumer (7 scans
    // / 17 exchanges in one plan). user_id×3 thin rows.
    val longDf = Checkpoints.local(rfmMetricsLong(s, dir))
    val cuts = rfmCutpoints(s, longDf)
    // Map-side quintile assignment: r ascending (1 = most recent),
    // f/m descending (1 = highest) — same orientation as the old ntile.
    val bq = longDf.join(broadcast(cuts), Seq("dim"), "left")
      .groupBy("user_id").agg(
        (lit(1) + sum(when(col("dim") === "r" && col("v") > col("cut"), 1)
          .otherwise(0))).cast("long").as("r_q"),
        (lit(1) + sum(when(col("dim") === "f" && col("v") < col("cut"), 1)
          .otherwise(0))).cast("long").as("f_q"),
        (lit(1) + sum(when(col("dim") === "m" && col("v") < col("cut"), 1)
          .otherwise(0))).cast("long").as("m_q"))
    bq.groupBy("r_q", "f_q", "m_q").agg(count(lit(1)).as("users"))
      .orderBy("r_q", "f_q", "m_q")
  }

  private val rfmSql =
    """WITH m AS (
      |  SELECT user_id,
      |         CAST(date_diff('day', CAST(date_trunc('day', max(ts)) AS DATE),
      |                        DATE '2024-02-01') AS BIGINT) AS r,
      |         CAST(count(*) AS BIGINT) AS f,
      |         CAST(floor(sum(CAST(value AS DECIMAL(18,6))) * 100) AS BIGINT) AS mo
      |  FROM events GROUP BY 1),
      |lg AS (
      |  SELECT user_id, 'r' AS dim, r AS v FROM m
      |  UNION ALL SELECT user_id, 'f', f FROM m
      |  UNION ALL SELECT user_id, 'm', mo FROM m),
      |sm AS (SELECT greatest(1, count(*) // 256) AS s FROM m),
      |samp AS (SELECT lg.* FROM lg, sm
      |         WHERE CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
      |               % sm.s = 0),
      |ns AS (SELECT dim, CAST(count(*) AS BIGINT) AS ns FROM samp GROUP BY 1),
      |hist AS (SELECT dim, v, CAST(count(*) AS BIGINT) AS c FROM samp GROUP BY 1, 2),
      |cum AS (SELECT a.dim, a.v, CAST(sum(b.c) AS BIGINT) AS cum
      |        FROM hist a JOIN hist b ON a.dim = b.dim AND b.v <= a.v
      |        GROUP BY 1, 2),
      |ks AS (SELECT * FROM (VALUES (1), (2), (3), (4)) t(k)),
      |cuts AS (SELECT c.dim, k.k, min(c.v) AS cut
      |         FROM cum c JOIN ns USING (dim) CROSS JOIN ks k
      |         WHERE c.cum * 5 >= k.k * ns.ns GROUP BY 1, 2),
      |bq AS (SELECT l.user_id,
      |              CAST(1 + sum(CASE WHEN l.dim = 'r' AND l.v > c.cut
      |                           THEN 1 ELSE 0 END) AS BIGINT) AS r_q,
      |              CAST(1 + sum(CASE WHEN l.dim = 'f' AND l.v < c.cut
      |                           THEN 1 ELSE 0 END) AS BIGINT) AS f_q,
      |              CAST(1 + sum(CASE WHEN l.dim = 'm' AND l.v < c.cut
      |                           THEN 1 ELSE 0 END) AS BIGINT) AS m_q
      |       FROM lg l LEFT JOIN cuts c ON l.dim = c.dim
      |       GROUP BY 1)
      |SELECT r_q, f_q, m_q, CAST(count(*) AS BIGINT) AS users
      |FROM bq GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** DEGREE orientation of an undirected (u < v) edge list: each edge is
    * directed from its endpoint with smaller (degree, id) to the larger —
    * a strict total order, so every triangle still has exactly one acyclic
    * orientation and the count is unchanged vs id orientation. What
    * changes is the wedge bound: wedges centered at m number
    * in(m)·out(m), and id orientation leaves a power-law hub with ~d/2
    * in-edges AND ~d/2 out-edges → d²/4 wedges at ONE vertex (the r8
    * verdict's acknowledged 100× scale-killer). Degree orientation points
    * every hub edge INTO the hub (it has maximal degree), so in·out = 0
    * there, and globally the oriented out-degree is O(√|E|) — the
    * classical Ortmann/Brandes bound. Degree is one aggregate self-join —
    * deterministic, DuckDB-replayable.
    */
  private def orientByDegree(und0: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // The undirected edge set feeds THREE plan arms (both halves of the
    // degree union + the orientation join base). Without materialization
    // each arm re-derives it from scratch — for the co-purchase input
    // that is the lineitem self-join + two DISTINCTs, re-run 3× (the
    // x144 lesson; measured on the r9 skew pair, where it inverted the
    // x162-vs-x163 adjudication by overcharging exactly the degree
    // variant this operator exists to make cheap).
    val und = Checkpoints.local(und0)
    // deg is |V| rows: materialize it once (its two join arms would each
    // re-run the aggregate — checkpointed inputs carry no stats, so
    // Catalyst can neither share nor size the subtree) and byte-gate a
    // broadcast under the SAME bar as the closing probe (r16 guide §3.1:
    // both orientation joins were SortMergeJoins that exchanged the FULL
    // edge list twice to meet a |V|-sized side; |V| ≤ 2|E|, so whenever
    // the edge list itself is broadcastable the degree table certainly
    // is). Past the bar the joins fall back to the shuffle plan — the
    // 100 TB behavior is unchanged.
    val (deg, nDeg) = Checkpoints.counted(und.select(col("u").as("x"))
      .unionAll(und.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("d")))
    val s = und.sparkSession
    val degBytes = nDeg * 16L
    val bar = graft.operators.Dedup.effectiveBroadcastBar(s)
    def degSide(k: String, d: String) = {
      val side = deg.select(col("x").as(k), col("d").as(d))
      graft.operators.Dedup.gatedBroadcast(side, degBytes, bar)
    }
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = und.join(degSide("u", "du"), "u")
      .join(degSide("v", "dv"), "v")
      .select(when(uFirst, col("u")).otherwise(col("v")).as("lo"),
        when(uFirst, col("v")).otherwise(col("u")).as("hi"))
      .select(col("lo").as("u"), col("hi").as("v"))
    // The orientation is materialized here (wedgeTriangles reads it as
    // is), so und and deg have no consumer left: release them now rather
    // than when the query's scope ends.
    val out = Checkpoints.local(oriented)
    Seq(und, deg).foreach(Checkpoints.release)
    out
  }

  /** Wedge-join triangle count over an ORIENTED edge list, with the
    * byte-gated closing-probe broadcast.
    *
    * The wedge set (e1⋈e2) is the big intermediate — ~Σ in(v)·out(v)
    * rows. When the edge list fits the broadcast bar, BROADCAST the
    * closing-edge probe so wedges never shuffle (measured at sf0.1:
    * broadcast 7.0-8.7 s vs shuffle-join fallback 23.5 s in-suite —
    * the wedge exchange is the whole delta). But an unconditional
    * broadcast is a scale-killer — ~10⁸ edges at 100× is GBs shipped
    * to every executor — so gate on MEASURED edge bytes (the x05
    * switch idiom). The bar is NOT the 10 MB auto-join default: that
    * bar prices an arbitrary unknown-width plan, while this side is a
    * known 16 B/edge packed relation whose alternative is shuffling
    * the far larger wedge set — so the bar is
    * `Dedup.effectiveBroadcastBar` (64 MB of raw edge bytes ≈ 4 M edges
    * at Spark's default threshold), while
    * autoBroadcastJoinThreshold=-1 (broadcast disabled session-wide)
    * is respected absolutely. Past the bar, the closing probe becomes
    * a plain shuffle join on (u, v), co-partitioned with the wedge
    * output (AQE can still re-broadcast from MEASURED runtime sizes —
    * the safe direction). Count is cheap: `e` is localCheckpointed, so
    * it scans materialized blocks, not the orientation lineage. Both
    * branches share the oracle. The oriented list feeds three join arms
    * → materialized once, not re-derived per arm (the x144 lesson).
    */
  /** Returns `(e, closed)` where `closed` is one row per triangle with a
    * single column `apex` (= the wedge center e1.u — the orientation's
    * source, exactly what the callers aggregate).
    *
    * r16 rework, measured at sf0.1 (1.2M edges, ~50M wedges):
    *  - The closing probe was the bottleneck, NOT the wedge join: a
    *    two-column join key builds a generic `UnsafeHashedRelation`
    *    (row-hash + row-equality per probe — ~5 s for 50M probes), while
    *    PACKING (u, v) into one 64-bit key gets the dense
    *    `LongHashedRelation` (~1 s). The pack is injective whenever both
    *    endpoints fit unsigned 32 bits — gated on the MEASURED id bounds
    *    (same action as the edge count), falling back to the exact
    *    two-key plan on any graph with wider ids.
    *  - The probe is a LEFT SEMI (the closing edge either exists or not;
    *    `e` is a distinct pair set, so inner-join multiplicity is
    *    provably 1 — identical row count, and the semi form lets the
    *    join stop at the first match).
    *  - The wedge join broadcasts its build side under the same byte
    *    gate as the probe (measured: BHJ 1.3 s vs SMJ 2.5 s for the
    *    enumeration — the SMJ buffers every duplicate-key group).
    * Past the byte gate every join falls back to the shuffle plan (the
    * 100 TB shape: wedges never materialize driver-side either way), and
    * autoBroadcastJoinThreshold=-1 disables every hint absolutely.
    */
  private def wedgeTriangles(s: org.apache.spark.sql.SparkSession,
      oriented: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    // orientByDegree already returns a checkpointed frame, which
    // Checkpoints.local hands back without a second materialization pass.
    val e = Checkpoints.local(oriented)
    val st = e.agg(count(lit(1)), min(col("u")), max(col("u")),
      min(col("v")), max(col("v"))).head()
    val edgeBytes = st.getLong(0) * 16L
    val fitsPacked = !st.isNullAt(1) && st.getLong(1) >= 0L &&
      st.getLong(3) >= 0L && st.getLong(2) < (1L << 32) &&
      st.getLong(4) < (1L << 32)
    val bar = graft.operators.Dedup.effectiveBroadcastBar(s)
    def gated(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.gatedBroadcast(d, edgeBytes, bar)
    def pk(u: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column) =
      shiftleft(u, 32).bitwiseOR(v)
    val wedges = e.as("e1")
      .join(gated(e.as("e2")), col("e1.v") === col("e2.u"))
      .select(col("e1.u").as("apex"), col("e2.v").as("w"))
    val closed =
      if (fitsPacked)
        wedges.join(gated(e.select(pk(col("u"), col("v")).as("cpk"))),
          pk(col("apex"), col("w")) === col("cpk"), "left_semi")
      else
        wedges.join(gated(e.select(col("u").as("cu"), col("v").as("cw"))),
          col("cu") === col("apex") && col("cw") === col("w"), "left_semi")
    (e, closed)
  }

  /** x152: triangle count on the co-purchase graph via DEGREE-oriented
    * edges ([[orientByDegree]]) and the byte-gated wedge join
    * ([[wedgeTriangles]]). The apex of a triangle is its min-(degree, id)
    * vertex — the orientation's source — replayed identically by the
    * oracle's degree CTE.
    */
  private def triangles(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    // Edge base from the shared per-run co-purchase table (r11 verdict
    // #4); since r16 the skew pair x162/x163 rides it too — see
    // [[skewedEdges]].
    val (_, closed) = wedgeTriangles(s,
      orientByDegree(graft.operators.CoPurchaseGraph.undirected(s, dir)))
    closed.agg(count(lit(1)).as("triangles"),
      countDistinct(col("apex")).as("apex_nodes"))
  }

  private val trianglesSql =
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |und AS (SELECT DISTINCT a.p AS u, b.p AS v
      |        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
      |deg AS (SELECT x, count(*) AS d
      |        FROM (SELECT u AS x FROM und UNION ALL SELECT v AS x FROM und)
      |        GROUP BY 1),
      |e AS (SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND und.u < und.v)
      |                  THEN und.u ELSE und.v END AS u,
      |             CASE WHEN du.d < dv.d OR (du.d = dv.d AND und.u < und.v)
      |                  THEN und.v ELSE und.u END AS v
      |      FROM und JOIN deg du ON und.u = du.x JOIN deg dv ON und.v = dv.x),
      |t AS (SELECT e1.u FROM e e1 JOIN e e2 ON e1.v = e2.u
      |      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
      |SELECT CAST(count(*) AS BIGINT) AS triangles,
      |       CAST(count(DISTINCT u) AS BIGINT) AS apex_nodes FROM t""".stripMargin

  /** x162/x163: the orientation-skew demonstrator pair (the x133/x134
    * idiom — same fixture, same oracle, two plans whose measured gap IS
    * the point). The fixture grafts one mid-id hub onto the co-purchase
    * graph: the part with id = |part|/2 gains an edge to every 4th part.
    * Under ID orientation the hub sits in the MIDDLE of the order, so it
    * keeps ~half its spokes incoming and half outgoing → in·out ≈
    * (|spokes|/2)² wedges centered at the hub, quadratic in hub degree —
    * the blow-up a power-law graph hits at 100×. Degree orientation
    * (x163) points every spoke INTO the hub → zero hub-centered wedges.
    * Both orientations count the same triangles, so one oracle hash-gates
    * both; the bench gap (x162 > x163) is the measured adjudication.
    */
  private def skewedEdges(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val parts = Tables.part(s, dir).select(col("p_partkey").as("p"))
    // hub = |part|/2: partkeys are 1..n contiguous, so this is a real
    // mid-order id, derived relationally (no driver-side constant).
    val hub = parts.agg(expr("CAST(count(1) DIV 2 AS BIGINT)").as("h"))
    val spokes = parts.crossJoin(broadcast(hub))
      .filter(col("p") % 4 === 0 && col("p") =!= col("h"))
      .select(least(col("p"), col("h")).as("u"),
        greatest(col("p"), col("h")).as("v"))
    // r16 optimization: the co-purchase base now comes from the shared
    // per-run table (row-identical to [[copurchaseEdges]]: pairWeights'
    // groupBy is the same distinct (u < v) pair set). The r9 isolation
    // rationale — "neither side's measurement depends on suite-level
    // cache state" — is superseded: BOTH sides consume the same
    // materialized base symmetrically, so the A/B gap (wedge volume
    // under id- vs degree-orientation, the pair's entire point) is
    // untouched, while each query stops re-deriving the lineitem
    // self-join the suite already holds (~3 s apiece at sf0.1).
    graft.operators.CoPurchaseGraph.undirected(s, dir)
      .unionByName(spokes).distinct()
  }

  private def trianglesSkewId(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    // id orientation: skewedEdges is already canonicalized u < v.
    val (e, wedges) = wedgeTriangles(s, skewedEdges(s, dir))
    wedges.agg(count(lit(1)).as("triangles"))
      .crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges"))))
  }

  private def trianglesSkewDegree(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val (e, wedges) = wedgeTriangles(s, orientByDegree(skewedEdges(s, dir)))
    wedges.agg(count(lit(1)).as("triangles"))
      .crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges"))))
  }

  // ONE oracle for both orientations (count is orientation-invariant; the
  // oracle itself uses the id orientation its edge CTE already carries).
  private val trianglesSkewSql =
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |und AS (SELECT DISTINCT a.p AS u, b.p AS v
      |        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
      |hub AS (SELECT CAST(count(*) // 2 AS BIGINT) AS h FROM part),
      |spokes AS (SELECT least(p_partkey, h) AS u, greatest(p_partkey, h) AS v
      |           FROM part, hub WHERE p_partkey % 4 = 0 AND p_partkey <> h),
      |e AS (SELECT DISTINCT u, v FROM
      |      (SELECT u, v FROM und UNION ALL SELECT u, v FROM spokes)),
      |t AS (SELECT e1.u FROM e e1 JOIN e e2 ON e1.v = e2.u
      |      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
      |SELECT CAST(count(*) AS BIGINT) AS triangles,
      |       (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges FROM t""".stripMargin

  /** x153: per-source distribution-drift monitor — L1 distance between
    * each source's token distribution and the corpus distribution over
    * the top-30 vocabulary, in per-10k integer space. The data-quality
    * check a corpus intake runs per ingest batch. Scale shape: the vocab
    * is an aggregate (broadcast, the x72 argument), per-source counts
    * are one map-side-combinable groupBy(source, w), and the grid is
    * |sources|×30.
    */
  private def sourceDrift(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    // Materialized (r16): three aggregate consumers (corpus vocab,
    // per-source totals, per-source counts) each re-ran the tokenize
    // pipeline lazily.
    val toks = Checkpoints.local(Tables.documents(s, dir).select(col("source"),
      explode(TextOps.tokenArray(col("text"))).as("w")))
    val corpus = toks.groupBy("w").agg(count(lit(1)).as("c"))
    val total = corpus.agg(sum(col("c")).as("n"))
    val vocab = corpus.crossJoin(broadcast(total))
      .select(col("w"), expr("(c * 10000) div n").as("corpus_per_10k"), col("c"))
      .orderBy(col("c").desc, col("w")).limit(30)
      .select("w", "corpus_per_10k")
    val srcTot = toks.groupBy("source").agg(count(lit(1)).as("n"))
    val srcCnt = toks.groupBy("source", "w").agg(count(lit(1)).as("c"))
    srcTot.crossJoin(broadcast(vocab))
      .join(srcCnt, Seq("source", "w"), "left")
      .select(col("source"),
        abs(expr("(coalesce(c, 0) * 10000) div n") - col("corpus_per_10k"))
          .as("d"))
      .groupBy("source").agg(sum(col("d")).as("l1_drift"))
      .orderBy("source")
  }

  private val sourceDriftSql =
    s"""WITH toks AS (
       |  SELECT source,
       |         unnest(${TextOps.tokenArraySql}) AS w
       |  FROM documents),
       |corpus AS (SELECT w, count(*) AS c FROM toks GROUP BY 1),
       |total AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM corpus),
       |vocab AS (SELECT w, CAST(c * 10000 // (SELECT n FROM total) AS BIGINT) AS corpus_per_10k
       |          FROM corpus ORDER BY c DESC, w LIMIT 30),
       |src_tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY 1),
       |src_cnt AS (SELECT source, w, count(*) AS c FROM toks GROUP BY 1, 2),
       |grid AS (
       |  SELECT st.source, v.w, v.corpus_per_10k,
       |         CAST(coalesce(sc.c, 0) * 10000 // st.n AS BIGINT) AS src_per_10k
       |  FROM src_tot st CROSS JOIN vocab v
       |  LEFT JOIN src_cnt sc ON sc.source = st.source AND sc.w = v.w)
       |SELECT source, CAST(sum(abs(src_per_10k - corpus_per_10k)) AS BIGINT) AS l1_drift
       |FROM grid GROUP BY 1 ORDER BY 1""".stripMargin

  /** x156: the MassiveText-style combined filter as an AUDIT TABLE —
    * per doc, the keep/drop decision with its reason code, reasons
    * applied in a fixed priority order (what a production corpus filter
    * actually ships: not just the surviving docs, the accounting for
    * every dropped one). Composes four already-certified signals — x07
    * language ID, x08 quality, x139 line repetition, x42 top-bigram
    * repetition — each one pass over the token stream; the composition
    * adds three doc_id equi-joins and nothing else.
    */
  private[graft] def filterReport(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, dir)
    val lang = TextAnalysis.langId(docs).select("doc_id", "pred_lang")
    val qual = TextAnalysis.qualityScore(docs).select("doc_id", "quality")
    val reps = LineOps.lineRepetition(docs)
      .select(col("doc_id"), col("dup_line_per_10k"), col("dup_char_per_10k"))
    val big = TextAnalysis.bigramCounts(docs)
      .groupBy("doc_id")
      .agg(TextAnalysis.topBigramRepetitive(max(col("c")), sum(col("c"))).as("big_rep"))
    docs.select("doc_id")
      .join(lang, "doc_id").join(qual, "doc_id")
      .join(reps, "doc_id").join(big, "doc_id")
      .select(col("doc_id"),
        when(col("pred_lang") =!= "en", "non_english")
          .when(col("quality") < 9900, "low_quality")
          .when(col("dup_line_per_10k") > 3000 ||
            col("dup_char_per_10k") > 2000, "repetitive_lines")
          .when(col("big_rep"), "repetitive_ngrams")
          .otherwise("keep").as("reason"))
      .orderBy("doc_id")
  }

  private[queries] val filterReportSql: String =
    s"""WITH lang AS (SELECT doc_id, pred_lang FROM (${TextAnalysis.langIdSql}) l),
       |qual AS (SELECT doc_id, quality FROM (${TextAnalysis.qualityScoreSql}) q),
       |reps AS (SELECT doc_id, dup_line_per_10k, dup_char_per_10k
       |         FROM (${LineOps.lineRepetitionSql}) r),
       |big AS (
       |  SELECT doc_id, ${TextAnalysis.topBigramRepetitiveSql("max(c)", "sum(c)")} AS big_rep FROM (
       |    ${TextAnalysis.bigramCountsSql}) bc
       |  GROUP BY 1)
       |SELECT d.doc_id,
       |       CASE WHEN lang.pred_lang <> 'en' THEN 'non_english'
       |            WHEN qual.quality < 9900 THEN 'low_quality'
       |            WHEN reps.dup_line_per_10k > 3000
       |              OR reps.dup_char_per_10k > 2000 THEN 'repetitive_lines'
       |            WHEN big.big_rep THEN 'repetitive_ngrams'
       |            ELSE 'keep' END AS reason
       |FROM documents d
       |JOIN lang USING (doc_id) JOIN qual USING (doc_id)
       |JOIN reps USING (doc_id) JOIN big USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("x156_filter_report", filterReport, Some(filterReportSql)),
    QueryDef("x153_source_drift", sourceDrift, Some(sourceDriftSql)),
    QueryDef("x142_funnel", funnel, Some(funnelSql)),
    QueryDef("x144_pagerank", pagerank, Some(pagerankSql)),
    QueryDef("x145_event_paths", eventPaths, Some(eventPathsSql)),
    QueryDef("x146_markov", markov, Some(markovSql)),
    QueryDef("x147_source_quota", sourceQuota, Some(sourceQuotaSql)),
    QueryDef("x148_lang_confusion", langConfusion, Some(langConfusionSql)),
    QueryDef("x150_retention", retention, Some(retentionSql)),
    QueryDef("x151_rfm", rfm, Some(rfmSql)),
    QueryDef("x152_triangles", triangles, Some(trianglesSql)),
    QueryDef("x162_triangles_skew_id", trianglesSkewId, Some(trianglesSkewSql)),
    QueryDef("x163_triangles_skew_degree", trianglesSkewDegree,
      Some(trianglesSkewSql)))
}
