package graft.queries

import graft.{Checkpoints, QueryDef, Tables}
import graft.QueryDef.{dsum, dsumSql}
import graft.operators.TextOps
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 batch 4: passage-level dedup (the C4/RefinedWeb unit below
  * whole-document dedup), an explicitly salted skew join, fixed-step graph
  * centrality (the PageRank power-iteration plan kept division-free so the
  * oracle is integer-exact), and winsorized robust aggregation.
  */
object Round5dQueries {

  private def revenue: Column =
    col("l_extendedprice").cast("decimal(18,6)") *
      (lit(1).cast("decimal(7,6)") - col("l_discount").cast("decimal(7,6)"))

  private val revenueSql =
    "CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(7,6)) - CAST(l_discount AS DECIMAL(7,6)))"

  val all: Seq[QueryDef] = Seq(

    // Passage-level exact dedup: cut every document into DISJOINT 10-token
    // passages (stride = width, unlike x86's overlapping training chunks)
    // and count, per doc, how many of its passages also occur verbatim in
    // some OTHER document — the sub-document dedup signal C4-style
    // pipelines act on (x01 dedups whole docs; boilerplate lives at this
    // granularity). Integer-exact. Scale: the only wide exchange is the
    // groupBy(passage) — at 100 TB you'd key it by xxhash64(passage)
    // instead of the text to shrink shuffle bytes (the text key is kept
    // here because the oracle must compute the identical key).
    QueryDef(
      "x113_passage_dedup",
      (s, dir) => {
        val ts = TextOps.tokenArray(col("text"))
        val chunks = Tables.documents(s, dir)
          .select(col("doc_id"), ts.as("ts"))
          .select(col("doc_id"),
            explode(sequence(lit(0L),
              greatest(size(col("ts")).cast("long") - 1, lit(0L)),
              lit(10L))).as("start"),
            col("ts"))
          .select(col("doc_id"), col("start"),
            array_join(slice(col("ts"),
              (col("start") + 1).cast("int"), lit(10)), " ").as("passage"))
        val spread = chunks.groupBy("passage")
          .agg(countDistinct(col("doc_id")).as("nd"))
        chunks.join(spread, "passage")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_passages"),
            sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup"))
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id,
              |         ${TextOps.tokenArraySql} AS ts
              |  FROM documents),
              | c AS (
              |  SELECT doc_id,
              |         unnest(generate_series(0,
              |           CAST(greatest(len(ts) - 1, 0) AS BIGINT), 10)) AS start,
              |         ts
              |  FROM toks),
              | p AS (
              |  SELECT doc_id, start,
              |         array_to_string(list_slice(ts, start + 1, start + 10), ' ')
              |           AS passage
              |  FROM c),
              | spread AS (
              |  SELECT passage, count(DISTINCT doc_id) AS nd FROM p GROUP BY 1)
              |SELECT doc_id, count(*) AS n_passages,
              |       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
              |FROM p JOIN spread USING (passage)
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Explicitly salted join — the generic hot-key defense when the big
    // side of a shuffle join has skewed keys and the small side is too big
    // to broadcast: replicate each dim row S times (salt 0..7), give every
    // fact row a content-derived salt (deterministic on retry — same
    // SPARK-23207 reasoning as x35), join on (key, salt). Each fact row
    // matches exactly ONE replica, so the salt cancels algebraically — the
    // oracle is the PLAIN join, which is precisely the correctness claim
    // salting must prove. Scale: a hot part key now lands on 8 reducers
    // instead of 1; S scales with observed skew. (AQE's skew-join split
    // covers sort-merge plans; explicit salting also covers hash
    // aggregates and grouped joins AQE won't touch.)
    QueryDef(
      "x115_salted_join",
      (s, dir) => {
        val dim = Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand"))
          .withColumn("d_salt", explode(sequence(lit(0L), lit(7L))))
        val fact = Tables.lineitem(s, dir)
          .withColumn("salt",
            pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(8L)))
        fact.join(dim,
            col("l_partkey") === col("p_partkey") &&
              col("salt") === col("d_salt"))
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n"),
            sum(revenue).cast("decimal(28,4)").cast("double").as("rev"))
          .orderBy("p_brand")
      },
      Some(s"""SELECT p_brand, count(*) AS n,
              |       CAST(CAST(sum($revenueSql) AS DECIMAL(28,4)) AS DOUBLE) AS rev
              |FROM lineitem JOIN part ON l_partkey = p_partkey
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Fixed-step graph centrality over the supplier co-supply graph:
    // weight(u,v) = #parts supplied by both, score1 = weighted degree,
    // score2 = one power-iteration step (sum of neighbors' score1 through
    // edge weights) = weighted 2-walk count. This is PageRank's exact
    // plan shape — edge-list matvec: join scores to edges on src,
    // re-aggregate on dst — with the per-step normalization dropped so
    // every value stays integer and the oracle is bit-exact (decimal
    // division rounds differently across engines; x43 label propagation
    // covers iterate-to-convergence, x101 k-means covers iterate-with-
    // division). Scale: matvec shuffles on dst — uniform; the co-supply
    // self-join fans out per part by (suppliers-per-part)², the same
    // bounded blocking factor as x39, capped in production like x52's DF
    // cap.
    QueryDef(
      "x116_graph_centrality",
      (s, dir) => {
        // Incidence factorization — the co-occurrence edge list is NEVER
        // materialized. With B the part×supplier incidence and cnt(p) the
        // part's supplier count:
        //   s1(v) = Σ_{p∋v} (cnt(p) − 1)
        //   s2(v) = Σ_{p∋v} S(p) − nparts(v)·s1(v),  S(p) = Σ_{u∈p} s1(u)
        // (algebra: w = BᵀB − D, scores are w·1 and w·s1). Every pass is
        // LINEAR in |bridge| and shuffles on partkey/suppkey only — the
        // quadratic (suppliers-per-part)² pair fan-out that a
        // materialized-edges plan pays (measured 5.5s at sf0.1; this
        // form ~1s) never happens. The pair-based oracle SQL is kept
        // verbatim, so the hash gate PROVES the factorization. At 100 TB
        // this is the difference between |incidence| and |incidence|×
        // avg-bucket-size shuffle bytes. localCheckpoint: bridge feeds 3
        // passes.
        val bridge = Checkpoints.local(Tables.lineitem(s, dir)
          .select(col("l_partkey"), col("l_suppkey")).distinct())
        val cnt = bridge.groupBy("l_partkey").agg(count(lit(1)).as("c"))
        val s1 = bridge.join(cnt, "l_partkey")
          .groupBy(col("l_suppkey"))
          .agg(sum(col("c") - 1).as("score1"), count(lit(1)).as("nparts"))
        val sp = bridge.join(s1.select(col("l_suppkey"), col("score1")), "l_suppkey")
          .groupBy("l_partkey").agg(sum(col("score1")).as("sp"))
        val s2 = bridge.join(sp, "l_partkey")
          .groupBy(col("l_suppkey")).agg(sum(col("sp")).as("sums"))
        // score1 = 0 ⇔ every part is singly-supplied ⇔ the supplier is
        // ISOLATED in the co-supply graph — the pair-based oracle never
        // emits such vertices (they have no edges), so drop them here too:
        // both paths agree by construction, not by fixture luck.
        s1.filter(col("score1") > 0).join(s2, "l_suppkey")
          .select(col("l_suppkey").as("suppkey"), col("score1"),
            (col("sums") - col("nparts") * col("score1")).as("score2"))
          .orderBy(desc("score2"), asc("suppkey"))
      },
      Some("""WITH bridge AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
             | e AS (
             |  SELECT a.l_suppkey AS src, b.l_suppkey AS dst, count(*) AS w
             |  FROM bridge a JOIN bridge b
             |    ON a.l_partkey = b.l_partkey AND a.l_suppkey <> b.l_suppkey
             |  GROUP BY 1, 2),
             | s1 AS (SELECT dst AS v, CAST(sum(w) AS BIGINT) AS score1
             |        FROM e GROUP BY 1),
             | s2 AS (
             |  SELECT e.dst AS v, CAST(sum(e.w * s1.score1) AS BIGINT) AS score2
             |  FROM e JOIN s1 ON s1.v = e.src GROUP BY 1)
             |SELECT s1.v AS suppkey, score1, score2
             |FROM s1 JOIN s2 ON s1.v = s2.v
             |ORDER BY score2 DESC, suppkey""".stripMargin)),

    // Winsorized robust mean per event_type: clamp values into the exact
    // [p05, p95] percentile_disc band (x76's ceil-index rendering), then
    // the decimal-exact mean of the clamped column — outlier-robust
    // aggregation for metric cleaning. Clamping is pure comparison (no
    // float arithmetic) and the mean is one double division of exact
    // decimal quantities, so the gate is tight. Scale: the window sorts
    // per event_type — at 5 groups the per-group sort is the cost; the
    // 100 TB path swaps the exact band for approx_percentile (x49) and
    // keeps the identical clamp + decimal-sum shape.
    QueryDef(
      "x117_winsorize",
      (s, dir) => {
        val w = Window.partitionBy("event_type")
          .orderBy(col("value"), col("event_id"))
        val ranked = Tables.events(s, dir)
          .select(col("event_type"), col("value"),
            row_number().over(w).as("rn"),
            count(lit(1)).over(Window.partitionBy("event_type")).as("n"))
        val bands = ranked.groupBy("event_type")
          .agg(
            max(when(expr("rn = (n + 19) DIV 20"), col("value"))).as("p05"),
            max(when(expr("rn = (19 * n + 19) DIV 20"), col("value"))).as("p95"))
        Tables.events(s, dir)
          .join(broadcast(bands), "event_type")
          .select(col("event_type"),
            least(greatest(col("value"), col("p05")), col("p95")).as("cv"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            (dsum(col("cv")).cast("double") / count(lit(1))).as("wmean"))
          .orderBy("event_type")
      },
      Some(s"""WITH bands AS (
              |  SELECT event_type,
              |         percentile_disc(0.05) WITHIN GROUP (ORDER BY value) AS p05,
              |         percentile_disc(0.95) WITHIN GROUP (ORDER BY value) AS p95
              |  FROM events GROUP BY 1)
              |SELECT event_type, count(*) AS n,
              |       CAST(${dsumSql("least(greatest(value, p05), p95)")} AS DOUBLE)
              |         / count(*) AS wmean
              |FROM events JOIN bands USING (event_type)
              |GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
