package graft.queries

import graft.{Checkpoints, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-12c: word2vec-style negative sampling rendered relationally, and
  * the context-length capacity sweep.
  */
object Round12cQueries {

  // ---- x214: smoothed negative sampling ---------------------------------

  /** x214: noise-distribution negative sampling (the word2vec/contrastive
    * trick: draw negatives from a SMOOTHED unigram distribution so rare
    * words surface more than their raw frequency) — rendered as pure
    * relational algebra with a deterministic certificate: T = 500 hashed
    * trials are materialized through the actual sampling machinery and
    * the per-word draw counts ship with the distribution table.
    *
    * Smoothing uses √c rather than word2vec's c^0.75: sqrt is the one
    * sub-unity power IEEE 754 requires to be CORRECTLY rounded, so the
    * weights are engine-exact where a pow(c, 0.75) could differ by an
    * ulp between libms; the weight is then rounded to 6 decimals and
    * scaled to an exact integer (the x171 regime). Production at a fixed
    * exponent would precompute a fixed-point pow table — the plan shape
    * is unchanged.
    *
    * Sampling = inverse-CDF lookup, built scale-first:
    *  - cumulative weights over the vocab via the TWO-PHASE prefix sum
    *    (x159/x207 idiom: first-char buckets, per-bucket windows, a
    *    bucket-offset grid join) — no vocab-sized unpartitioned window;
    *  - trial u ∈ [0, W) lands in the word whose [lo, hi) contains it,
    *    found with the BUCKETED interval join (the x21 range-join idiom):
    *    each word interval fans out to the W/256-wide buckets it covers
    *    (word-sized intervals → a handful of rows), trials join on the
    *    equi bucket key, then the exact containment filter. No
    *    broadcast-nested-loop anywhere; at corpus scale the trials table
    *    is the positive-pair stream and the join stays equi-keyed.
    */
  private def negativeSampling(s: SparkSession, dir: String): DataFrame = {
    val T = 500L
    val counts = Checkpoints.local(graft.operators.TextOps.tokens(Tables.documents(s, dir))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .withColumn("weight",
        (round(sqrt(col("c").cast("double")), 6).cast(DecimalType(18, 6))
          * 1000000).cast("long"))) // consumed by cumsum, totals, and the final join
    // Two-phase exclusive prefix sum over (w) order.
    val bucketed = counts.withColumn("bkt", substring(col("w"), 1, 1))
    val inB = bucketed.withColumn("cum_b",
      coalesce(sum(col("weight")).over(
        Window.partitionBy("bkt").orderBy("w")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val totals = bucketed.groupBy("bkt").agg(sum(col("weight")).as("btot"))
    val offs = totals.as("a").join(totals.as("b"),
        col("b.bkt") < col("a.bkt"), "left")
      .groupBy(col("a.bkt").as("bkt"))
      .agg(coalesce(sum(col("b.btot")), lit(0L)).as("boff"))
    val iv = inB.join(broadcast(offs), "bkt")
      .select(col("w"), col("c"), col("weight"),
        (col("boff") + col("cum_b")).as("lo"),
        (col("boff") + col("cum_b") + col("weight")).as("hi"))
    val wtot = counts.agg(sum(col("weight")).as("wt"))

    // Bucketed interval join: B = W/256 + 1; each interval emits one row
    // per covered bucket, trials join on the equi key.
    val ivb = iv.crossJoin(broadcast(wtot))
      .withColumn("bw", expr("wt DIV 256 + 1"))
      .select(col("w"), col("lo"), col("hi"),
        explode(sequence(expr("lo DIV bw"), expr("(hi - 1) DIV bw")))
          .as("ub"))
    val trials = s.range(T).crossJoin(broadcast(wtot))
      .select(col("id").as("t"),
        (conv(substring(md5(concat(lit("neg:"), col("id").cast("string"))
          .cast("binary")), 1, 15), 16, 10).cast("long") % col("wt"))
          .as("u"),
        expr("wt DIV 256 + 1").as("bw"))
      .withColumn("ub", expr("u DIV bw"))
    val drawn = trials.join(ivb, "ub")
      .filter(col("lo") <= col("u") && col("u") < col("hi"))
      .groupBy("w").agg(count(lit(1)).as("n_sampled"))

    iv.join(drawn, Seq("w"), "left")
      .select(col("w"), col("c"), col("weight").as("weight_micro"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
      .orderBy("w")
  }

  private val negativeSamplingSql: String =
    s"""WITH counts AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS c,
       |         CAST(CAST(round(sqrt(CAST(count(*) AS DOUBLE)), 6)
       |           AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS weight
       |  FROM (${graft.operators.TextOps.tokensSql}) t GROUP BY 1),
       | iv AS (
       |   SELECT w, c, weight,
       |          CAST(coalesce(sum(weight) OVER (ORDER BY w
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |            AS BIGINT) AS lo,
       |          CAST(coalesce(sum(weight) OVER (ORDER BY w
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |            + weight AS BIGINT) AS hi
       |   FROM counts),
       | wtot AS (SELECT CAST(sum(weight) AS BIGINT) AS wt FROM counts),
       | ivb AS (
       |   SELECT w, lo, hi,
       |          unnest(range(lo // (wt // 256 + 1),
       |                       (hi - 1) // (wt // 256 + 1) + 1)) AS ub
       |   FROM iv CROSS JOIN wtot),
       | trials AS (
       |   SELECT t.range AS t,
       |          CAST('0x' || substr(md5('neg:' || t.range), 1, 15) AS BIGINT)
       |            % wt AS u,
       |          wt // 256 + 1 AS bw
       |   FROM range(500) t CROSS JOIN wtot),
       | drawn AS (
       |   SELECT i.w, CAST(count(*) AS BIGINT) AS n_sampled
       |   FROM trials tr JOIN ivb i ON tr.u // tr.bw = i.ub
       |   WHERE i.lo <= tr.u AND tr.u < i.hi
       |   GROUP BY 1)
       |SELECT iv.w, iv.c, iv.weight AS weight_micro,
       |       CAST(coalesce(d.n_sampled, 0) AS BIGINT) AS n_sampled
       |FROM iv LEFT JOIN drawn d USING (w)
       |ORDER BY iv.w""".stripMargin

  // ---- x215: context-length capacity sweep ------------------------------

  /** x215: context-length sweep — for each candidate training context
    * length, the capacity numbers that decide it: docs truncated,
    * truncation token loss (one-doc-per-sequence discipline, the SFT
    * shape), padding waste (pad-to-ctx), and the packed-sequence count
    * under x159's contiguous discipline. The sweep is ONE narrow
    * aggregate pass fanned out to the 4-row ctx spine (the x206/x208
    * sweep family): per (ctx) the metrics are sums of per-doc min/max
    * expressions — map-side combinable, no windows, no joins beyond the
    * spine fan-out. Ratios as integer permille via DIV.
    *
    * Fixture docs run 10–100 tokens, so the spine {16, 32, 64, 128}
    * shows both cliffs: at 16 almost everything truncates (but pads
    * nothing); at 128 nothing truncates and >half of every padded
    * sequence is waste.
    */
  private def ctxLenSweep(s: SparkSession, dir: String): DataFrame = {
    val nTok = size(filter(split(col("text"), " "), (w: Column) => w =!= ""))
      .cast("long")
    val fanned = Tables.documents(s, dir)
      .select(nTok.as("n_tok"),
        explode(array(Seq(16L, 32L, 64L, 128L).map(lit): _*)).as("ctx"))
    fanned.groupBy("ctx")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("tt"),
        sum(greatest(col("n_tok") - col("ctx"), lit(0L))).as("lost"),
        sum(col("ctx") - least(col("n_tok"), col("ctx"))).as("pad"),
        sum(when(col("n_tok") > col("ctx"), 1L).otherwise(0L))
          .as("n_docs_truncated"))
      .select(col("ctx"), col("n_docs_truncated"),
        expr("lost * 1000 DIV tt").as("lost_permille"),
        expr("pad * 1000 DIV (n_docs * ctx)").as("pad_waste_permille"),
        expr("(tt + ctx - 1) DIV ctx").as("pack_seqs"))
      .orderBy("ctx")
  }

  private val ctxLenSweepSql: String =
    """WITH d AS (
      |  SELECT CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
      |           AS BIGINT) AS n_tok
      |  FROM documents),
      | f AS (SELECT d.n_tok, c.ctx FROM d
      |       CROSS JOIN (SELECT unnest([16, 32, 64, 128]) AS ctx) c),
      | a AS (
      |   SELECT ctx, CAST(count(*) AS BIGINT) AS n_docs,
      |          CAST(sum(n_tok) AS BIGINT) AS tt,
      |          CAST(sum(greatest(n_tok - ctx, 0)) AS BIGINT) AS lost,
      |          CAST(sum(ctx - least(n_tok, ctx)) AS BIGINT) AS pad,
      |          CAST(sum(CASE WHEN n_tok > ctx THEN 1 ELSE 0 END) AS BIGINT)
      |            AS n_docs_truncated
      |   FROM f GROUP BY 1)
      |SELECT CAST(ctx AS BIGINT) AS ctx, n_docs_truncated,
      |       CAST(lost * 1000 // tt AS BIGINT) AS lost_permille,
      |       CAST(pad * 1000 // (n_docs * ctx) AS BIGINT) AS pad_waste_permille,
      |       CAST((tt + ctx - 1) // ctx AS BIGINT) AS pack_seqs
      |FROM a ORDER BY ctx""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("x214_negative_sampling", negativeSampling,
      Some(negativeSamplingSql)),
    QueryDef("x215_ctx_len_sweep", ctxLenSweep, Some(ctxLenSweepSql)))
}
