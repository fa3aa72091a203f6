package graft.operators

import graft.{Checkpoints, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Hybrid retrieval: reciprocal-rank fusion of the lexical (BM25, x170
  * shape) and dense (cosine, x06 shape) rankers, plus the rank-agreement
  * diagnostic between them.
  *
  * The reference library has no retrieval surface (SURVEY.md §2.B); this
  * extends the LLM-pipeline retrieval family: production decontamination
  * and RAG stacks run BOTH a lexical and an embedding retriever and fuse
  * with RRF (Cormack, Clarke & Buettcher 2009) — rank-based fusion needs
  * no score calibration between incommensurable scorers, which is exactly
  * why it won TREC fusion tracks and is the default in hybrid search
  * engines.
  *
  * Query-by-example: each probe doc (doc_id = vec_id ∈ {1,2,3}) queries
  * with its OWN terms on the lexical side and its OWN embedding on the
  * dense side — the "more-like-this" shape, whose lexical cost is bounded
  * by Σ df over the probe doc's terms (doc-length-bounded, never
  * vocabulary-sized: the x170 semi-join-before-aggregate discipline) and
  * whose dense cost is one corpus pass against a broadcast probe block
  * (the x173 idiom).
  *
  * Determinism: per-term BM25 scores round to 6 dp then sum in
  * DECIMAL(18,6) (x170); cosines are graft_cosine's sequential
  * accumulation = DuckDB's list_dot_product, rounded to 6 dp; every rank
  * is a row_number with doc_id tie-break; RRF contributions are exact
  * integers (10⁶ DIV (60 + rank)), so the fused ordering never touches a
  * float.
  */
object HybridRetrieval {

  private val K1 = 1.2
  private val B = 0.75
  private val Probes = Seq(1L, 2L, 3L)
  private val ListK = 50 // per-ranker candidate depth fed to the fuser
  private val RrfK = 60 // the standard RRF dampening constant
  private val TopK = 10

  private def toD(c: Column): Column =
    transform(c, (x: Column) => x.cast("double"))

  /** (pid, doc_id, lex_rank ≤ ListK): BM25 ranking, query terms = the
    * probe doc's distinct tokens. df is query-sized by construction.
    */
  private def lexRanks(spark: SparkSession, docs: DataFrame): DataFrame = {
    // Materialized (r16): `toks` feeds three consumers (tf, dl, qterms),
    // `dl` two (stats + the scoring join), `tfQ` two (dfreq + scoring) —
    // lazily each re-ran the tokenize pipeline (x217/x218 scanned the
    // documents parquet 9 times each pre-r16). All three are thin:
    // (doc, word) rows at most.
    val toks = Checkpoints.local(TextOps.tokens(docs))
    val tf = toks.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dl = Checkpoints.local(toks.groupBy("doc_id").agg(count(lit(1)).as("dl")))
    val stats = dl.agg(count(lit(1)).cast("double").as("nd"),
      sum(col("dl")).cast("double").as("tot"))
    val qterms = toks.filter(col("doc_id").isin(Probes: _*))
      .select(col("doc_id").as("pid"), col("w")).distinct()
    val tfQ = Checkpoints.local(
      tf.join(broadcast(qterms.select("w").distinct()), Seq("w"), "left_semi"))
    val dfreq = tfQ.groupBy("w").agg(count(lit(1)).cast("double").as("df"))

    val avgdl = col("tot") / col("nd")
    val idf = log(lit(1.0) + (col("nd") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)))
    val tfD = col("tf").cast("double")
    val denom = tfD + lit(K1) *
      (lit(1.0) - lit(B) + lit(B) * col("dl").cast("double") / avgdl)
    val score = round(idf * (tfD * lit(K1 + 1)) / denom, 6)

    val w = Window.partitionBy("pid").orderBy(desc("score"), asc("doc_id"))
    tfQ.join(broadcast(qterms), "w")
      .join(broadcast(dfreq), "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("pid"), col("doc_id"),
        score.cast(DecimalType(18, 6)).as("s"))
      .groupBy("pid", "doc_id").agg(sum(col("s")).as("score"))
      .withColumn("lex_rank", row_number().over(w).cast("long"))
      .filter(col("lex_rank") <= ListK)
      .select("pid", "doc_id", "lex_rank")
  }

  /** (pid, doc_id, dense_rank ≤ ListK): cosine ranking against the probe
    * embeddings (one corpus pass, broadcast probe block).
    */
  private def denseRanks(spark: SparkSession, emb: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val probes = emb.filter(col("vec_id").isin(Probes: _*))
      .select(col("vec_id").as("pid"), toD(col("embedding")).as("q"))
    val w = Window.partitionBy("pid")
      .orderBy(desc("cos_sim"), asc("doc_id"))
    emb.select(col("vec_id").as("doc_id"), toD(col("embedding")).as("e"))
      .crossJoin(broadcast(probes))
      .select(col("pid"), col("doc_id"),
        VectorOps.cos6(col("e"), col("q")).as("cos_sim"))
      .withColumn("dense_rank", row_number().over(w).cast("long"))
      .filter(col("dense_rank") <= ListK)
      .select("pid", "doc_id", "dense_rank")
  }

  /** x217: RRF-fused top-10 per probe over the union of both top-50
    * lists. Missing-from-one-list contributes 0 (the standard convention);
    * the emitted lex/dense ranks carry 0 for "not in that ranker's list".
    */
  def rrfFuse(spark: SparkSession, docs: DataFrame, emb: DataFrame)
      : DataFrame = {
    val lex = lexRanks(spark, docs)
    val dense = denseRanks(spark, emb)
    val w = Window.partitionBy("pid").orderBy(desc("rrf_micro"), asc("doc_id"))
    lex.join(dense, Seq("pid", "doc_id"), "full_outer")
      .select(col("pid"), col("doc_id"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("dense_rank"), lit(0L)).as("dense_rank"))
      .withColumn("rrf_micro",
        when(col("lex_rank") > 0, expr(s"1000000 DIV ($RrfK + lex_rank)"))
          .otherwise(lit(0L)) +
        when(col("dense_rank") > 0, expr(s"1000000 DIV ($RrfK + dense_rank)"))
          .otherwise(lit(0L)))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select("pid", "rank", "doc_id", "rrf_micro", "lex_rank", "dense_rank")
      .orderBy("pid", "rank")
  }

  /** Suffix weights for truncated rank-biased overlap at p = 1/2:
    * S(m) = Σ_{d=m..ListK} p^d / d, in micro units. An item common to
    * both lists at ranks (l, r) enters the overlap at every depth
    * d ≥ max(l, r), so its total RBO contribution is exactly S(max(l,r));
    * identical lists sum to Σ_d p^d ≈ 10⁶. p = 1/2 keeps every p^d a
    * dyadic rational, and the one inexact step (÷d) happens HERE, once,
    * in BigDecimal — both engines then consume the same integer literals,
    * so no cross-engine arithmetic exists at all.
    */
  private val RboSuffixMicro: Seq[(Long, Long)] = {
    val mc = new java.math.MathContext(30)
    val terms = (1 to ListK).map { d =>
      (BigDecimal(1) / BigDecimal(BigInt(2).pow(d)))
        .bigDecimal.divide(java.math.BigDecimal.valueOf(d.toLong), mc)
    }
    val suffix = terms.scanRight(java.math.BigDecimal.ZERO)(_.add(_)).init
    (1 to ListK).map { m =>
      m.toLong -> suffix(m - 1).multiply(java.math.BigDecimal.valueOf(1000000L))
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    }
  }

  /** x218: rank-biased overlap (Webber, Moffat & Zobel 2010) between the
    * lexical and dense top-50 lists per probe — the ranker-agreement
    * regression metric built for INDEFINITE rankings: unlike
    * Kendall-over-the-intersection it never starves when the two rankers
    * diverge (at sf0.1 the lex/dense top-50s share almost nothing — an
    * intersection metric returns no rows exactly when disagreement is the
    * story). RBO_min@50 = Σ_d (1−p)/p·p^d·X_d/d reduces to one S(max(l,r))
    * lookup per common item against the 50-row literal weight table; the
    * probe spine left-join keeps all three rows alive even at zero
    * overlap. Cost: the two rankers + a |common|-row broadcast join —
    * nothing corpus-sized beyond the rankers themselves.
    */
  def rankAgreement(spark: SparkSession, docs: DataFrame, emb: DataFrame)
      : DataFrame = {
    import spark.implicits._
    val sfx = RboSuffixMicro.toDF("m", "s_micro")
    val common = lexRanks(spark, docs)
      .join(denseRanks(spark, emb), Seq("pid", "doc_id"))
      .withColumn("m", greatest(col("lex_rank"), col("dense_rank")))
      .join(broadcast(sfx), "m")
    val agg = common.groupBy("pid")
      .agg(count(lit(1)).as("n_common"),
        sum(when(col("lex_rank") <= 10 && col("dense_rank") <= 10, 1L)
          .otherwise(0L)).as("overlap10"),
        sum(col("s_micro")).as("rbo_micro"))
    Probes.toDF("pid").join(agg, Seq("pid"), "left")
      .select(col("pid"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        coalesce(col("overlap10"), lit(0L)).as("overlap10"),
        coalesce(col("rbo_micro"), lit(0L)).as("rbo_micro"))
      .orderBy("pid")
  }

  // ---- oracle SQL --------------------------------------------------------

  private def probesIn: String = Probes.mkString("(", ", ", ")")

  /** Shared CTE tail producing lex(pid, doc_id, lex_rank) and
    * dense(pid, doc_id, dense_rank).
    */
  private def rankersSql: String =
    s"""toks AS (${TextOps.tokensSql}),
       | tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
       | dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
       | stats AS (SELECT CAST(count(*) AS DOUBLE) AS nd,
       |                  CAST(sum(dl) AS DOUBLE) AS tot FROM dl),
       | qterms AS (SELECT DISTINCT doc_id AS pid, w FROM toks
       |            WHERE doc_id IN $probesIn),
       | dfreq AS (SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf
       |           WHERE w IN (SELECT w FROM qterms) GROUP BY 1),
       | lex AS (
       |   SELECT pid, doc_id, lex_rank FROM (
       |     SELECT pid, doc_id, CAST(row_number() OVER (PARTITION BY pid
       |              ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rank
       |     FROM (
       |       SELECT q.pid, tf.doc_id, sum(
       |              CAST(round(
       |                ln(1.0 + (stats.nd - dfreq.df + 0.5) / (dfreq.df + 0.5))
       |                * (CAST(tf.tf AS DOUBLE) * ${K1 + 1})
       |                / (CAST(tf.tf AS DOUBLE) + $K1 *
       |                   (1.0 - $B + $B * CAST(dl.dl AS DOUBLE)
       |                    / (stats.tot / stats.nd))), 6)
       |                AS DECIMAL(18,6))) AS score
       |       FROM tf JOIN qterms q USING (w) JOIN dfreq USING (w)
       |            JOIN dl USING (doc_id) CROSS JOIN stats
       |       GROUP BY 1, 2) s) r
       |   WHERE lex_rank <= $ListK),
       | pv AS (SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS q
       |        FROM embeddings WHERE vec_id IN $probesIn),
       | dense AS (
       |   SELECT pid, doc_id, dense_rank FROM (
       |     SELECT pv.pid, e.vec_id AS doc_id,
       |            CAST(row_number() OVER (PARTITION BY pv.pid
       |              ORDER BY round(
       |                list_dot_product(CAST(e.embedding AS DOUBLE[]), pv.q)
       |                / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
       |                                         CAST(e.embedding AS DOUBLE[])))
       |                 * sqrt(list_dot_product(pv.q, pv.q))), 6) DESC,
       |                e.vec_id) AS BIGINT) AS dense_rank
       |     FROM embeddings e CROSS JOIN pv) r
       |   WHERE dense_rank <= $ListK)""".stripMargin

  private val rrfSql: String =
    s"""WITH $rankersSql,
       | u AS (
       |   SELECT coalesce(l.pid, d.pid) AS pid,
       |          coalesce(l.doc_id, d.doc_id) AS doc_id,
       |          coalesce(l.lex_rank, 0) AS lex_rank,
       |          coalesce(d.dense_rank, 0) AS dense_rank
       |   FROM lex l FULL OUTER JOIN dense d
       |     ON l.pid = d.pid AND l.doc_id = d.doc_id),
       | f AS (
       |   SELECT pid, doc_id, lex_rank, dense_rank,
       |          CAST(CASE WHEN lex_rank > 0
       |                    THEN 1000000 // ($RrfK + lex_rank) ELSE 0 END
       |             + CASE WHEN dense_rank > 0
       |                    THEN 1000000 // ($RrfK + dense_rank) ELSE 0 END
       |            AS BIGINT) AS rrf_micro
       |   FROM u)
       |SELECT pid, rank, doc_id, rrf_micro, lex_rank, dense_rank
       |FROM (SELECT *, CAST(row_number() OVER (PARTITION BY pid
       |        ORDER BY rrf_micro DESC, doc_id) AS BIGINT) AS rank FROM f) t
       |WHERE rank <= $TopK
       |ORDER BY pid, rank""".stripMargin

  private val rankAgreementSql: String = {
    val sfxValues = RboSuffixMicro
      .map { case (m, s) => s"(CAST($m AS BIGINT), CAST($s AS BIGINT))" }
      .mkString(", ")
    val pidValues = Probes.map(p => s"(CAST($p AS BIGINT))").mkString(", ")
    s"""WITH $rankersSql,
       | sfx(m, s_micro) AS (VALUES $sfxValues),
       | pids(pid) AS (VALUES $pidValues),
       | common AS (
       |   SELECT l.pid, l.lex_rank, d.dense_rank, sfx.s_micro
       |   FROM lex l JOIN dense d ON l.pid = d.pid AND l.doc_id = d.doc_id
       |        JOIN sfx ON sfx.m = greatest(l.lex_rank, d.dense_rank)),
       | agg AS (
       |   SELECT pid, CAST(count(*) AS BIGINT) AS n_common,
       |          CAST(sum(CASE WHEN lex_rank <= 10 AND dense_rank <= 10
       |                        THEN 1 ELSE 0 END) AS BIGINT) AS overlap10,
       |          CAST(sum(s_micro) AS BIGINT) AS rbo_micro
       |   FROM common GROUP BY 1)
       |SELECT p.pid, coalesce(a.n_common, 0) AS n_common,
       |       coalesce(a.overlap10, 0) AS overlap10,
       |       coalesce(a.rbo_micro, 0) AS rbo_micro
       |FROM pids p LEFT JOIN agg a USING (pid) ORDER BY p.pid""".stripMargin
  }

  val queries: Seq[QueryDef] = Seq(
    QueryDef(
      "x217_hybrid_rrf",
      (s, dir) => rrfFuse(s, Tables.documents(s, dir),
        Tables.embeddings(s, dir)),
      Some(rrfSql)),
    QueryDef(
      "x218_rank_agreement",
      (s, dir) => rankAgreement(s, Tables.documents(s, dir),
        Tables.embeddings(s, dir)),
      Some(rankAgreementSql)))
}
