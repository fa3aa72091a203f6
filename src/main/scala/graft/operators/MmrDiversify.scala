package graft.operators

import graft.{Checkpoints, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Maximal Marginal Relevance selection (x209 — Carbonell & Goldstein
  * 1998): greedily pick k items maximizing λ·rel(i) − (1−λ)·max_{j∈S}
  * sim(i, j) — the diversity-aware re-ranker used both in retrieval
  * result lists and in training-data curation (pick the k most
  * query-relevant examples that are not near-duplicates of each other;
  * the greedy counterpart of x132's diversity metric).
  *
  * Execution shape: the greedy loop is INHERENTLY sequential in k — each
  * pick changes the penalty term — so the right distribution is k tiny
  * rounds, each fully parallel: one broadcast of the ≤k selected vectors,
  * one corpus-wide fused-codegen cosine pass (graft_cosine, the q18
  * kernel), a max-aggregate per candidate, and a TakeOrderedAndProject
  * argmax (k rows per partition → 1 at the driver). The per-round driver
  * action is ONE row (the x63 justification: the pick must feed the next
  * round's broadcast); relevance scores are computed once and
  * checkpointed, so each round touches only (candidates × |S|) cosines.
  * At 100 TB: same plan, k driver rows total; the corpus never moves.
  *
  * Determinism: cosines are rounded to 6 decimals and scaled to exact
  * integer micro-units (the x171 regime) BEFORE the λ-blend, so scores
  * are integers (λ in permille), argmax ties break on vec_id — the
  * DuckDB oracle replays the full k-step trajectory as chained CTEs.
  */
object MmrDiversify {

  private def simU(a: Column, b: Column): Column =
    (VectorOps.cos6(a, b).cast(DecimalType(18, 6)) * 1000000).cast("long")

  /** Greedy MMR top-k against query vector `queryId`; returns
    * (step, vec_id, score) for the k picks in pick order.
    */
  def select(spark: SparkSession, emb: DataFrame, queryId: Long = 0L,
      k: Int = 5, lambdaPermille: Long = 700L): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val q = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"))
    val rel = Checkpoints.local(e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("embedding"),
        simU(col("embedding"), col("qe")).as("rel_u")))

    val lam = lambdaPermille
    var picks = Vector.empty[(Int, Long, Long)]
    for (step <- 1 to k) {
      val ids = picks.map(_._2)
      val cands = if (ids.isEmpty) rel else rel.filter(!col("vec_id").isin(ids: _*))
      val scored = if (ids.isEmpty)
        cands.select(col("vec_id"), (lit(lam) * col("rel_u")).as("score"))
      else {
        val sel = e.filter(col("vec_id").isin(ids: _*))
          .select(col("embedding").as("se"))
        cands.crossJoin(broadcast(sel))
          .groupBy("vec_id")
          .agg((lit(lam) * first(col("rel_u")) -
            lit(1000L - lam) * max(simU(col("embedding"), col("se"))))
            .as("score"))
      }
      val row = scored.orderBy(desc("score"), col("vec_id")).limit(1).head()
      picks :+= ((step, row.getLong(0), row.getLong(1)))
    }
    Checkpoints.release(rel)
    import spark.implicits._
    picks.toDF("step", "vec_id", "score").orderBy("step")
  }

  private def selectSql(queryId: Long, k: Int, lam: Long): String = {
    def sim(a: String, b: String): String =
      s"CAST(CAST(${VectorOps.cos6Sql(a, b)} AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
    val steps = (1 to k).map { t =>
      if (t == 1)
        s"""s1 AS (SELECT vec_id, CAST($lam * rel_u AS BIGINT) AS score
           |       FROM rel ORDER BY score DESC, vec_id LIMIT 1)""".stripMargin
      else {
        val selU = (1 until t).map(i => s"SELECT vec_id FROM s$i")
          .mkString(" UNION ALL ")
        s"""sel$t AS ($selU),
           | s$t AS (
           |   SELECT vec_id, score FROM (
           |     SELECT r.vec_id,
           |            CAST($lam * any_value(r.rel_u)
           |              - ${1000 - lam} * max(${sim("r.v", "e2.v")}) AS BIGINT) AS score
           |     FROM rel r
           |     CROSS JOIN (SELECT v FROM e
           |                 WHERE vec_id IN (SELECT vec_id FROM sel$t)) e2
           |     WHERE r.vec_id NOT IN (SELECT vec_id FROM sel$t)
           |     GROUP BY r.vec_id) x
           |   ORDER BY score DESC, vec_id LIMIT 1)""".stripMargin
      }
    }.mkString(",\n ")
    val out = (1 to k).map(t =>
      s"SELECT CAST($t AS INT) AS step, vec_id, score FROM s$t")
      .mkString("\n|UNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       | q AS (SELECT v AS qe FROM e WHERE vec_id = $queryId),
       | rel AS (SELECT e.vec_id, e.v, ${sim("e.v", "q.qe")} AS rel_u
       |         FROM e, q WHERE e.vec_id <> $queryId),
       | $steps
       |$out
       |ORDER BY step""".stripMargin
  }

  val queries: Seq[QueryDef] = Seq(
    QueryDef(
      "x209_mmr_diversify",
      (s, dir) => select(s, Tables.embeddings(s, dir)),
      Some(selectSql(queryId = 0L, k = 5, lam = 700L))))
}
