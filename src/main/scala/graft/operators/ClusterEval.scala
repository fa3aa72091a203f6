package graft.operators

import graft.{Checkpoints, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** x220: simplified-silhouette clustering quality for the x101 k-means
  * run — the acceptance gate every clustering consumer in the suite
  * (SemDeDup x122, IVF x23, cluster-aware splits x175) would run before
  * trusting its partition of the embedding space.
  *
  * Simplified silhouette (Hruschka et al. 2004) replaces the classic
  * silhouette's O(n²) pairwise distances with distances TO CENTROIDS:
  * a = d(x, own centroid), b = min over other centroids, s = (b−a)/max —
  * O(n·k) via one corpus pass against the broadcast k-row centroid table,
  * which is the only version that exists at 100 TB (the O(n²) original is
  * not a plan, it's a pair explosion).
  *
  * Determinism: distances are sqrt of the same graft_dot /
  * list_dot_product double chain both engines share (sqrt is
  * IEEE-exactly-rounded), rounded to 6 dp and scaled to integer micro
  * units; s is then pure integer arithmetic — (b−a)·1000 DIV max(a,b),
  * non-negative BY CONSTRUCTION because the x101 assignment already
  * picked the nearest centroid (a ≤ b), so truncating DIV and DuckDB's
  * floor // agree. Per-cluster mean stays integer (sum DIV n).
  */
object ClusterEval {

  private val K = 4

  def silhouette(spark: SparkSession, emb: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // Materialized (r17): vecs feeds the init TakeOrdered and both
    // assignment passes — each re-ran the parquet scan + cast.
    val vecs = Checkpoints.local(KMeansLite.vectors(emb))
    val (a2, c1) = KMeansLite.lloyd2(vecs, K) // a2: (vec_id, cid, v)

    val d2 = KMeansLite.d2(col("v"), col("cv"))
    val dMicro = (round(sqrt(greatest(d2, lit(0.0))), 6) * 1000000)
      .cast("long")
    val ab = a2
      .crossJoin(broadcast(c1.select(col("cid").as("cid2"), col("cv"))))
      .select(col("vec_id"), col("cid"), col("cid2"), dMicro.as("d_micro"))
      .groupBy("vec_id", "cid")
      .agg(min(when(col("cid2") === col("cid"), col("d_micro"))).as("a_micro"),
        min(when(col("cid2") =!= col("cid"), col("d_micro"))).as("b_micro"))
    ab.select(col("cid"),
        when(greatest(col("a_micro"), col("b_micro")) > 0,
          expr("(b_micro - a_micro) * 1000 DIV greatest(a_micro, b_micro)"))
          .otherwise(lit(0L)).as("s_permille"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n"),
        sum(col("s_permille")).as("s_sum"))
      .select(col("cid"), col("n"),
        expr("s_sum DIV n").as("mean_s_permille"))
      .orderBy("cid")
  }

  private val silhouetteSql: String =
    s"""${KMeansLite.kmeansCtesSql(K, 64)},
       | d AS (
       |   SELECT a2.vec_id, a2.cid, c.cid AS cid2,
       |          CAST(round(sqrt(greatest(
       |            list_dot_product(e.v, e.v)
       |              - 2.0 * list_dot_product(e.v, c.cv)
       |              + list_dot_product(c.cv, c.cv), 0.0)), 6) * 1000000
       |            AS BIGINT) AS d_micro
       |   FROM a2 JOIN e USING (vec_id) CROSS JOIN c1 c),
       | ab AS (
       |   SELECT vec_id, cid,
       |          min(CASE WHEN cid2 = cid THEN d_micro END) AS a_micro,
       |          min(CASE WHEN cid2 <> cid THEN d_micro END) AS b_micro
       |   FROM d GROUP BY 1, 2),
       | s AS (
       |   SELECT cid,
       |          CASE WHEN greatest(a_micro, b_micro) > 0
       |               THEN (b_micro - a_micro) * 1000
       |                      // greatest(a_micro, b_micro)
       |               ELSE 0 END AS s_permille
       |   FROM ab)
       |SELECT cid, CAST(count(*) AS BIGINT) AS n,
       |       CAST(sum(s_permille) // count(*) AS BIGINT) AS mean_s_permille
       |FROM s GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef(
      "x220_silhouette",
      (s, dir) => silhouette(s, Tables.embeddings(s, dir)),
      Some(silhouetteSql)))
}
