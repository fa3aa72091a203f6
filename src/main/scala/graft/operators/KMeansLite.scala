package graft.operators

import graft.{Checkpoints, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means over the embedding column — the clustering
  * step an LLM-data pipeline runs for corpus bucketing / diversity
  * sampling / stratified eval splits.
  *
  * Spark-first rendering of one Lloyd iteration:
  *   1. assignment: cross-join against the BROADCAST centroid table
  *      (k·d doubles — tiny at any corpus size) and keep the argmin
  *      distance per vector. Narrow per-row work; the only shuffle is the
  *      row_number window on vec_id, and at scale even that disappears if
  *      you fold the argmin into a min_by aggregate keyed by vec_id.
  *   2. recompute: posexplode the assigned vectors to (cid, idx, val) and
  *      hash-aggregate elementwise sums — map-side partial aggregation
  *      means the shuffle carries at most k·d rows per map task, not n·d.
  *
  * Everything is engine-parity-exact: distances expand through the
  * identity ‖a-c‖² = a·a − 2a·c + c·c with all three dot products computed
  * by the native `graft_dot` expression (bitwise-equal to DuckDB's
  * list_dot_product — proven by q18/x27), ties break to the lowest
  * centroid id, and centroid means run the sum in DECIMAL(27,12) (exact,
  * order-independent) before one double division — so the DuckDB oracle
  * reproduces the full two-iteration trajectory bit for bit.
  *
  * Determinism: init centroids are the k lowest vec_ids — no RNG, stable
  * across engines and retries.
  */
object KMeansLite {

  /** Native `graft_dot`, bitwise-equal to DuckDB's list_dot_product. */
  private def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  /** Squared L2 ‖a-b‖² through the dot identity above: the ONE Spark
    * rendering every centroid distance (Lloyd assignment, IVF cell
    * ranking, PQ subspace codes, silhouette) goes through.
    */
  private[operators] def d2(a: Column, b: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

  /** Embeddings with the float vector cast elementwise to double (exact;
    * both engines widen float32 identically).
    */
  def vectors(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))

  /** First k vectors by vec_id as the deterministic init centroids.
    *
    * cid is the rank among the k survivors, computed WINDOW-FREE (r7
    * suite gate: no unpartitioned window in any plan): the top-k is a
    * TakeOrdered, and the rank is a k×k predecessor-count self-join —
    * k is a constant, so the join is O(k²) rows at any corpus size.
    */
  def initCentroids(vecs: DataFrame, k: Int): DataFrame = {
    // Materialized (r17): `top` feeds BOTH arms of the rank self-join, so
    // the lazy TakeOrdered — a full corpus scan — used to execute twice
    // per consumer (and initCentroids has ~11 consumers across the
    // PQ/IVF-PQ subspace trainers alone). k rows, trivially checkpointed.
    val top = Checkpoints.local(vecs.orderBy("vec_id").limit(k))
    top.as("a").join(top.as("b"), col("b.vec_id") < col("a.vec_id"), "left")
      .groupBy(col("a.vec_id").as("vid"), col("a.v").as("cv"))
      .agg(count(col("b.vec_id")).cast("long").as("cid"))
      .select(col("cid"), col("cv"))
  }

  /** Assignment step: each vector to its nearest centroid (squared L2,
    * ties to the lowest cid).
    *
    * The argmin is a `min(struct(d2, cid, v))` hash aggregate, not a
    * row_number window: struct ordering is lexicographic, so the minimum
    * is exactly (smallest d2, ties to lowest cid) and v rides along.
    * Unlike the window (shuffle + per-key SORT of n·k rows), the
    * aggregate partial-combines map-side — each map task ships ONE row
    * per vec_id regardless of k, the shape that survives 100 TB.
    */
  def assign(vecs: DataFrame, cents: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    vecs.crossJoin(broadcast(cents))
      .withColumn("d2", d2(col("v"), col("cv")))
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col("cid"), col("v"))).as("mn"))
      .select(col("vec_id"), col("mn.cid").as("cid"), col("mn.v").as("v"))
  }

  /** Recompute step: elementwise mean per cluster, summed exactly in
    * decimal, divided once in double (both engines do the same IEEE op).
    */
  def recompute(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cid"), posexplode(col("v")).as(Seq("idx", "val")))
      .groupBy("cid", "idx")
      .agg((sum(col("val").cast("decimal(27,12)")).cast("double") /
        count(lit(1))).as("cv_el"))
      .groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("idx"), col("cv_el")))),
        _.getField("cv_el")).as("cv"))

  /** The two-iteration Lloyd trajectory the x101 oracle replays — init
    * → assign → recompute → assign — with the recomputed centroids
    * checkpointed (k rows): they feed the second assignment AND the
    * caller's own consumers (silhouette grid, residuals, codebook LUTs),
    * and lazily each consumer would re-run the first iteration from the
    * scan up. Returns the final assignment (vec_id, cid, v) and those
    * centroids (cid, cv).
    */
  private[operators] def lloyd2(vecs: DataFrame, k: Int): (DataFrame, DataFrame) = {
    val c1 = Checkpoints.local(recompute(assign(vecs, initCentroids(vecs, k))))
    (assign(vecs, c1), c1)
  }

  /** Fixed-iteration Lloyd's: returns the final assignment. */
  def kmeans(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    // Materialized (r17): vecs feeds the init TakeOrdered plus one
    // assignment pass per iteration — each re-ran the parquet scan +
    // elementwise cast. One narrow scan, checkpointed once.
    val vecs = Checkpoints.local(vectors(emb))
    var cents = initCentroids(vecs, k)
    var assigned = assign(vecs, cents)
    for (_ <- 1 until iters) {
      cents = recompute(assigned)
      assigned = assign(vecs, cents)
    }
    assigned
  }

  /** DuckDB rendering of the same two-iteration run (k inlined) — the
    * CTE chain up to the final assignment `a2`, shared by x101 and x122.
    */
  private[operators] def kmeansCtesSql(k: Int, dim: Int): String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       | c0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
       |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $k)),
       | a1 AS (
       |  SELECT vec_id, cid, v FROM (
       |    SELECT e.vec_id, c0.cid, e.v,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             list_dot_product(e.v, e.v)
       |               - 2.0 * list_dot_product(e.v, c0.cv)
       |               + list_dot_product(c0.cv, c0.cv), c0.cid) AS rn
       |    FROM e CROSS JOIN c0) WHERE rn = 1),
       | c1 AS (
       |  SELECT cid, list(cv_el ORDER BY idx) AS cv FROM (
       |    SELECT a1.cid, i.idx,
       |           CAST(sum(CAST(a1.v[i.idx] AS DECIMAL(27,12))) AS DOUBLE)
       |             / count(*) AS cv_el
       |    FROM a1, (SELECT unnest(generate_series(1, $dim)) AS idx) i
       |    GROUP BY 1, 2)
       |  GROUP BY 1),
       | a2 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c1.cid,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             list_dot_product(e.v, e.v)
       |               - 2.0 * list_dot_product(e.v, c1.cv)
       |               + list_dot_product(c1.cv, c1.cv), c1.cid) AS rn
       |    FROM e CROSS JOIN c1) WHERE rn = 1)""".stripMargin

  private def kmeansSql(k: Int, dim: Int): String =
    s"""${kmeansCtesSql(k, dim)}
       |SELECT cid, count(*) AS size FROM a2 GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    // Two full Lloyd iterations (init -> assign -> recompute -> assign),
    // reduced to cluster sizes. The oracle replays the identical
    // trajectory in DuckDB, so the hash gate verifies every distance
    // comparison and both centroid recomputations transitively.
    QueryDef(
      "x101_kmeans",
      (s, dir) => kmeans(Tables.embeddings(s, dir), k = 4, iters = 2)
        .groupBy("cid").agg(count(lit(1)).as("size"))
        .orderBy("cid"),
      Some(kmeansSql(k = 4, dim = 64))),

    // SemDeDup (Abbas et al. 2023) shape: cluster the embedding space,
    // then search near-duplicates ONLY within each cluster — the
    // quadratic pair scan shrinks from |corpus|² to Σ|cluster|², the
    // trade being cross-cluster pairs are unseen by design. The pair
    // pass is a declarative self-join co-partitioned on cid with the
    // fused codegen cosine; the oracle replays the full k-means
    // trajectory AND the in-cluster pair scan, so the gate verifies the
    // clustering and the pruned dedup transitively. Scale: per-cluster
    // pair fan-out is the bucket-size knob (raise k); the cross-cluster
    // recall loss vs the exact x05/x39 pairs is the documented SemDeDup
    // trade.
    QueryDef(
      "x122_semdedup",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        // Materialized (r16): both sides of the in-cluster pair join
        // lazily re-ran the whole two-iteration k-means trajectory.
        val assigned = Checkpoints.local(kmeans(Tables.embeddings(s, dir), k = 4, iters = 2))
        val a = assigned.select(col("cid"), col("vec_id").as("a"),
          col("v").as("va"))
        val b = assigned.select(col("cid"), col("vec_id").as("b"),
          col("v").as("vb"))
        a.join(b, Seq("cid")).filter(col("a") < col("b"))
          .withColumn("cos_sim",
            VectorOps.cos6(col("va"), col("vb")))
          .filter(col("cos_sim") >= 0.45)
          .select("cid", "a", "b", "cos_sim")
          .orderBy("a", "b")
      },
      Some(s"""${kmeansCtesSql(k = 4, dim = 64)}
              |SELECT cid, a, b, cos_sim FROM (
              |  SELECT ax.cid, ax.vec_id AS a, ay.vec_id AS b,
              |         ${VectorOps.cos6Sql("x.v", "y.v")} AS cos_sim
              |  FROM a2 ax JOIN a2 ay
              |    ON ax.cid = ay.cid AND ax.vec_id < ay.vec_id
              |  JOIN e x ON x.vec_id = ax.vec_id
              |  JOIN e y ON y.vec_id = ay.vec_id) p
              |WHERE cos_sim >= 0.45 ORDER BY a, b""".stripMargin)))
}
