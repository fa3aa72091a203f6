package graft.operators

import graft.{Checkpoints, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared co-purchase graph derivation (r9 verdict #7 / r11 verdict #4).
  *
  * Seven graph queries consume a graph derived from the same lineitem
  * self-join (parts sharing an order). Before this module, each derived
  * it independently — ~5 s of identical prefix per query, ~20-30 s of
  * the sf0.1 suite re-deriving one relation. Production would never do
  * that: the edge list is INFRASTRUCTURE (iterate-over-snapshot — the
  * x144 materialization decision, taken per-query then, taken per-RUN
  * here). This module derives the directed pair-weight table
  * `(src, dst, w)` ONCE per (SparkContext, data dir), localCheckpoints
  * it, and serves every graph shape as a projection/filter of those
  * blocks:
  *
  *  - `directed`  = all co-purchase pairs, both directions (x144);
  *  - `strong`    = w >= 2 association-pruned, both directions
  *    (x201 LPA, x226 BFS, x227/x228 loop twins);
  *  - `undirected` = u < v canonical distinct pairs (x152 triangles,
  *    x186 k-core base).
  *
  * Since r16 the x162/x163 skew pair routes through this module too:
  * both sides of the A/B demonstrator (id- vs degree-orientation on an
  * identical planted-hub fixture) consume the same materialized base
  * SYMMETRICALLY, so the measured gap — wedge volume under the two
  * orientations, the pair's entire point — is unaffected, while each
  * query stops re-deriving the lineitem self-join the suite already
  * holds (r9's isolation rationale traded ~6 s of redundant derivation
  * per sf0.1 run for a property the symmetry already guarantees).
  *
  * Liveness: the table is checkpointed with `Checkpoints.shared`, outside
  * any query's scope, so it outlives the query that first asks for it and
  * serves the rest of the run; anything that unpersists its blocks
  * (ScalingSlopeSpec's full sweep, a stopped context) is detected by
  * [[alive]] and the table is re-derived on next access — a dropped
  * shared view degrades to the old per-query behavior, never to an error.
  *
  * 100 TB: the pair table is |distinct co-purchase pairs| rows — bounded
  * by Σ basket² ≈ linear in orders (basket size is a constant), ~16 B a
  * row. At true scale it would live in storage (bucketed by src), not
  * executor memory; localCheckpoint is the local[32] rendering of the
  * same decision.
  */
object CoPurchaseGraph {

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private def alive(df: DataFrame): Boolean =
    !df.sparkSession.sparkContext.isStopped && Checkpoints.held(df)

  /** The directed pair-weight table (src, dst, w): every ordered pair of
    * distinct parts sharing >= 1 order, with the distinct-order count.
    * Checkpointed once per (context, dir); all public views derive from
    * these blocks.
    */
  def pairWeights(s: SparkSession, dir: String): DataFrame = {
    val k = s.sparkContext.applicationId + "|" + dir
    val hit = cache.get(k)
    if (hit != null && alive(hit)) return hit
    this.synchronized {
      val again = cache.get(k)
      if (again != null && alive(again)) return again
      // Evict the entries of stopped contexts: in a long-lived JVM with
      // many sessions (the test suite, Bench's isolated-adjudication
      // contexts) the cache would otherwise grow one dead entry per
      // (context, dir) forever.
      cache.values.removeIf(_.sparkSession.sparkContext.isStopped)
      val op = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val pw = Checkpoints.shared(op.as("a").join(op.as("b"),
          col("a.o") === col("b.o") && col("a.p") =!= col("b.p"))
        .groupBy(col("a.p").as("src"), col("b.p").as("dst"))
        .agg(count(lit(1)).as("w")))
      cache.put(k, pw)
      pw
    }
  }

  /** All co-purchase edges, both directions (pairs sharing ANY order —
    * the x144 PageRank graph).
    */
  def directed(s: SparkSession, dir: String): DataFrame =
    pairWeights(s, dir).select("src", "dst")

  /** Association-strength-pruned edges (w >= 2 distinct orders), both
    * directions — the x201/x226 community/distance graph.
    */
  def strong(s: SparkSession, dir: String): DataFrame =
    pairWeights(s, dir).filter(col("w") >= 2).select("src", "dst")

  /** Undirected canonical (u < v) distinct pairs — the x152/x186
    * triangle/k-core base.
    */
  def undirected(s: SparkSession, dir: String): DataFrame =
    pairWeights(s, dir).filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
}
