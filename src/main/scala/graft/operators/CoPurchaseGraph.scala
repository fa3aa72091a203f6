package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

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
  * Liveness: the cache survives the per-query persistent-RDD sweep
  * ([[sweepLeftovers]] skips its blocks); anything else that unpersists the
  * blocks (ScalingSlopeSpec's full sweep, a stopped context) is detected
  * by [[alive]] and the table is re-derived on next access — a dropped
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
  // Backing RDD id per cache key (key already embeds the applicationId).
  // Keyed — not a grow-only id set — because RDD ids restart from 0 in a
  // fresh SparkContext (Bench's isolated-adjudication phase creates one):
  // a stale id from a dead context would otherwise collide with an
  // unrelated localCheckpoint RDD in the new context and exempt it from
  // Bench's per-query sweep (r12 advice #1). Replacing a dead entry in
  // [[pairWeights]] overwrites its id here, so nothing stale survives.
  private val sharedByKey =
    new java.util.concurrent.ConcurrentHashMap[String, Int]()

  /** RDD ids backing live shared tables OF THIS SESSION's context —
    * the per-query sweep must not unpersist these (the whole point is
    * cross-query reuse). Scoped to the session's applicationId so a
    * fresh context never inherits exemptions from a dead one.
    */
  private def sharedRddIds(s: SparkSession): Set[Int] = {
    import scala.jdk.CollectionConverters._
    val prefix = s.sparkContext.applicationId + "|"
    sharedByKey.asScala.collect {
      case (k, id) if k.startsWith(prefix) => id
    }.toSet
  }

  /** The per-query leftover sweep: unpersists (non-blocking) every
    * persistent RDD of `s`'s context except [[sharedRddIds]].
    */
  def sweepLeftovers(s: SparkSession): Unit = {
    val keep = sharedRddIds(s)
    s.sparkContext.getPersistentRDDs.values
      .filterNot(r => keep(r.id)).foreach(_.unpersist(false))
  }

  private def backingRdd(df: DataFrame) =
    df.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.headOption

  private def alive(df: DataFrame): Boolean =
    !df.sparkSession.sparkContext.isStopped &&
      backingRdd(df).exists(_.getStorageLevel != StorageLevel.NONE)

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
      // Evict entries of dead SparkContexts from BOTH maps (r13 advice
      // #2): correctness never depended on it (sharedRddIds filters by
      // live applicationId), but in long-lived multi-session JVMs — the
      // test suite, Bench's isolated-adjudication contexts — the maps
      // otherwise grow one dead entry per (context, dir) forever.
      import scala.jdk.CollectionConverters._
      val dead = cache.asScala.collect {
        case (key, df) if df.sparkSession.sparkContext.isStopped => key
      }.toSeq
      dead.foreach { key => cache.remove(key); sharedByKey.remove(key) }
      sharedByKey.asScala.keys.filterNot(cache.containsKey)
        .foreach(sharedByKey.remove)
      val op = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val pw = op.as("a").join(op.as("b"),
          col("a.o") === col("b.o") && col("a.p") =!= col("b.p"))
        .groupBy(col("a.p").as("src"), col("b.p").as("dst"))
        .agg(count(lit(1)).as("w"))
        .localCheckpoint()
      backingRdd(pw).foreach(r => sharedByKey.put(k, r.id))
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
