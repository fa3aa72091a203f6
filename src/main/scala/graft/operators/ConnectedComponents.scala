package graft.operators

import graft.{Checkpoints, QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Alternating large-star/small-star connected components (Kiveris et al.
  * 2014, "Connected Components in MapReduce and Beyond") — the
  * O(log n)-round scalable twin of [[Dedup.dedupClusters]]' min-label
  * propagation.
  *
  * Why a second CC rendering: min-label propagation converges in
  * O(diameter) rounds — fine for near-dup clusters (tiny diameters), a
  * scale-killer on chain-shaped components (a length-L path needs L
  * rounds, each a full edge-relabel shuffle). The star algorithm
  * contracts components to stars in O(log n) rounds regardless of
  * diameter, and large-star splits high-degree neighborhoods instead of
  * funneling them through one label — the 100 TB path for general graphs.
  *
  * Round structure: LARGE-STAR connects every neighbor larger than u to
  * u's minimum neighbor (or u itself); SMALL-STAR re-parents every
  * neighbor ≤ u (and u) to the minimum of that set. At the fixpoint the
  * edge set is a forest of stars centered at component minima, so the
  * label table reads directly off the edges. Each phase is one
  * per-node window aggregation (partitioned by node — state bounded by
  * max degree, which large-star itself keeps shrinking); convergence is
  * checked with an exact multiset diff (±1 tally per canonical edge)
  * over the already-checkpointed iterates, never a hash certificate.
  */
object ConnectedComponents {

  /** Components of the undirected pair graph; returns (doc_id, cluster_id)
    * with cluster_id = the component's minimum node — identical output to
    * [[Dedup.dedupClusters]], so x172 shares x43's oracle verbatim.
    */
  def alternatingStar(pairs: DataFrame): DataFrame =
    alternatingStarWithRounds(pairs)._1

  /** [[alternatingStar]] plus the number of large+small-star rounds it
    * ran — the observable behind the O(log n) claim
    * (`ConnectedComponentsSpec` measures it against min-label
    * propagation's O(diameter) count on a path graph).
    */
  private[graft] def alternatingStarWithRounds(pairs: DataFrame)
      : (DataFrame, Int) = {
    // Exact fixpoint check on the two checkpointed iterates: multiset
    // tally per canonical edge — ±1 cancels iff the sets are equal.
    // Runs on materialized blocks (no recompute); rounds are O(log n).
    val same = (prev: DataFrame, next: DataFrame, _: Int) =>
      next.select(col("a"), col("b"), lit(1L).as("s"))
        .unionByName(prev.select(col("a"), col("b"), lit(-1L).as("s")))
        .groupBy("a", "b").agg(sum(col("s")).as("s"))
        .filter(col("s") =!= 0L)
        .isEmpty
    // Canonical undirected edges (a < b), deduped; self-loops dropped.
    val (edges, rounds) = GraphLoops.fixpoint(
        Checkpoints.local(pairs
          .select(least(col("a"), col("b")).as("a"),
            greatest(col("a"), col("b")).as("b"))
          .filter(col("a") =!= col("b"))
          .distinct()),
        Int.MaxValue, Some(same)) { (edges, _) =>
      // Large-star: symmetrize; per node u with neighborhood N(u),
      // m = min(N(u) ∪ {u}); emit (v, m) for every v ∈ N(u), v > u.
      val sym = edges.select(col("a").as("u"), col("b").as("v"))
        .union(edges.select(col("b").as("u"), col("a").as("v")))
      val wU = Window.partitionBy("u")
      val ls = sym
        .withColumn("m", least(min(col("v")).over(wU), col("u")))
        .filter(col("v") > col("u"))
        .select(col("m").as("a"), col("v").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()

      // Small-star: orient to (u = max, v = min); per u,
      // m = min(N≤(u) ∪ {u}) = min neighbor (all v < u); re-parent u and
      // every other small neighbor to m. ONE pass over the windowed rows:
      // each (u, v, m) row emits (m, v) when v isn't the min itself, and
      // the (m, u) re-parent rides the same row (deduped below, since u
      // repeats per neighbor) — a two-branch union would re-run the
      // large-star window per branch.
      val sm = ls.select(col("b").as("u"), col("a").as("v"))
      GraphLoops.Iterate(sm.withColumn("m", min(col("v")).over(wU))
        .select(col("m").as("a"), explode(
          when(col("v") =!= col("m"), array(col("v"), col("u")))
            .otherwise(array(col("u")))).as("b"))
        .filter(col("a") =!= col("b"))
        .distinct())
    }

    // Star forest: every edge is (center=min, leaf); centers label
    // themselves.
    (edges.select(col("b").as("doc_id"), col("a").as("cluster_id"))
      .union(edges.select(col("a").as("doc_id"), col("a").as("cluster_id")))
      .distinct(), rounds)
  }

  val queries: Seq[QueryDef] = Seq(
    // Shares x43's oracle VERBATIM (same pair graph, same (doc_id,
    // cluster_id) contract) — the hash gate proves the O(log n) algorithm
    // computes exactly the components the O(diameter) one does.
    QueryDef(
      "x172_cc_alternating_star",
      (s, dir) => alternatingStar(
        Dedup.minhashLshPairs(Tables.documents(s, dir), 0.8))
        .orderBy("doc_id"),
      Some(Dedup.clusterOracleSql))
  )
}
