package graft.operators

import graft.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The driver-side fixpoint loop, and the graph algorithms that run in it.
  *
  * [[fixpoint]] is the one loop every checkpointed iteration in the
  * library runs (x43/x172 components, the BFS, LPA and PageRank twins):
  * every iterate localCheckpointed, an optional stopping probe over the
  * two materialized iterates (no recompute), and the PRIOR iterate's
  * blocks dropped (`QueryDef.dropCheckpoint`) the moment the probe has
  * consumed them, so the live footprint is O(1) iterates no matter how
  * many rounds run.
  *
  * x144 PageRank, x201 LPA and x226 BFS unroll a FIXED round count so
  * their trajectories are DuckDB-oracle-replayable; their convergence
  * twins here run the identical per-round relational body — the same
  * function, not a copy — driven by a data-dependent stopping rule (one
  * cheap driver probe per round: an `isEmpty` on the just-checkpointed
  * iterate, or a 1-row max-delta aggregate). A budgeted query passes no
  * probe and runs exactly its budget.
  *
  * Equivalence is spec-gated (GraphLoopSpec) and, where the stopping
  * rule genuinely lands on the unrolled trajectory, oracle-gated too:
  * BFS's frontier-exhaustion loop is the declared query x227 with its
  * own recursive-CTE oracle. LPA and PageRank have NO useful finite
  * fixpoint (measured: min-tie LPA floods to one label per region at its
  * true fixpoint; integer PageRank keeps moving), so their loop modes
  * are budget/tolerance-driven and spec-gated only: at the unrolled
  * budget they reproduce x201/x144 bitwise, and at production settings
  * they self-terminate with measured round counts.
  *
  * Graph inputs come from [[CoPurchaseGraph]] (the shared per-run edge
  * table), so the loop twins add no derivation cost to the suite.
  */
object GraphLoops {

  /** One round of a [[fixpoint]]: the next iterate (lazy) and the
    * checkpoints the round made for its own use, freed together with the
    * prior iterate once the next one is materialized.
    */
  private[graft] final case class Iterate(next: DataFrame, scratch: DataFrame*)

  /** Runs `step` from the materialized `init` (the caller checkpoints it;
    * the loop owns it from here) for at most `maxRounds` rounds. Each
    * round local-checkpoints the step's iterate, asks `converged(prior,
    * next, round)` on the two materialized iterates, then drops the
    * prior iterate and the round's scratch. With no probe the loop runs
    * exactly `maxRounds` rounds and one checkpoint job per round beyond
    * whatever the step itself runs. Returns the final (materialized)
    * iterate and the rounds run.
    */
  private[graft] def fixpoint(init: DataFrame, maxRounds: Int,
      converged: Option[(DataFrame, DataFrame, Int) => Boolean] = None)(
      step: (DataFrame, Int) => Iterate): (DataFrame, Int) = {
    var cur = init
    var rounds = 0
    var done = false
    while (!done && rounds < maxRounds) {
      rounds += 1
      val round = step(cur, rounds)
      val next = round.next.localCheckpoint()
      done = converged.exists(_(cur, next, rounds))
      (cur +: round.scratch).foreach(QueryDef.dropCheckpoint)
      cur = next
    }
    (cur, rounds)
  }

  /** Single-source BFS layers from the max-degree node of the strong
    * co-purchase graph: round r joins the (r−1)-frontier to the edges
    * and anti-joins the reached set. `exhaust` adds the frontier probe
    * (stop once a round reaches nothing new, so the final round is the
    * empty-frontier confirm); without it exactly `maxRounds` rounds run.
    * Returns the layer report — (dist, n_nodes, min_node), dist −1 for
    * every node not reached — and the rounds run.
    */
  private[graft] def bfs(s: SparkSession, dir: String, maxRounds: Int,
      exhaust: Boolean): (DataFrame, Int) = {
    val edges = CoPurchaseGraph.strong(s, dir)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("d"))
    val maxd = deg.agg(max(col("d")).as("md"))
    val source = deg.join(broadcast(maxd), col("d") === col("md"))
      .agg(min(col("src")).as("node"))
    val grewNothing = (_: DataFrame, reached: DataFrame, r: Int) =>
      reached.filter(col("dist") === r.toLong).isEmpty
    val (reached, rounds) = fixpoint(
        source.select(col("node"), lit(0L).as("dist")).localCheckpoint(),
        maxRounds, Option.when(exhaust)(grewNothing)) { (reached, r) =>
      val frontier = reached.filter(col("dist") === (r - 1).toLong)
        .select(col("node").as("src"))
      val next = edges.join(frontier, "src")
        .select(col("dst").as("node")).distinct()
        .join(reached.select("node"), Seq("node"), "left_anti")
        .withColumn("dist", lit(r.toLong))
      Iterate(reached.unionByName(next))
    }
    val out = edges.select(col("src").as("node")).distinct()
      .join(reached, Seq("node"), "left")
      .select(col("node"), coalesce(col("dist"), lit(-1L)).as("dist"))
      .groupBy("dist")
      .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"))
      .orderBy("dist")
    (out, rounds)
  }

  /** Single-source BFS layers to frontier exhaustion (x227). Returns the
    * layer report (identical projection to x226) and the number of
    * expansion rounds attempted (the final round is the empty-frontier
    * confirm).
    */
  def bfsConverged(s: SparkSession, dir: String, maxRounds: Int = 64)
      : (DataFrame, Int) = bfs(s, dir, maxRounds, exhaust = true)

  /** Synchronous min-tie label propagation over the strong co-purchase
    * graph (x201's round): per round, the plurality table `cnt` of
    * (node, neighbor label) counts is checkpointed once — it feeds both
    * the per-node max and the tie-break join (r16: lazily, a 3-round plan
    * held 2³ copies of round 1, 58 Exchanges) — and the |V|-sized sides
    * broadcast under the measured node-count gate, so the edge list
    * streams from the shared checkpointed blocks. `cnt` is freed with
    * the prior labels once the round's labels are materialized.
    * `untilFixpoint` adds the label-fixpoint probe; without it exactly
    * `maxRounds` rounds run. Returns the community report —
    * (community, n_members, first_member) — and the rounds run.
    */
  private[graft] def lpa(s: SparkSession, dir: String, maxRounds: Int,
      untilFixpoint: Boolean): (DataFrame, Int) = {
    val edges = CoPurchaseGraph.strong(s, dir)
    val labels0 = edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
      .localCheckpoint()
    val nodeBytes = labels0.count() * 16L
    val bar = Dedup.effectiveBroadcastBar(s)
    def gated(d: DataFrame) = Dedup.gatedBroadcast(d, nodeBytes, bar)
    // Node sets of two iterates are identical by construction (every
    // node has >= 1 neighbor), so an inner join compares every label.
    val unchanged = (prev: DataFrame, labels: DataFrame, _: Int) => labels
      .join(prev.withColumnRenamed("lbl", "plbl"), "node")
      .filter(col("lbl") =!= col("plbl"))
      .isEmpty
    val (labels, rounds) = fixpoint(labels0, maxRounds,
        Option.when(untilFixpoint)(unchanged)) { (labels, _) =>
      val cnt = edges
        .join(gated(labels.withColumnRenamed("node", "dst")), "dst")
        .groupBy(col("src").as("node"), col("lbl")).agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val mx = cnt.groupBy("node").agg(max(col("c")).as("mc"))
      Iterate(cnt.join(gated(mx), "node").filter(col("c") === col("mc"))
        .groupBy("node").agg(min(col("lbl")).as("lbl")), cnt)
    }
    val out = labels.groupBy("lbl")
      .agg(count(lit(1)).as("n_members"), min(col("node")).as("first_member"))
      .select(col("lbl").as("community"), col("n_members"),
        col("first_member"))
      .orderBy("community")
    (out, rounds)
  }

  /** Synchronous min-tie label propagation under a budget-with-early-exit
    * loop: stops at label fixpoint OR after `maxRounds`, whichever first.
    * Returns the community report (identical projection to x201) and the
    * rounds run.
    *
    * Measured honesty (GraphLoopSpec): run to its TRUE fixpoint, min-tie
    * LPA on this graph FLOODS — plurality ties resolve to the min label
    * so the min label of each dense region keeps expanding, and the
    * fixpoint is one label per connected region (~connected components),
    * not communities. That is the textbook reason production LPA runs a
    * FIXED round budget (Raghavan et al. use early stopping on change
    * counts for the same reason); the x201 unroll at 3 rounds IS the
    * production stopping rule, and this loop mode contributes the
    * early-exit (a converged graph stops paying for dead rounds) plus
    * the O(1)-iterate checkpoint hygiene for when the budget is large.
    */
  def lpaConverged(s: SparkSession, dir: String, maxRounds: Int = 64)
      : (DataFrame, Int) = lpa(s, dir, maxRounds, untilFixpoint = true)

  /** x144's PageRank over the directed co-purchase graph (the per-run
    * shared table, consumed by deg, nodes and every round's join): the
    * initial rank iterate (every node at 10^6, lazy) and the gated
    * round. `deg` and `nodes` are checkpointed once; every per-round join
    * partner (deg, the rank iterate, the contribution aggregate) is
    * |V|-sized while `edges` is |E|-sized, but checkpointed inputs carry
    * no stats (r16: ungated, all 9 joins of the 3-round plan were
    * SortMergeJoins exchanging the EDGE list, 14 Exchanges), so the
    * |V|-sized sides broadcast under the measured node-count gate and the
    * edge list streams straight from its blocks. Past the bar every join
    * falls back to the exact shuffle plan.
    */
  private[graft] def pagerankRound(s: SparkSession, dir: String)
      : (DataFrame, DataFrame => DataFrame) = {
    val edges = CoPurchaseGraph.directed(s, dir)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .localCheckpoint()
    val nodes = edges.select(col("src").as("node")).distinct()
      .localCheckpoint()
    val nodeBytes = nodes.count() * 16L
    val bar = Dedup.effectiveBroadcastBar(s)
    def gated(d: DataFrame) = Dedup.gatedBroadcast(d, nodeBytes, bar)
    (nodes.withColumn("r", lit(1000000L)), r => {
      val contrib = edges
        .join(gated(r.withColumnRenamed("node", "src")), "src")
        .join(gated(deg), "src")
        .select(col("dst").as("node"), expr("r div outdeg").as("contrib"))
      nodes
        .join(gated(contrib.groupBy("node").agg(sum("contrib").as("sc"))),
          Seq("node"), "left")
        .select(col("node"),
          expr("150000 + (850000 * coalesce(sc, 0)) div 1000000").as("r"))
    })
  }

  /** The top-20 report of a rank iterate (x144's projection). */
  private[graft] def pagerankTop20(r: DataFrame): DataFrame =
    r.select(col("node").as("part_id"), col("r").cast("long").as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("part_id")).limit(20)

  /** PageRank iterated until max |Δ rank_scaled| <= tolScaled (ranks are
    * 10^6-scaled integers, so tolScaled = 10000 means 1%). Returns the
    * top-20 report (identical projection to x144) and the rounds run.
    * With tolScaled = 0 the loop never self-stops and runs exactly
    * `maxRounds` rounds — (0, 3) is the spec's bitwise-equality probe
    * against the unrolled x144 plan.
    */
  def pagerankConverged(s: SparkSession, dir: String, tolScaled: Long,
      maxRounds: Int): (DataFrame, Int) = {
    val (r0, round) = pagerankRound(s, dir)
    // 1-row driver probe per round over the two materialized iterates.
    val settled = (prev: DataFrame, r: DataFrame, _: Int) => r
      .join(prev.withColumnRenamed("r", "pr"), "node")
      .agg(max(abs(col("r") - col("pr"))).as("d"))
      .collect()(0).getLong(0) <= tolScaled
    val (r, rounds) = fixpoint(r0.localCheckpoint(), maxRounds,
      Option.when(tolScaled > 0L)(settled))((r, _) => Iterate(round(r)))
    (pagerankTop20(r), rounds)
  }
}
