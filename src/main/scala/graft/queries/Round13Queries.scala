package graft.queries

import graft.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Round-13 batch 2: graph distance layers. */
object Round13Queries {

  // ---- x226: BFS hop-distance layers ------------------------------------

  /** x226: unweighted single-source shortest-path layers (BFS) over the
    * x201 co-purchase graph — the DISTANCE primitive the graph family
    * lacked (components say "reachable at all", PageRank says
    * "important", k-core says "dense"; BFS says "how far", which is what
    * link-distance features and crawl-depth audits consume).
    *
    * Frontier-relational rendering: round r joins the (r−1)-frontier to
    * the edge list and anti-joins the already-reached set — each round is
    * one equi-join + one anti-join, the frontier never re-expands settled
    * nodes (label-correcting BFS, not Bellman-Ford re-relaxation). The
    * round is [[graft.operators.GraphLoops.bfs]]'s, run under the
    * fixpoint loop with a FIXED budget of 4 and no stopping probe (the
    * x144/x201 fixed-budget decision: a data-dependent stop can't be
    * replayed by a plain oracle), each iterate checkpointed and the
    * prior one dropped; the residual bucket (dist = −1) is emitted rather
    * than hidden, and it holds BOTH the unreachable nodes and anything
    * deeper than the budget — measured: at sf0.001 the graph settles in
    * ≤4 hops so −1 is purely unreachable, while at sf0.01 layers 5–9
    * exist and fold into −1 here. The convergence-loop twin x227
    * ([[graft.operators.GraphLoops.bfsConverged]], its own
    * recursive-CTE oracle) runs the same round with the frontier probe;
    * the difference between the two −1 buckets is exactly the
    * budget-vs-diameter gap.
    *
    * Determinism: pure set algebra on integers — no scores, no ties.
    * Source = the MAX-DEGREE node (exact two-step argmax: max degree,
    * then min id among ties — single-pass max_by is tie-nondeterministic,
    * the x200 lesson), broadcast as one row. Degree-anchoring matters:
    * the min-id source sits in a 2-node island at sf0.1 and the walk
    * explores nothing; the hub source keeps every layer live at every SF.
    */
  private def graphBfs(s: SparkSession, dir: String): DataFrame =
    graft.operators.GraphLoops.bfs(s, dir, maxRounds = 4, exhaust = false)._1

  private def bfsStep(i: Int): String = {
    val p = s"r${i - 1}"
    s"""r$i AS (
       |  SELECT node, dist FROM $p
       |  UNION ALL
       |  SELECT DISTINCT e.dst AS node, $i AS dist
       |  FROM edges e JOIN $p f ON e.src = f.node AND f.dist = ${i - 1}
       |  WHERE e.dst NOT IN (SELECT node FROM $p))""".stripMargin
  }

  private[graft] val graphBfsSql: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |            FROM lineitem),
       | ew AS (SELECT a.p AS src, b.p AS dst, count(*) AS w
       |         FROM op a JOIN op b ON a.o = b.o AND a.p <> b.p
       |         GROUP BY 1, 2),
       | edges AS (SELECT src, dst FROM ew WHERE w >= 2),
       | deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
       | r0 AS (SELECT min(src) AS node, 0 AS dist FROM deg
       |        WHERE d = (SELECT max(d) FROM deg)),
       | ${bfsStep(1)},
       | ${bfsStep(2)},
       | ${bfsStep(3)},
       | ${bfsStep(4)},
       | nodes AS (SELECT DISTINCT src AS node FROM edges)
       |SELECT CAST(coalesce(r4.dist, -1) AS BIGINT) AS dist,
       |       CAST(count(*) AS BIGINT) AS n_nodes,
       |       CAST(min(nodes.node) AS BIGINT) AS min_node
       |FROM nodes LEFT JOIN r4 ON nodes.node = r4.node
       |GROUP BY 1 ORDER BY 1""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("x226_graph_bfs", graphBfs, Some(graphBfsSql)))
}
