package graft.queries

import graft.{Checkpoints, QueryDef, Tables}
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-11b: corpus lifecycle operators — row-level snapshot diffing
  * (the CDC audit behind incremental rebuilds), quality-aware canonical
  * election (the retention policy production dedup actually runs), and
  * label-propagation community detection (Raghavan et al. 2007).
  *
  * Same determinism regime as Round11Queries: 60-bit md5 fingerprints,
  * integer outputs, total-keyed ties, oracle-replayed trajectories.
  */
object Round11bQueries {

  private def h60(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  // ---- x199: snapshot diff ----------------------------------------------

  /** x199: row-level snapshot diff — per source, how many docs the next
    * crawl ADDED, REMOVED, CHANGED, and left UNCHANGED. This is the
    * operator x192's manifests exist to accelerate: the manifest says
    * WHICH sources moved, the diff says WHAT moved. The fixture has one
    * static corpus, so the "next crawl" is grafted relationally (the
    * x139/x193 idiom, oracle-replayed): every 13th doc dropped, every
    * 11th surviving doc revised, and every 17th doc re-keyed past the
    * old id range as an addition.
    *
    * Shape: both snapshots reduce to (doc_id, source, 60-bit full-row
    * hash) at the scan, then ONE full-outer equi-join on doc_id and a
    * per-source conditional aggregate — no window, no driver state. At
    * 100 TB the join shuffles both snapshots once, partitioned by
    * doc_id; with x192's manifests the unchanged sources never enter
    * the join at all (partition pruning on the manifest delta).
    */
  private def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    def rowHash(text: org.apache.spark.sql.Column) =
      h60(concat_ws("\u0001", col("doc_id").cast("string"), text,
        col("lang"), col("source"), col("n_chars").cast("string")))
    val old = docs.select(col("doc_id"), col("source"),
      rowHash(col("text")).as("h"))
    val mx = docs.agg((max(col("doc_id")) + 1).as("m"))
    val kept = docs.filter(col("doc_id") % 13 =!= 3)
      .select(col("doc_id"), col("source"),
        rowHash(when(col("doc_id") % 11 === 5, concat(col("text"), lit(" rev2")))
          .otherwise(col("text"))).as("h"))
    val added = docs.filter(col("doc_id") % 17 === 2)
      .crossJoin(broadcast(mx))
      .select((col("doc_id") + col("m")).as("doc_id"), col("source"),
        h60(concat_ws("\u0001", (col("doc_id") + col("m")).cast("string"),
          concat(lit("new "), col("text")), col("lang"), col("source"),
          col("n_chars").cast("string"))).as("h"))
    val nw = kept.unionByName(added)
    old.select(col("doc_id"), col("source").as("src_o"), col("h").as("h_o"))
      .join(nw.select(col("doc_id"), col("source").as("src_n"), col("h").as("h_n")),
        Seq("doc_id"), "full_outer")
      .select(coalesce(col("src_o"), col("src_n")).as("source"),
        col("h_o"), col("h_n"))
      .groupBy("source")
      .agg(
        sum(when(col("h_o").isNull, 1L).otherwise(0L)).as("added"),
        sum(when(col("h_n").isNull, 1L).otherwise(0L)).as("removed"),
        sum(when(col("h_o").isNotNull && col("h_n").isNotNull &&
          col("h_o") =!= col("h_n"), 1L).otherwise(0L)).as("changed"),
        sum(when(col("h_o") === col("h_n"), 1L).otherwise(0L)).as("unchanged"))
      .orderBy("source")
  }

  private val snapshotDiffSql: String =
    """WITH mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
      | old AS (SELECT doc_id, source,
      |           CAST('0x' || substr(md5(concat_ws(chr(1),
      |             CAST(doc_id AS VARCHAR), text, lang, source,
      |             CAST(n_chars AS VARCHAR))), 1, 15) AS BIGINT) AS h
      |         FROM documents),
      | kept AS (SELECT doc_id, source,
      |            CAST('0x' || substr(md5(concat_ws(chr(1),
      |              CAST(doc_id AS VARCHAR),
      |              CASE WHEN doc_id % 11 = 5 THEN text || ' rev2'
      |                   ELSE text END,
      |              lang, source, CAST(n_chars AS VARCHAR))), 1, 15)
      |              AS BIGINT) AS h
      |          FROM documents WHERE doc_id % 13 <> 3),
      | added AS (SELECT d.doc_id + mx.m AS doc_id, d.source,
      |             CAST('0x' || substr(md5(concat_ws(chr(1),
      |               CAST(d.doc_id + mx.m AS VARCHAR), 'new ' || d.text,
      |               d.lang, d.source, CAST(d.n_chars AS VARCHAR))), 1, 15)
      |               AS BIGINT) AS h
      |           FROM documents d, mx WHERE d.doc_id % 17 = 2),
      | nw AS (SELECT * FROM kept UNION ALL SELECT * FROM added),
      | j AS (SELECT coalesce(o.source, n.source) AS source,
      |              o.h AS h_o, n.h AS h_n
      |       FROM old o FULL OUTER JOIN nw n ON o.doc_id = n.doc_id)
      |SELECT source,
      |       CAST(sum(CASE WHEN h_o IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |         AS added,
      |       CAST(sum(CASE WHEN h_n IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |         AS removed,
      |       CAST(sum(CASE WHEN h_o IS NOT NULL AND h_n IS NOT NULL
      |                      AND h_o <> h_n THEN 1 ELSE 0 END) AS BIGINT)
      |         AS changed,
      |       CAST(sum(CASE WHEN h_o = h_n THEN 1 ELSE 0 END) AS BIGINT)
      |         AS unchanged
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- x200: quality-aware canonical election ---------------------------

  /** x200: quality-aware retention over near-dup clusters — production
    * dedup does NOT keep the first copy, it keeps the BEST copy (highest
    * quality score; CCNet, RefinedWeb). Clusters come from x43's
    * LSH-pair components verbatim; the election is argmax by
    * (quality, then min doc_id) rendered as the two-step max-join — per
    * cluster take max(quality), filter members at that maximum, take
    * min(doc_id) — because a single-pass max_by is tie-nondeterministic.
    * Emits (cluster_id, canonical, n_members, best_quality); contrast
    * x43 (min-id canonical) and x167 (re-election after deletion).
    *
    * Scale: the quality join touches only clustered docs (a small
    * fraction of the corpus — everything else is implicitly retained);
    * both aggregates are cluster-keyed hash aggregates.
    */
  private def qualityCanonical(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val clusters = Dedup.dedupClusters(Dedup.minhashLshPairs(docs, 0.8))
    // Materialized (r16): `cj` feeds two plan arms (m + canon) and its
    // lineage contains the qualityScore TOKEN PASS over the corpus —
    // lazily that pass ran twice per execution.
    val cj = Checkpoints.local(clusters.join(
      TextAnalysis.qualityScore(docs).select("doc_id", "quality"), "doc_id"))
    val m = cj.groupBy("cluster_id")
      .agg(max(col("quality")).as("best_quality"),
        count(lit(1)).as("n_members"))
    val canon = cj.join(m, "cluster_id")
      .filter(col("quality") === col("best_quality"))
      .groupBy("cluster_id").agg(min(col("doc_id")).as("canonical"))
    m.join(canon, "cluster_id")
      .select(col("cluster_id"), col("canonical"), col("n_members"),
        col("best_quality"))
      .orderBy("cluster_id")
  }

  private val qualityCanonicalSql: String =
    s"""WITH RECURSIVE
       | ${Dedup.clusterClosureCtesSql(0.8)},
       | q AS (${TextAnalysis.qualityScoreSql}),
       | cj AS (SELECT cl.doc_id, cl.cluster_id, q.quality
       |        FROM cl JOIN q ON cl.doc_id = q.doc_id),
       | m AS (SELECT cluster_id, max(quality) AS best_quality,
       |              count(*) AS n_members
       |       FROM cj GROUP BY 1),
       | canon AS (SELECT cj.cluster_id, min(cj.doc_id) AS canonical
       |           FROM cj JOIN m ON cj.cluster_id = m.cluster_id
       |                         AND cj.quality = m.best_quality
       |           GROUP BY 1)
       |SELECT m.cluster_id, canon.canonical,
       |       CAST(m.n_members AS BIGINT) AS n_members,
       |       CAST(m.best_quality AS BIGINT) AS best_quality
       |FROM m JOIN canon ON m.cluster_id = canon.cluster_id
       |ORDER BY m.cluster_id""".stripMargin

  // ---- x201: label-propagation communities ------------------------------

  /** x201: community detection by synchronous label propagation
    * (Raghavan, Albert & Kumara 2007) over the part co-purchase graph —
    * the cheap community finder (no modularity optimization, no global
    * state) that x172's components can't replace: components answer
    * "connected at all?", LPA's plurality rule carves DENSE regions out
    * of one connected component.
    *
    * Determinism (LPA is famously order-sensitive — asynchronous update
    * + random tie-breaks in the paper): synchronous rounds, a fixed
    * budget of 3 with no data-dependent stopping probe (like x144), and
    * the plurality argmax rendered as the exact two-step — max count,
    * then MIN label among the tied — so every engine, partitioning, and
    * run produces identical labels. The oracle replays the identical
    * trajectory round for round.
    *
    * Graph: association-strength pruned (edges co-purchased in >= 2
    * distinct orders). On the raw graph (every pair sharing ANY order)
    * min-tie LPA floods to ONE label in 3 rounds — density, not a bug;
    * the weighted prune is both the standard community-graph
    * construction and a 4× edge-set cut.
    *
    * The round is [[graft.operators.GraphLoops.lpa]]'s (plurality
    * checkpoint and broadcast gate documented there), shared with the
    * convergence twin `GraphLoops.lpaConverged` and run under the
    * fixpoint loop, which frees each prior label iterate and plurality
    * table. The final labels stay checkpointed: the returned report
    * reads their blocks, and nothing in the query frees them.
    */
  private def lpaCommunities(s: SparkSession, dir: String): DataFrame =
    graft.operators.GraphLoops.lpa(s, dir, maxRounds = 3,
      untilFixpoint = false)._1

  private def lpaStep(prev: String, i: Int): String =
    s"""c$i AS (SELECT e.src AS node, l.lbl, count(*) AS c
       |        FROM edges e JOIN $prev l ON e.dst = l.node GROUP BY 1, 2),
       | m$i AS (SELECT node, max(c) AS mc FROM c$i GROUP BY 1),
       | l$i AS (SELECT c$i.node, min(c$i.lbl) AS lbl
       |         FROM c$i JOIN m$i ON c$i.node = m$i.node AND c$i.c = m$i.mc
       |         GROUP BY 1)""".stripMargin

  private[graft] val lpaSql: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |            FROM lineitem),
       | ew AS (SELECT a.p AS src, b.p AS dst, count(*) AS w
       |         FROM op a JOIN op b ON a.o = b.o AND a.p <> b.p
       |         GROUP BY 1, 2),
       | edges AS (SELECT src, dst FROM ew WHERE w >= 2),
       | l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
       | ${lpaStep("l0", 1)},
       | ${lpaStep("l1", 2)},
       | ${lpaStep("l2", 3)}
       |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members,
       |       CAST(min(node) AS BIGINT) AS first_member
       |FROM l3 GROUP BY 1 ORDER BY 1""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("x199_snapshot_diff", snapshotDiff, Some(snapshotDiffSql)),
    QueryDef("x200_quality_canonical", qualityCanonical,
      Some(qualityCanonicalSql)),
    QueryDef("x201_lpa_communities", lpaCommunities, Some(lpaSql)))
}
