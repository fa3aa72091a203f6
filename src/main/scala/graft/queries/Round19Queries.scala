package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-19 (r13 verdict #1): the end-to-end certified corpus-construction
  * pipeline — the reference's whole-pipeline dataflow idea
  * (`/root/reference/src/lib.rs:45-68` chains producer → stages → consumer;
  * the Enron map-reduce intent at `tests/enron_test.rs:1-2`) rendered at
  * north-star scope: what a user of this library actually RUNS to turn a
  * raw crawl into training data, as ONE query whose every stage is an
  * already-certified operator and whose output is the per-stage
  * conservation ledger (docs in / kept / dropped-by-reason at each stage).
  */
object Round19Queries {

  /** x250: filter → dedup-retain → apportion → pack, with conservation
    * accounting. Stage composition (each stage consumes the previous
    * stage's survivors — the semantics a chained production pipeline
    * has, NOT four independent passes over the raw corpus):
    *
    *  1. **filter** — x156's MassiveText-style audit verbatim
    *     ([[Round6bQueries.filterReport]]): every doc gets a keep/drop
    *     reason in fixed priority order.
    *  2. **dedup** — x200's quality-canonical retention over the
    *     SURVIVORS: LSH near-dup clusters (provably ≡ exact pairs on
    *     this fixture, the x03/x43 equivalence), and from each cluster
    *     only the best-quality (then min-id) member survives. Restricting
    *     pairs to survivors is sound because Jaccard is pair-local: the
    *     oracle takes the full-corpus exact pairs and keeps those with
    *     both endpoints surviving — identical to re-running LSH on the
    *     survivor subset, which is what the Spark side does.
    *  3. **apportion** — x187's capacity-capped Hamilton apportionment
    *     of a 2/5 budget across sources, over the post-dedup corpus;
    *     per-source selection by doc_id rank. Integer-exact, fixpoint
    *     replayed round-for-round by the oracle's 4-round unroll.
    *  4. **pack** — x159's two-phase sequence packing over the selected
    *     docs; the ledger records the packed doc count and the total
    *     sequence count ⌈Σ tokens / 2048⌉ derived FROM the packed frame.
    *
    * Output: (stage, stage_name, reason, n_docs) — the data card a
    * corpus release ships. Conservation holds by construction and is
    * spec-pinned: Σ stage-1 classes = |corpus|, stage-2 classes
    * partition stage-1 'keep', stage-3 classes partition stage-2 'keep',
    * stage-4 'packed' = stage-3 'keep' = the exact integer budget.
    *
    * Scale: each stage is the certified operator's own plan (filter =
    * token-stream passes + doc-keyed joins; dedup = banded LSH bucket
    * joins over survivors only; apportion touches the corpus twice
    * regardless of fixpoint rounds; pack = 256-way partitioned prefix
    * sum). The only cross-stage data is doc_id keep-lists — narrow
    * equi-joins, shuffle keys of 8 bytes.
    */
  private def corpusPipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, TextAnalysis}
    val docs = Tables.documents(s, dir)

    // Stage 1: filter audit. Checkpointed — consumed by the ledger AND
    // as the survivor keep-list (x156's plan is 4 token passes; recomputing
    // it per consumer would double the pipeline's dominant cost).
    val fr = Round6bQueries.filterReport(s, dir).localCheckpoint()
    val kept1 = fr.filter(col("reason") === "keep").select("doc_id")
    // Byte-gated broadcast of the keep-list (r16, guide §2.3/§3.1): the
    // checkpointed audit carries no stats, so both consumers of `docs1`
    // (the LSH shingle pass and the quality scorer) planned the keep
    // join as a SortMergeJoin that exchanged the corpus WITH ITS TEXT
    // COLUMN — the fattest bytes in the pipeline — to meet an id list.
    // Below the bar each consumer now streams the parquet scan through a
    // BroadcastHashJoin; past it, the former shuffle plan.
    val keptBytes = kept1.count() * 8L
    val bar = Dedup.effectiveBroadcastBar(s)
    def gatedKeep(d: DataFrame) = Dedup.gatedBroadcast(d, keptBytes, bar)
    val docs1 = docs.join(gatedKeep(kept1), "doc_id")

    // Stage 2: quality-canonical near-dup retention over survivors.
    val clusters = Dedup.dedupClusters(Dedup.minhashLshPairs(docs1, 0.8))
    // Materialized (r16): `cj` feeds two plan arms (m + canon) and its
    // lineage contains the qualityScore TOKEN PASS over the survivors —
    // lazily that pass ran twice per execution (the x200 fix, same shape).
    val cj = clusters.join(
      TextAnalysis.qualityScore(docs1).select("doc_id", "quality"), "doc_id")
      .localCheckpoint()
    val m = cj.groupBy("cluster_id").agg(max(col("quality")).as("bq"))
    val canon = cj.join(m, "cluster_id")
      .filter(col("quality") === col("bq"))
      .groupBy("cluster_id").agg(min(col("doc_id")).as("canonical"))
    val dropped2 = clusters.join(canon, "cluster_id")
      .filter(col("doc_id") =!= col("canonical"))
      .select("doc_id")
    val s2 = kept1
      .join(dropped2.withColumn("dup", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("dup"), "near_dup").otherwise("keep").as("reason"))
      .localCheckpoint() // ledger + stage-3 input
    val docs2 = docs.join(
      gatedKeep(s2.filter(col("reason") === "keep").select("doc_id")),
      "doc_id") // kept2 ⊆ kept1, so the measured byte gate still bounds it
      .localCheckpoint() // 3 consumers: ps, nt, selection

    // Stage 3: capacity-capped Hamilton apportionment (x187's recipe
    // weights — the planted src0 over-weight keeps the capacity cascade
    // live in the composed pipeline too).
    val ps = docs2.groupBy("source").agg(count(lit(1)).as("n_src"))
      .withColumn("w",
        when(col("source") === "src0", lit(40L))
          .otherwise((pmod(ascii(expr("substr(source, length(source), 1)")),
            lit(5)) + 1).cast("long")))
    val nt = docs2.agg(expr("count(1) * 2 DIV 5").as("n_budget"))
    val (alloc, _) = Round10Queries.cappedHamilton(ps, nt)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
    val sel = docs2.join(broadcast(alloc), "source")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("alloc"))
      .select("doc_id", "source", "text")
    val s3 = docs2.select("doc_id")
      .join(sel.select(col("doc_id"), lit(true).as("in_sel")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("in_sel"), "keep").otherwise("over_budget").as("reason"))
      .localCheckpoint() // ledger + stage-4 input via sel

    // Stage 4: sequence packing over the selection; the ledger derives
    // the sequence count from the packed frame itself.
    val packed = Round8Queries.sequencePackDocs(sel)
    val a4 = packed.agg(count(lit(1)).as("packed"),
      expr("CAST((coalesce(sum(n_tok), 0) + 2047) DIV 2048 AS BIGINT)")
        .as("seqs"))

    def ledger(stage: Long, name: String, classes: DataFrame): DataFrame =
      classes.groupBy("reason").agg(count(lit(1)).as("n_docs"))
        .select(lit(stage).as("stage"), lit(name).as("stage_name"),
          col("reason"), col("n_docs"))
    val a0 = docs.agg(count(lit(1)).as("n_docs"))
      .select(lit(0L).as("stage"), lit("input").as("stage_name"),
        lit("all").as("reason"), col("n_docs"))
    val a1 = ledger(1L, "filter", fr)
    val a2 = ledger(2L, "dedup", s2)
    val a3 = ledger(3L, "apportion", s3)
    val a4rows = a4.select(lit(4L).as("stage"), lit("pack").as("stage_name"),
        lit("packed").as("reason"), col("packed").as("n_docs"))
      .unionByName(a4.select(lit(4L).as("stage"), lit("pack").as("stage_name"),
        lit("sequences").as("reason"), col("seqs").as("n_docs")))
    a0.unionByName(a1).unionByName(a2).unionByName(a3).unionByName(a4rows)
      .orderBy("stage", "reason")
  }

  private val corpusPipelineSql: String = {
    import graft.operators.{Dedup, TextAnalysis}
    val hamilton = Round10Queries.cappedHamiltonSqlPrefix(
      s"""SELECT source, count(*) AS n_src,
         |          CASE WHEN source = 'src0' THEN 40
         |               ELSE (ascii(substr(source, length(source), 1)) % 5) + 1
         |          END AS w
         |   FROM d2docs GROUP BY 1""".stripMargin,
      "SELECT count(*) * 2 // 5 AS n_budget FROM d2docs")
      .stripPrefix("WITH ")
    // Every non-recursive CTE is MATERIALIZED: DuckDB inlines plain CTEs,
    // and `edges` is referenced INSIDE the recursive `reach` — inlined, its
    // whole upstream (the all-pairs 3-gram Jaccard over the corpus, with
    // the shingle extraction appearing four times) was re-evaluated EVERY
    // fixpoint iteration. Measured at sf0.01: 572 s inlined → 1.3 s
    // materialized, byte-identical result (r15 verdict #1: this one oracle
    // was most of the driver compare's window).
    s"""WITH RECURSIVE
       | fr AS MATERIALIZED (SELECT doc_id, reason FROM (${Round6bQueries.filterReportSql}) f),
       | kept1 AS MATERIALIZED (SELECT doc_id FROM fr WHERE reason = 'keep'),
       | p0 AS MATERIALIZED (${Dedup.ngramJaccardPairsSql(0.8)}),
       | p AS MATERIALIZED (SELECT p0.a, p0.b FROM p0
       |       JOIN kept1 ka ON p0.a = ka.doc_id
       |       JOIN kept1 kb ON p0.b = kb.doc_id),
       | edges AS MATERIALIZED (SELECT a, b FROM p UNION ALL SELECT b AS a, a AS b FROM p),
       | reach(src, dst) AS (
       |   SELECT DISTINCT a AS src, a AS dst FROM edges
       |   UNION
       |   SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON r.dst = e.a
       | ),
       | cl AS MATERIALIZED (SELECT src AS doc_id, min(dst) AS cluster_id
       |        FROM reach GROUP BY 1),
       | q AS MATERIALIZED (${TextAnalysis.qualityScoreSql}),
       | cj AS MATERIALIZED (SELECT cl.doc_id, cl.cluster_id, q.quality
       |        FROM cl JOIN q ON cl.doc_id = q.doc_id),
       | mm AS MATERIALIZED (SELECT cluster_id, max(quality) AS bq FROM cj GROUP BY 1),
       | canon AS MATERIALIZED (SELECT cj.cluster_id, min(cj.doc_id) AS canonical
       |           FROM cj JOIN mm ON cj.cluster_id = mm.cluster_id
       |                          AND cj.quality = mm.bq
       |           GROUP BY 1),
       | dropped2 AS MATERIALIZED (SELECT cj.doc_id FROM cj
       |              JOIN canon ON cj.cluster_id = canon.cluster_id
       |              WHERE cj.doc_id <> canon.canonical),
       | s2 AS MATERIALIZED (SELECT k.doc_id,
       |               CASE WHEN d2.doc_id IS NOT NULL THEN 'near_dup'
       |                    ELSE 'keep' END AS reason
       |        FROM kept1 k LEFT JOIN dropped2 d2 ON k.doc_id = d2.doc_id),
       | d2docs AS MATERIALIZED (SELECT d.doc_id, d.source, d.text FROM documents d
       |            JOIN s2 ON d.doc_id = s2.doc_id AND s2.reason = 'keep'),
       | $hamilton,
       | sel AS MATERIALIZED (SELECT doc_id, source FROM (
       |           SELECT doc_id, source,
       |                  row_number() OVER (PARTITION BY source
       |                                     ORDER BY doc_id) AS rn
       |           FROM d2docs) dd
       |         JOIN alloc USING (source) WHERE dd.rn <= alloc.alloc),
       | s3 AS MATERIALIZED (SELECT dd.doc_id,
       |               CASE WHEN sel.doc_id IS NOT NULL THEN 'keep'
       |                    ELSE 'over_budget' END AS reason
       |        FROM d2docs dd LEFT JOIN sel ON dd.doc_id = sel.doc_id),
       | toks AS MATERIALIZED (SELECT d.doc_id,
       |                 len(list_filter(string_split(d.text, ' '),
       |                                 x -> x <> '')) AS n_tok
       |          FROM documents d
       |          JOIN sel ON d.doc_id = sel.doc_id),
       | a4 AS (SELECT CAST(count(*) AS BIGINT) AS packed,
       |               CAST((coalesce(sum(n_tok), 0) + 2047) // 2048 AS BIGINT)
       |                 AS seqs
       |        FROM toks)
       |SELECT stage, stage_name, reason, n_docs FROM (
       |  SELECT CAST(0 AS BIGINT) AS stage, 'input' AS stage_name,
       |         'all' AS reason, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM documents
       |  UNION ALL
       |  SELECT CAST(1 AS BIGINT), 'filter', reason,
       |         CAST(count(*) AS BIGINT) FROM fr GROUP BY 3
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), 'dedup', reason,
       |         CAST(count(*) AS BIGINT) FROM s2 GROUP BY 3
       |  UNION ALL
       |  SELECT CAST(3 AS BIGINT), 'apportion', reason,
       |         CAST(count(*) AS BIGINT) FROM s3 GROUP BY 3
       |  UNION ALL
       |  SELECT CAST(4 AS BIGINT), 'pack', 'packed', packed FROM a4
       |  UNION ALL
       |  SELECT CAST(4 AS BIGINT), 'pack', 'sequences', seqs FROM a4
       |) ledger
       |ORDER BY stage, reason""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("x250_corpus_pipeline", corpusPipeline, Some(corpusPipelineSql)))
}
