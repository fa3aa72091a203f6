package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding-space labeling ops over the labeled `embeddings` table — the
  * weak-supervision half of a training-data pipeline: propagate labels to
  * unlabeled points (kNN vote) and mine contrastive training pairs (hard
  * negatives). The reference has no vector or label surface (SURVEY.md
  * §2.B).
  *
  * Scale shape (100 TB): both ops are probe-set-against-corpus — the probe
  * block BROADCASTS, each corpus row scores against all probes in one
  * fused-cosine projection (graft_cosine, whole-stage codegen), and the
  * per-probe argmax/top-k windows prune to per-partition heaps
  * (WindowGroupLimit) before the shuffle, so the shuffle carries ≤ k rows
  * per (partition, probe), never the n×q score matrix. Beyond brute-force
  * scale, the same vote/mine tail composes onto the ANN candidate
  * generators (x81/x138/x23) — swap the scored input, keep the windows.
  *
  * Determinism: graft_cosine is bit-identical to DuckDB's
  * list_dot_product/(sqrt·sqrt) composition (same ascending accumulation);
  * scores round to 6 decimals (x89 idiom); votes are integers; every rank
  * window carries a total deterministic tie-break.
  */
object Labeling {

  // ONE definition with the ANN recall certification (r12 advice #3):
  // x230 composes this module's vote tail onto Similarity's banded
  // candidates, and its oracle SQL is generated from RecallCert — four
  // independently-editable constants that merely agreed would let an
  // edit to either pair silently desynchronize the engine from its
  // oracle until the hash gate failed at bench time.
  private val MaxProbeId = Similarity.RecallCert.probeSet
  private val K = Similarity.RecallCert.k

  private def toDouble(c: Column): Column =
    transform(c, (x: Column) => x.cast("double"))

  /** Probe rows scored against every non-probe corpus row. */
  private def scored(spark: SparkSession, emb: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val probes = emb.filter(col("vec_id") < MaxProbeId)
      .select(col("vec_id").as("qid"),
        col("label").cast("long").as("qlabel"),
        toDouble(col("embedding")).as("q"))
    emb.filter(col("vec_id") >= MaxProbeId)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        toDouble(col("embedding")).as("e"))
      .crossJoin(broadcast(probes))
      .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
        VectorOps.cos6(col("e"), col("q")).as("cos_sim"))
  }

  /** x173: kNN label vote — majority label among the k nearest labeled
    * neighbors, ties broken toward the smaller label (then the vote count
    * itself is emitted so the margin is auditable).
    */
  def knnClassify(spark: SparkSession, emb: DataFrame): DataFrame = {
    val wTop = Window.partitionBy("qid")
      .orderBy(desc("cos_sim"), asc("vec_id"))
    val wVote = Window.partitionBy("qid")
      .orderBy(desc("votes"), asc("label"))
    scored(spark, emb)
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= K)
      .groupBy("qid", "label")
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
      .select(col("qid"), col("label").as("pred_label"), col("votes"))
      .orderBy("qid")
  }

  /** x230: the ANN-BACKED kNN classifier (r11 verdict #6) — x173's vote
    * tail composed onto x185's escalated candidate generator instead of
    * the brute-force corpus scan, at radius 2 (the x185-certified floor
    * radius: smallest radius whose recall@k clears 90% on every probe
    * query — the tuning story x185 exists to close). The vote windows,
    * k, tie-breaks, and corpus definition (vec_id >= probe set) are
    * x173's verbatim; only the scored input changes — exactly the
    * composition Labeling's Scaladoc promised.
    *
    * The per-query `cands` column is the scanned-row budget the ANN
    * route paid (vs the full corpus x173 scans per probe) — hash-gated
    * through the oracle so the sub-corpus claim is data, not prose.
    * AnnKnnSpec pins >= 90% label agreement with the exact x173 path
    * and the budget ratio. On this near-uniform fixture the radius-2
    * budget is a large corpus fraction (the x185 data property); on
    * clustered real embeddings the same plan pays a small one.
    *
    * Scale: one banded-index pass + broadcast probe sequence (x185's
    * shape) replaces x173's per-probe full-corpus scan — the brute-force
    * path is O(|corpus| · |probes|) cosines ALWAYS, the ANN path is
    * O(|candidates|) where the index concentrates.
    */
  def annKnnClassify(spark: SparkSession, emb: DataFrame): DataFrame = {
    val wTop = Window.partitionBy("qid")
      .orderBy(desc("cos_sim"), asc("vec_id"))
    val wVote = Window.partitionBy("qid")
      .orderBy(desc("votes"), asc("label"))
    val cand = Similarity.escalatedCandidates(spark, emb)
      .filter(col("vec_id") >= MaxProbeId) // x173's corpus: non-probe rows
      .select("qid", "vec_id", "cos_sim")
    val budget = cand.groupBy("qid").agg(count(lit(1)).as("cands"))
    cand
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= K)
      .join(emb.select(col("vec_id"), col("label").cast("long").as("label")),
        "vec_id")
      .groupBy("qid", "label")
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
      .join(budget, "qid")
      .select(col("qid"), col("label").as("pred_label"), col("votes"),
        col("cands"))
      .orderBy("qid")
  }

  /** x174: contrastive pair mining — per anchor, the most similar
    * SAME-label corpus point (positive) and the most similar
    * DIFFERENT-label point (hard negative), the pair a contrastive
    * embedding-training run feeds its loss.
    */
  def hardNegatives(spark: SparkSession, emb: DataFrame): DataFrame = {
    val w = Window.partitionBy("qid", "same")
      .orderBy(desc("cos_sim"), asc("vec_id"))
    scored(spark, emb)
      .withColumn("same", col("label") === col("qlabel"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy("qid")
      .agg(first(col("qlabel")).as("anchor_label"),
        max(when(col("same"), col("vec_id"))).as("pos_id"),
        max(when(col("same"), col("cos_sim"))).as("pos_cos"),
        max(when(!col("same"), col("vec_id"))).as("neg_id"),
        max(when(!col("same"), col("cos_sim"))).as("neg_cos"))
      .orderBy("qid")
  }

  private val scoredSql: String =
    s"""SELECT p.qid, p.qlabel, e.vec_id, CAST(e.label AS BIGINT) AS label,
       |       ${VectorOps.cos6Sql("CAST(e.embedding AS DOUBLE[])", "p.q")} AS cos_sim
       |FROM embeddings e, (SELECT vec_id AS qid, CAST(label AS BIGINT) AS qlabel,
       |                           CAST(embedding AS DOUBLE[]) AS q
       |                    FROM embeddings WHERE vec_id < $MaxProbeId) p
       |WHERE e.vec_id >= $MaxProbeId""".stripMargin

  private val knnSql: String =
    s"""WITH scored AS ($scoredSql),
       | top AS (SELECT qid, label FROM (
       |   SELECT qid, label, row_number() OVER (PARTITION BY qid
       |     ORDER BY cos_sim DESC, vec_id) AS rn FROM scored) r
       |   WHERE rn <= $K),
       | votes AS (SELECT qid, label, count(*) AS votes
       |           FROM top GROUP BY 1, 2)
       |SELECT qid, label AS pred_label, votes FROM (
       |  SELECT qid, label, votes, row_number() OVER (PARTITION BY qid
       |    ORDER BY votes DESC, label) AS vr FROM votes) v
       |WHERE vr = 1 ORDER BY qid""".stripMargin

  private val hardNegSql: String =
    s"""WITH scored AS ($scoredSql),
       | ranked AS (
       |   SELECT qid, qlabel, vec_id, cos_sim, label = qlabel AS same,
       |          row_number() OVER (PARTITION BY qid, label = qlabel
       |            ORDER BY cos_sim DESC, vec_id) AS rn
       |   FROM scored)
       |SELECT qid, any_value(qlabel) AS anchor_label,
       |       max(CASE WHEN same THEN vec_id END) AS pos_id,
       |       max(CASE WHEN same THEN cos_sim END) AS pos_cos,
       |       max(CASE WHEN NOT same THEN vec_id END) AS neg_id,
       |       max(CASE WHEN NOT same THEN cos_sim END) AS neg_cos
       |FROM ranked WHERE rn = 1 GROUP BY qid ORDER BY qid""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef(
      "x173_knn_classify",
      (s, dir) => knnClassify(s, Tables.embeddings(s, dir)),
      Some(knnSql)),
    QueryDef(
      "x174_hard_negatives",
      (s, dir) => hardNegatives(s, Tables.embeddings(s, dir)),
      Some(hardNegSql)),
    QueryDef(
      "x230_ann_knn_classify",
      (s, dir) => annKnnClassify(s, Tables.embeddings(s, dir)),
      Some(Similarity.annKnnClassifySql)))
}
