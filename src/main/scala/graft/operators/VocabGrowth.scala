package graft.operators

import graft.{Checkpoints, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** x219: Heaps-law vocabulary-growth certification over nested corpus
  * prefixes — the empirical law (V ∝ n^β, β < 1; Heaps 1978) that the
  * suite's own scale arguments lean on ("the word-TYPE table is
  * Heaps-sublinear in the corpus", x168/x196/x205): this query MEASURES
  * the claim on the fixture instead of citing it, for both the word
  * vocabulary (saturates — the Zipf head) and the bigram vocabulary
  * (keeps growing — the combinatorial tail every n-gram index actually
  * indexes).
  *
  * Built scale-first: vocabulary size at EVERY prefix comes from ONE
  * first-occurrence aggregate (min doc_id per type — never 4 distinct
  * scans), then a 4-row threshold-spine join; occurrence counts fan the
  * per-DOC totals (docs-sized, not token-sized) to the spine. Growth
  * ratios are integer permille vs the previous prefix via a spine
  * self-join — no ln, no doubles, no windows anywhere.
  *
  * The sublinearity statement is pure integers: per step,
  * word-growth ≤ bigram-growth ≤ occurrence-growth (spec-asserted with
  * strictness where the fixture guarantees it).
  */
object VocabGrowth {

  private val Quarters = 4

  def heapsLaw(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    // Materialized (r16): `toks` feeds the first-occurrence aggregate AND
    // the per-doc totals — two tokenize pipelines lazily; and `cur`
    // (4 rows) below feeds both sides of its own growth self-join, which
    // doubled the WHOLE query subtree (14 parquet scans pre-r16).
    val toks = Checkpoints.local(TextOps.tokens(docs))
    // First occurrence (min doc_id) per word type and per bigram type —
    // one aggregate each; shingles() is per-doc-distinct which is exactly
    // what a min-over-docs needs.
    val firstWord = toks.groupBy("w").agg(min(col("doc_id")).as("fd"))
    val firstBi = TextOps.shingles(docs, 2)
      .groupBy("shingle").agg(min(col("doc_id")).as("fd"))
    // Per-doc occurrence totals (docs-sized before any fan-out).
    val perDoc = toks.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"))
      .select(col("doc_id"), col("n_tok"),
        greatest(col("n_tok") - 1, lit(0L)).as("n_bi"))
    val mx = docs.agg((max(col("doc_id")) + 1).as("mx"))
    val spine = (1 to Quarters).map(_.toLong).toDF("p")
      .crossJoin(broadcast(mx))
      .select(col("p"), expr("mx * p DIV 4").as("t"))

    def vAt(first: DataFrame): DataFrame = first
      .crossJoin(broadcast(spine))
      .filter(col("fd") < col("t"))
      .groupBy("p").agg(count(lit(1)).as("v"))

    val vw = vAt(firstWord).withColumnRenamed("v", "v_words")
    val vb = vAt(firstBi).withColumnRenamed("v", "v_bigrams")
    val occ = perDoc.crossJoin(broadcast(spine))
      .filter(col("doc_id") < col("t"))
      .groupBy("p").agg(sum(col("n_bi")).as("n_occ"))

    val cur = Checkpoints.local(spine.select("p").join(occ, "p").join(vw, "p").join(vb, "p"))
    val prev = cur.select(col("p").as("pp"), col("n_occ").as("po"),
      col("v_words").as("pw"), col("v_bigrams").as("pb"))
    cur.join(prev, col("p") === col("pp") + 1, "left")
      .select(col("p"), col("n_occ"), col("v_words"), col("v_bigrams"),
        coalesce(expr("n_occ * 1000 DIV po"), lit(0L))
          .as("n_growth_permille"),
        coalesce(expr("v_words * 1000 DIV pw"), lit(0L))
          .as("w_growth_permille"),
        coalesce(expr("v_bigrams * 1000 DIV pb"), lit(0L))
          .as("b_growth_permille"))
      .orderBy("p")
  }

  private val heapsSql: String =
    s"""WITH toks AS (${TextOps.tokensSql}),
       | bi AS (
       |   SELECT DISTINCT doc_id, shingle FROM (
       |     SELECT doc_id, w || ' ' || lead(w, 1) OVER win AS shingle
       |     FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)) r
       |   WHERE shingle IS NOT NULL),
       | fw AS (SELECT w, min(doc_id) AS fd FROM toks GROUP BY 1),
       | fb AS (SELECT shingle, min(doc_id) AS fd FROM bi GROUP BY 1),
       | pd AS (SELECT doc_id, greatest(count(*) - 1, 0) AS n_bi
       |        FROM toks GROUP BY 1),
       | mxs AS (SELECT max(doc_id) + 1 AS mx FROM documents),
       | spine AS (SELECT p, mx * p // 4 AS t
       |           FROM (SELECT unnest([1, 2, 3, 4]) AS p) q CROSS JOIN mxs),
       | vw AS (SELECT p, CAST(count(*) AS BIGINT) AS v_words
       |        FROM fw CROSS JOIN spine WHERE fd < t GROUP BY 1),
       | vb AS (SELECT p, CAST(count(*) AS BIGINT) AS v_bigrams
       |        FROM fb CROSS JOIN spine WHERE fd < t GROUP BY 1),
       | occ AS (SELECT p, CAST(sum(n_bi) AS BIGINT) AS n_occ
       |         FROM pd CROSS JOIN spine WHERE doc_id < t GROUP BY 1),
       | cur AS (SELECT spine.p, occ.n_occ, vw.v_words, vb.v_bigrams
       |         FROM spine JOIN occ USING (p) JOIN vw USING (p)
       |              JOIN vb USING (p))
       |SELECT CAST(c.p AS BIGINT) AS p, c.n_occ, c.v_words, c.v_bigrams,
       |       CAST(coalesce(c.n_occ * 1000 // q.n_occ, 0) AS BIGINT)
       |         AS n_growth_permille,
       |       CAST(coalesce(c.v_words * 1000 // q.v_words, 0) AS BIGINT)
       |         AS w_growth_permille,
       |       CAST(coalesce(c.v_bigrams * 1000 // q.v_bigrams, 0) AS BIGINT)
       |         AS b_growth_permille
       |FROM cur c LEFT JOIN cur q ON c.p = q.p + 1
       |ORDER BY c.p""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef(
      "x219_heaps_law",
      (s, dir) => heapsLaw(s, Tables.documents(s, dir)),
      Some(heapsSql)))
}
