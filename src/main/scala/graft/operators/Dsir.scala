package graft.operators

import graft.{Checkpoints, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Data selection via importance resampling (DSIR — Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling"): score
  * every raw-corpus document by how much more likely its hashed n-gram
  * features are under a small TARGET corpus than under the raw corpus,
  * and keep the top-weighted docs. This is the modern replacement for
  * the x204-style binary quality classifier when what you have is "10k
  * trusted documents", not labels.
  *
  * Features are the x195 hashing trick: tokens folded into F = 64
  * md5-derived buckets with NO vocabulary pass — the two unigram bucket
  * models are FIXED-SIZE (F rows) regardless of corpus size, which is
  * the whole scale story: λ(b) = ln p_target(b) − ln p_raw(b) is a
  * 64-row broadcast at any corpus scale (production F = 2¹⁸ is still
  * broadcast-trivial), and scoring is one narrow pass over per-doc
  * bucket counts. The only corpus-sized shuffles are the two hash
  * aggregates (per-bucket totals, per-(doc, bucket) counts) — both
  * map-side combinable on uniform md5 keys. Top-k is a global
  * TakeOrderedAndProject (k rows per partition → k at the driver), never
  * a full sort.
  *
  * Fixture signal (grafted — the x139/x193/x204 idiom, oracle-replayed):
  * the shared-vocabulary salad has no organic domain signal, so docs
  * with `doc_id % 7 == 0` (the training target set) OR `doc_id % 11 == 3`
  * (held-out target-LIKE docs the selector has never seen) get three
  * `dsir_tgt` marker tokens appended. The held-out set is the point of
  * the demonstrator: DSIR must rank target-like docs it did not train on
  * above the rest — importance weights generalize, membership tests
  * don't (contrast x69's exact contamination screen).
  *
  * Determinism: bucket counts are integers; each ln is rounded to 6
  * decimals and converted to exact integer micro-nats (the x171/x204
  * regime) BEFORE the subtraction, so λ and every doc weight are exact
  * integers; ranking ties break on doc_id.
  */
object Dsir {

  private val F = 64

  private def unat(x: Column): Column =
    (round(x, 6).cast(DecimalType(18, 6)) * 1000000).cast("long")

  /** Top-k docs by hashed-unigram importance weight; target = grafted
    * docs with doc_id % 7 == 0. Emits (doc_id, lang, marked, weight_unat)
    * ordered by weight desc, doc_id asc.
    */
  def select(spark: SparkSession, docs0: DataFrame, k: Int = 25): DataFrame = {
    val marked = col("doc_id") % 7 === 0 || col("doc_id") % 11 === 3
    val docs = docs0.withColumn("text",
      when(marked, concat(col("text"), lit(" dsir_tgt dsir_tgt dsir_tgt")))
        .otherwise(col("text")))

    val bucket = (conv(substring(md5(col("w").cast("binary")), 1, 15), 16, 10)
      .cast("long") % F).as("b")
    // Materialized (r16): five aggregate consumers (target/raw bucket
    // counts, both totals, per-doc weights) each re-ran the tokenize+md5
    // pipeline lazily. Thin (doc, bucket) rows.
    val bt = Checkpoints.local(TextOps.tokens(docs).select(col("doc_id"), bucket))

    // DENSE bucket spine (the x202 lesson): an empty bucket must exist
    // with count 0 or its smoothed λ silently vanishes from doc sums.
    val spine = spark.range(F).select(col("id").as("b"))
    val tgt = bt.filter(col("doc_id") % 7 === 0)
    val ct = spine.join(tgt.groupBy("b").agg(count(lit(1)).as("ct")),
        Seq("b"), "left")
      .select(col("b"), coalesce(col("ct"), lit(0L)).as("ct"))
    val cr = spine.join(bt.groupBy("b").agg(count(lit(1)).as("cr")),
        Seq("b"), "left")
      .select(col("b"), coalesce(col("cr"), lit(0L)).as("cr"))
    val nt = tgt.agg(count(lit(1)).as("nt"))
    val nr = bt.agg(count(lit(1)).as("nr"))

    // λ(b) in micro-nats — F rows, broadcast at any corpus size.
    val lam = ct.join(cr, "b").crossJoin(broadcast(nt)).crossJoin(broadcast(nr))
      .select(col("b"),
        (unat(log((col("ct") + 1).cast("double") /
            (col("nt").cast("double") + F))) -
          unat(log((col("cr") + 1).cast("double") /
            (col("nr").cast("double") + F)))).as("lam"))

    val weights = bt.groupBy("doc_id", "b").agg(count(lit(1)).as("cnt"))
      .join(broadcast(lam), "b")
      .groupBy("doc_id").agg(sum(col("cnt") * col("lam")).as("weight_unat"))

    weights.join(docs0.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), marked.cast("int").as("marked"),
        col("weight_unat"))
      .orderBy(desc("weight_unat"), col("doc_id")).limit(k)
  }

  private val selectSql: String =
    s"""WITH g AS (
       |  SELECT doc_id, lang,
       |         CASE WHEN doc_id % 7 = 0 OR doc_id % 11 = 3
       |              THEN text || ' dsir_tgt dsir_tgt dsir_tgt'
       |              ELSE text END AS text
       |  FROM documents),
       | toks AS (
       |   SELECT doc_id,
       |          unnest(${TextOps.tokenArraySql}) AS w
       |   FROM g),
       | bt AS (SELECT doc_id,
       |               CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % $F AS b
       |        FROM toks),
       | spine AS (SELECT range AS b FROM range($F)),
       | tgt AS (SELECT * FROM bt WHERE doc_id % 7 = 0),
       | ct AS (SELECT s.b, coalesce(c.ct, 0) AS ct FROM spine s
       |        LEFT JOIN (SELECT b, count(*) AS ct FROM tgt GROUP BY 1) c
       |        USING (b)),
       | cr AS (SELECT s.b, coalesce(c.cr, 0) AS cr FROM spine s
       |        LEFT JOIN (SELECT b, count(*) AS cr FROM bt GROUP BY 1) c
       |        USING (b)),
       | nt AS (SELECT count(*) AS nt FROM tgt),
       | nr AS (SELECT count(*) AS nr FROM bt),
       | lam AS (
       |   SELECT ct.b,
       |          CAST(CAST(round(ln(CAST(ct.ct + 1 AS DOUBLE)
       |              / (CAST(nt.nt AS DOUBLE) + $F)), 6)
       |            AS DECIMAL(18,6)) * 1000000 AS BIGINT)
       |        - CAST(CAST(round(ln(CAST(cr.cr + 1 AS DOUBLE)
       |              / (CAST(nr.nr AS DOUBLE) + $F)), 6)
       |            AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS lam
       |   FROM ct JOIN cr USING (b) CROSS JOIN nt CROSS JOIN nr),
       | w AS (SELECT d.doc_id, sum(d.cnt * lam.lam) AS weight_unat
       |       FROM (SELECT doc_id, b, count(*) AS cnt FROM bt
       |             GROUP BY 1, 2) d
       |       JOIN lam USING (b) GROUP BY 1)
       |SELECT w.doc_id, doc.lang,
       |       CAST(CASE WHEN w.doc_id % 7 = 0 OR w.doc_id % 11 = 3
       |                 THEN 1 ELSE 0 END AS INT) AS marked,
       |       CAST(w.weight_unat AS BIGINT) AS weight_unat
       |FROM w JOIN documents doc ON w.doc_id = doc.doc_id
       |ORDER BY weight_unat DESC, w.doc_id LIMIT 25""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef(
      "x205_dsir_select",
      (s, dir) => select(s, Tables.documents(s, dir)),
      Some(selectSql)))
}
