package graft.queries

import graft.{Checkpoints, QueryDef, Tables}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-15: label-quality and model-quality evaluation operators — the
  * measurement half of a labeling pipeline (x173/x204/x230 produce
  * labels; these certify whether labels and confidences can be trusted).
  * Same determinism regime as the rest of the suite: grafted second
  * sources replayed by the oracle, exact integer permille outputs, no
  * floats anywhere.
  */
object Round15Queries {

  private def h60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  // ---- x233: inter-annotator agreement (Cohen's kappa) ------------------

  /** x233: Cohen's kappa over a double-annotated label set — the
    * label-quality gate every human-labeled (or LLM-judged) training set
    * runs before the labels are trusted: raw agreement is inflated by
    * chance, kappa discounts it by the marginal-product expected
    * agreement. Annotator A = the embeddings labels; annotator B is
    * GRAFTED relationally (every 9th item shifted to the next class —
    * the x139/x193 idiom, oracle-replayed), so truth is
    * construction-time exact.
    *
    * Exact integers end to end: po and pe are rationals with
    * denominators n and n²; kappa = (agree·n − Σ_c nA_c·nB_c) /
    * (n² − Σ_c nA_c·nB_c), emitted ×1000 DIV — no doubles, no midpoint
    * hazard. Shape: one pass for the pair table, two class-keyed hash
    * aggregates for the marginals, a class-count-sized join for pe.
    */
  private def annotatorKappa(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val nClasses = emb.agg((max(col("label")) + 1).as("nc"))
    val pairs = Checkpoints.local(emb.crossJoin(broadcast(nClasses))
      .select(col("vec_id"),
        col("label").cast("long").as("a"),
        when(col("vec_id") % 9 === 4, (col("label") + 1) % col("nc"))
          .otherwise(col("label")).cast("long").as("b"))) // three aggregate consumers (r16)
    val agree = pairs.agg(
      count(lit(1)).as("n"),
      sum((col("a") === col("b")).cast("long")).as("agree"))
    val ma = pairs.groupBy("a").agg(count(lit(1)).as("na"))
    val mb = pairs.groupBy("b").agg(count(lit(1)).as("nb"))
    val pe = ma.join(mb, col("a") === col("b"))
      .agg(sum(col("na") * col("nb")).as("cross"))
    agree.crossJoin(broadcast(pe))
      .select(col("n"), col("agree"),
        expr("agree * 1000 DIV n").as("po_permille"),
        expr("cross * 1000 DIV (n * n)").as("pe_permille"),
        expr("(agree * n - cross) * 1000 DIV (n * n - cross)")
          .as("kappa_permille"))
  }

  private val annotatorKappaSql: String =
    """WITH nc AS (SELECT max(label) + 1 AS nc FROM embeddings),
      | pairs AS (
      |   SELECT vec_id, CAST(label AS BIGINT) AS a,
      |          CAST(CASE WHEN vec_id % 9 = 4 THEN (label + 1) % nc
      |               ELSE label END AS BIGINT) AS b
      |   FROM embeddings CROSS JOIN nc),
      | ag AS (SELECT count(*) AS n,
      |               sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree
      |        FROM pairs),
      | ma AS (SELECT a, count(*) AS na FROM pairs GROUP BY 1),
      | mb AS (SELECT b, count(*) AS nb FROM pairs GROUP BY 1),
      | pe AS (SELECT sum(na * nb) AS crs FROM ma JOIN mb ON ma.a = mb.b)
      |SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS agree,
      |       CAST(agree * 1000 // n AS BIGINT) AS po_permille,
      |       CAST(crs * 1000 // (n * n) AS BIGINT) AS pe_permille,
      |       CAST((agree * n - crs) * 1000 // (n * n - crs) AS BIGINT)
      |         AS kappa_permille
      |FROM ag CROSS JOIN pe""".stripMargin

  // ---- x234: calibration report (reliability bins + ECE) ----------------

  /** x234: expected calibration error — the reliability report every
    * model-scored filter needs before its confidences gate data: bin
    * predictions by REPORTED confidence, compare each bin's mean
    * confidence to its realized accuracy, weight the gaps by bin mass.
    * The classifier is grafted deterministically per doc: TRUE success
    * rate = a per-doc md5 draw over 0..999 (the x41 quality score was
    * the first candidate anchor, but it is near-constant on this fixture
    * — punctuation-free docs, cpt ≈ 500 — and collapses every doc into
    * one bin, certifying nothing; the hash rate fills all ten bins at
    * every SF); REPORTED confidence = 1.5× the true rate, clamped — a
    * systematically OVERCONFIDENT scorer, so bins show real positive
    * gaps that grow with confidence until the clamp, not noise; outcomes
    * are INDEPENDENT hash draws at the true rate. Oracle replays every
    * draw. Emits 10 bin rows plus an ECE summary row (bin = -1).
    *
    * Everything is integer permille; the only corpus pass is the doc-id
    * scan, then one 10-key hash aggregate. At 100 TB this is a map-side
    * aggregate riding whatever scoring pass already runs.
    */
  private def calibrationEce(s: SparkSession, dir: String): DataFrame = {
    val q = Tables.documents(s, dir)
      .select(col("doc_id"),
        (h60(concat(lit("r:"), col("doc_id").cast("string"))) % 1000)
          .as("conf"))
    val scored = q.select(col("doc_id"), col("conf"),
        least(lit(1000L), expr("conf * 3 DIV 2")).as("rconf"),
        (h60(concat(lit("o:"), col("doc_id").cast("string"))) % 1000
          < col("conf")).cast("long").as("outcome"))
      .withColumn("bin", expr("least(rconf, 999) DIV 100"))
    val bins = scored.groupBy("bin").agg(
      count(lit(1)).as("n"),
      expr("sum(rconf) DIV count(1)").as("conf_permille"),
      expr("sum(outcome) * 1000 DIV count(1)").as("acc_permille"))
      .withColumn("gap_permille",
        abs(col("conf_permille") - col("acc_permille")))
    val ece = bins.agg(
      sum(col("n")).as("n"),
      expr("sum(n * gap_permille) DIV sum(n)").as("gap"))
    bins.select(col("bin"), col("n"), col("conf_permille"),
        col("acc_permille"), col("gap_permille"))
      .unionByName(ece.select(lit(-1L).as("bin"), col("n"),
        lit(-1L).as("conf_permille"), lit(-1L).as("acc_permille"),
        col("gap").as("gap_permille")))
      .orderBy("bin")
  }

  private val calibrationEceSql: String =
    s"""WITH q AS (
       |   SELECT doc_id,
       |          CAST('0x' || substr(md5('r:' || CAST(doc_id AS VARCHAR)),
       |            1, 15) AS BIGINT) % 1000 AS conf
       |   FROM documents),
       | scored AS (
       |   SELECT doc_id, conf,
       |          least(1000, conf * 3 // 2) AS rconf,
       |          CASE WHEN CAST('0x' || substr(md5('o:' ||
       |                 CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
       |                 % 1000 < conf
       |               THEN 1 ELSE 0 END AS outcome
       |   FROM q),
       | b AS (
       |   SELECT least(rconf, 999) // 100 AS bin, count(*) AS n,
       |          sum(rconf) // count(*) AS conf_permille,
       |          sum(outcome) * 1000 // count(*) AS acc_permille
       |   FROM scored GROUP BY 1),
       | g AS (SELECT bin, n, conf_permille, acc_permille,
       |              abs(conf_permille - acc_permille) AS gap_permille
       |       FROM b)
       |SELECT CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n,
       |       CAST(conf_permille AS BIGINT) AS conf_permille,
       |       CAST(acc_permille AS BIGINT) AS acc_permille,
       |       CAST(gap_permille AS BIGINT) AS gap_permille
       |FROM g
       |UNION ALL
       |SELECT -1, CAST(sum(n) AS BIGINT), -1, -1,
       |       CAST(sum(n * gap_permille) // sum(n) AS BIGINT)
       |FROM g
       |ORDER BY bin""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("x233_annotator_kappa", annotatorKappa, Some(annotatorKappaSql)),
    QueryDef("x234_calibration_ece", calibrationEce, Some(calibrationEceSql)))
}
