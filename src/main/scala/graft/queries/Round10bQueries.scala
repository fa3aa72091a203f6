package graft.queries

import graft.{Checkpoints, QueryDef}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-10b additions: robust outlier filtering (median/MAD, the
  * quality-filter statistic that survives heavy tails) and
  * temperature-flattened data mixing (the multilingual upsampling recipe),
  * composing the round's capacity-capped apportionment machinery.
  *
  * The reference has no statistics or mixing surface at all (SURVEY.md
  * §2.B); these extend the quality/recipe family (Gopher filters
  * x07/x42/x139–x141, KS drift x180, exact apportionment x187, priority
  * sampling x188).
  */
object Round10bQueries {

  /** Outlier bar in MAD units. 3 is the textbook value; this fixture's
    * n_chars is near-uniform (no planted tail), so 2 is the largest
    * integer bar with BOTH classes non-empty at every SF (9/12/112
    * outliers at sf0.001/0.01/0.1) — the demonstrator stays non-vacuous
    * without touching the fixture.
    */
  private val MadBar = 2

  /** x190: robust outlier detection by median absolute deviation — the
    * quality-filter statistic that, unlike mean/stddev (x34's moments),
    * cannot be dragged by the very outliers it hunts (50% breakdown
    * point). A document is flagged when |n_chars − median| > 2·MAD.
    *
    * Exactness: medians here are pure ORDER STATISTICS (lower median =
    * the value at rank (n+1) DIV 2), so every number in the plan is an
    * integer — no interpolation, no doubles, the §7.4 midpoint rule
    * satisfied structurally (x33's interpolated median is the
    * per-group/decimal variant; this is the corpus-scale integer one).
    *
    * Scale shape: the rank is computed on the VALUE-COUNT table, not the
    * corpus — n_chars lives in a bounded domain (few hundred distinct
    * values at any corpus size; document length is capped in any real
    * pipeline), so the cumulative count is a join-rank over a
    * domain-bounded table (the x70 idiom — no global window, no global
    * sort) and the corpus is touched only by hash aggregates and broadcast
    * joins of 1-row stats. Deviations reuse the same machinery: dev is a
    * difference of bounded values, so its domain is bounded too.
    */
  private def madOutliers(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir).select("doc_id", "n_chars")
    val n = docs.agg(count(lit(1)).as("n"))
    // lower median of a bounded-domain long column "v": value counts →
    // join-rank cumulative → min value whose cumulative rank reaches
    // (n+1) DIV 2. Returns a 1-row frame with the given output name.
    def lowerMedian(vals: DataFrame, out: String): DataFrame = {
      val vc = vals.groupBy("v").agg(count(lit(1)).as("c"))
      val cum = vc.as("a").join(vc.as("b"), col("b.v") <= col("a.v"))
        .groupBy(col("a.v").as("v")).agg(sum(col("b.c")).as("cum"))
      cum.crossJoin(broadcast(n))
        .filter(col("cum") >= expr("(n + 1) DIV 2"))
        .agg(min(col("v")).as(out))
    }
    val m1 = lowerMedian(docs.select(col("n_chars").as("v")), "med")
    // Materialized (r16): `dv` feeds the MAD chain AND the output — each
    // reference re-ran the median rank-join from the parquet scan up
    // (13 scans in the pre-r16 plan). id+two-ints rows, corpus-count-sized.
    val dv = Checkpoints.local(docs.crossJoin(broadcast(m1))
      .select(col("doc_id"), col("n_chars"),
        abs(col("n_chars") - col("med")).as("dev")))
    val m2 = lowerMedian(dv.select(col("dev").as("v")), "mad")
    dv.crossJoin(broadcast(m2))
      .select(col("doc_id"), col("n_chars"), col("dev"),
        (col("dev") > lit(MadBar.toLong) * col("mad")).as("is_outlier"))
      .orderBy("doc_id")
  }

  private val madOutliersSql: String =
    s"""WITH d AS (SELECT doc_id, n_chars FROM documents),
       | n AS (SELECT count(*) AS n FROM d),
       | vc AS (SELECT n_chars AS v, count(*) AS c FROM d GROUP BY 1),
       | cum AS (SELECT a.v, sum(b.c) AS cum
       |         FROM vc a JOIN vc b ON b.v <= a.v GROUP BY a.v),
       | m1 AS (SELECT min(v) AS med FROM cum, n WHERE cum >= (n.n + 1) // 2),
       | dv AS (SELECT doc_id, n_chars, abs(n_chars - m1.med) AS dev
       |        FROM d, m1),
       | dc AS (SELECT dev AS v, count(*) AS c FROM dv GROUP BY 1),
       | dcum AS (SELECT a.v, sum(b.c) AS cum
       |          FROM dc a JOIN dc b ON b.v <= a.v GROUP BY a.v),
       | m2 AS (SELECT min(v) AS mad FROM dcum, n WHERE cum >= (n.n + 1) // 2)
       |SELECT doc_id, n_chars, dev, (dev > $MadBar * m2.mad) AS is_outlier
       |FROM dv, m2
       |ORDER BY doc_id""".stripMargin

  // ---- x191: temperature-flattened language mix -------------------------

  /** x191: temperature-flattened data mixing by language (the multilingual
    * LLM recipe: sample ∝ n^τ so low-resource languages are upsampled
    * relative to their corpus share — Conneau & Lample 2019's exponent
    * trick). τ = 1/2 keeps the whole plan integer-exact: w = isqrt(n) =
    * floor(sqrt(n)) is deterministic cross-engine because IEEE sqrt is
    * correctly rounded on both and counts < 2⁵³ are exact doubles — the
    * ONE double in the plan never reaches the output (the §7.4 rule).
    *
    * The apportionment itself reuses x187's capacity-capped Hamilton
    * fixpoint verbatim ([[Round10Queries.cappedHamilton]]): flattened
    * weights can still over-quota a small language on a skewed corpus, so
    * the cap path guards here exactly as there (this fixture is feasible
    * in round 1 — x187 is the query that exercises the cascade; the spec
    * pins the flattening DIRECTION instead: en's budget share strictly
    * below its corpus share, the smallest language's strictly above).
    */
  private[graft] def temperatureMixWithRounds(s: SparkSession, dir: String)
      : (DataFrame, Int) = {
    val docs = graft.Tables.documents(s, dir)
    val ps = docs.groupBy(col("lang").as("source"))
      .agg(count(lit(1)).as("n_src"))
      .withColumn("w",
        greatest(floor(sqrt(col("n_src").cast("double"))).cast("long"),
          lit(1L)))
    val nt = docs.agg(expr("count(1) * 2 DIV 5").as("n_budget"))
    val (alloc, rounds) = Round10Queries.cappedHamilton(ps, nt)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("doc_id")
    val sel = docs
      .join(broadcast(alloc.withColumnRenamed("source", "lang")), "lang")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("alloc"))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
    (sel, rounds)
  }

  private val temperatureMixSql: String = {
    val prefix = Round10Queries.cappedHamiltonSqlPrefix(
      """SELECT lang AS source, count(*) AS n_src,
        |          greatest(CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT), 1) AS w
        |   FROM documents GROUP BY 1""".stripMargin,
      "SELECT count(*) * 2 // 5 AS n_budget FROM documents")
    s"""$prefix
       |SELECT d.doc_id, d.lang
       |FROM (SELECT doc_id, lang,
       |             row_number() OVER (PARTITION BY lang ORDER BY doc_id)
       |               AS rn
       |      FROM documents) d
       |JOIN alloc ON alloc.source = d.lang
       |WHERE d.rn <= alloc.alloc
       |ORDER BY doc_id""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef(
      "x190_mad_outliers",
      madOutliers,
      Some(madOutliersSql)),
    QueryDef(
      "x191_temperature_mix",
      (s, dir) => temperatureMixWithRounds(s, dir)._1,
      Some(temperatureMixSql)))
}
