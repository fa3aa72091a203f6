package graft.queries

import graft.{Checkpoints, QueryDef, Tables}
import graft.operators.{TextAnalysis, TextOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-16: vocabulary-budget planning, a cross-partitioning determinism
  * certificate, and declarative data contracts — the operational trio a
  * production corpus pipeline runs continuously (plan the tokenizer
  * budget, prove reruns reproduce, reject malformed feeds at the door).
  */
object Round16Queries {

  private def h60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  // ---- x238: vocabulary coverage sweep -----------------------------------

  /** x238: token-coverage vs vocabulary-size curve — the tokenizer-budget
    * planner's question ("how big a vocab buys how much coverage?") as
    * one pass fanned to a V spine (the x206/x208/x215 sweep family): per
    * V ∈ {2,4,8,16,32}, the types kept, occurrences covered (permille),
    * and the OOV residual. Ranking is (count desc, word asc) — total and
    * deterministic — rendered as a vocab-sized strictly-greater
    * SELF-JOIN rank, not a global window: the vocabulary is
    * Heaps-sublinear in the corpus (x219 certifies it), so the rank join
    * is vocab²-bounded and corpus-independent; at a 10⁷-type web vocab
    * the same rank becomes the x207 two-phase prefix sum — the shape is
    * unchanged, and no unpartitioned window exists at any size.
    */
  /** The sweep tail over a ranked vocabulary — shared by x238 and its
    * x246 two-phase-rank twin so the two can only differ in HOW the rank
    * is computed (one definition, the r12 advice-#3 discipline).
    * `ranked` must carry (w, cnt, rank) with rank = the 0-based count of
    * strictly-greater rows in (cnt desc, w asc) order.
    */
  private[graft] def coverageSweepTail(s: SparkSession, vocab: DataFrame,
      ranked: DataFrame): DataFrame = {
    val total = vocab.agg(sum(col("cnt")).as("tot"))
    import s.implicits._
    val spine = Seq(2L, 4L, 8L, 16L, 32L).toDF("v")
    ranked.join(broadcast(spine), col("rank") < col("v"))
      .groupBy("v")
      .agg(count(lit(1)).as("n_types_kept"), sum(col("cnt")).as("covered"))
      .crossJoin(broadcast(total))
      .select(col("v"), col("n_types_kept"),
        expr("covered * 1000 DIV tot").as("coverage_permille"),
        expr("(tot - covered) * 1000 DIV tot").as("oov_permille"))
      .orderBy("v")
  }

  private def vocabCoverageSweep(s: SparkSession, dir: String): DataFrame = {
    // 3 consumers: both rank-join sides + the total
    val vocab = Checkpoints.local(TextOps.tokens(Tables.documents(s, dir))
      .groupBy("w").agg(count(lit(1)).as("cnt")))
    val ranked = vocab.as("x").join(vocab.as("y"),
        col("y.cnt") > col("x.cnt") ||
          (col("y.cnt") === col("x.cnt") && col("y.w") < col("x.w")),
        "left")
      .groupBy(col("x.w").as("w"), col("x.cnt").as("cnt"))
      .agg(count(col("y.w")).as("rank"))
    coverageSweepTail(s, vocab, ranked)
  }

  private[graft] val vocabCoverageSweepSql: String =
    s"""WITH toks AS (${TextOps.tokensSql}),
       | vocab AS (SELECT w, count(*) AS cnt FROM toks GROUP BY 1),
       | ranked AS (
       |   SELECT x.w, x.cnt, count(y.w) AS rnk
       |   FROM vocab x LEFT JOIN vocab y
       |     ON y.cnt > x.cnt OR (y.cnt = x.cnt AND y.w < x.w)
       |   GROUP BY 1, 2),
       | tot AS (SELECT sum(cnt) AS tot FROM vocab),
       | spine(v) AS (VALUES (CAST(2 AS BIGINT)), (4), (8), (16), (32))
       |SELECT spine.v, CAST(count(*) AS BIGINT) AS n_types_kept,
       |       CAST(sum(ranked.cnt) * 1000 // max(tot.tot) AS BIGINT)
       |         AS coverage_permille,
       |       CAST((max(tot.tot) - sum(ranked.cnt)) * 1000 // max(tot.tot)
       |            AS BIGINT) AS oov_permille
       |FROM ranked JOIN spine ON ranked.rnk < spine.v CROSS JOIN tot
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- x239: cross-partitioning determinism certificate ------------------

  /** x239: repartition-invariance certificate — the suite's determinism
    * discipline (integer outputs, DECIMAL sums, total tie-breaks) turned
    * into a first-class, hash-gated artifact: the x41 quality-score
    * table is computed twice under DIFFERENT upstream partitionings
    * (hash-32 on doc_id vs hash-7 on source — different aggregation
    * groupings, different partial-agg orders), each output reduced to an
    * order-free fingerprint (DECIMAL(38) sum of per-row 60-bit hashes —
    * exact at any corpus size, never overflow — emitted mod 2⁶³ as a
    * BIGINT, the x192 idiom: §7.4 says unbounded rationals leave the
    * plan as scaled integers, and the r12 verdict proved why — the
    * driver's pandas gate coerces a DuckDB DECIMAL(38,0) to float64
    * while Spark's parquet side stays exact), and BOTH fingerprints
    * emitted. The oracle computes the canonical fingerprint once, so the
    * hash gate simultaneously proves Spark ≡ Spark across partitionings
    * and Spark ≡ DuckDB across engines. A pipeline whose outputs moved
    * with the partitioning (a float sum, an undertied argmax) fails HERE
    * before it flakes in production reruns.
    */
  private def repartitionInvariance(s: SparkSession, dir: String)
      : DataFrame = {
    def fingerprint(tag: String, docs: DataFrame): DataFrame =
      TextAnalysis.qualityScore(docs)
        .select(h60(concat_ws("\u0001", col("doc_id").cast("string"),
          col("n_tokens").cast("string"), col("quality").cast("string")))
          .as("h"))
        .agg(count(lit(1)).as("n_rows"),
          expr("CAST(sum(CAST(h AS DECIMAL(38,0))) % 9223372036854775808" +
            " AS BIGINT)").as("hash_sum"))
        .select(lit(tag).as("variant"), col("n_rows"), col("hash_sum"))
    val docs = Tables.documents(s, dir)
    fingerprint("p32", docs.repartition(32, col("doc_id")))
      .unionByName(fingerprint("p07", docs.repartition(7, col("source"))))
      .orderBy("variant")
  }

  private val repartitionInvarianceSql: String =
    s"""WITH q AS (${TextAnalysis.qualityScoreSql}),
       | f AS (SELECT count(*) AS n_rows,
       |              CAST(CAST(sum(CAST('0x' || substr(md5(
       |                CAST(doc_id AS VARCHAR) || chr(1) ||
       |                CAST(n_tokens AS VARCHAR) || chr(1) ||
       |                CAST(quality AS VARCHAR)), 1, 15) AS BIGINT))
       |                AS HUGEINT) % 9223372036854775808 AS BIGINT)
       |                AS hash_sum
       |       FROM q)
       |SELECT variant, CAST(n_rows AS BIGINT) AS n_rows, hash_sum FROM (
       |  SELECT 'p07' AS variant, n_rows, hash_sum FROM f
       |  UNION ALL
       |  SELECT 'p32', n_rows, hash_sum FROM f) v
       |ORDER BY variant""".stripMargin

  // ---- x240: declarative data contract ------------------------------------

  /** x240: data-contract enforcement report — the expectations gate
    * (dbt-test / Great-Expectations shape) every landing zone runs
    * before data is admitted: per declared check, the violation count
    * over a feed. The dirty feed is GRAFTED relationally from events
    * (the x225/x139 idiom, oracle-replayed): every 13th event's user_id
    * negated (range), every 17th event_type mangled (enum), every 19th
    * value negated (range), every 23rd timestamp pushed a decade past
    * the corpus horizon (freshness) — so every declared check fires on
    * a known class, plus one completeness check as the clean control.
    * The enum reference and freshness horizon derive from the CLEAN
    * stream (a broadcast 5-row enum; a 1-row max-ts), never hardcoded.
    *
    * Scale: one pass over the feed with per-check conditional sums —
    * map-side combinable; the contract costs one scan no matter how
    * many checks it declares.
    */
  private def dataContract(s: SparkSession, dir: String): DataFrame = {
    val clean = Tables.events(s, dir)
      .withColumn("us", graft.functions.TimeCols.ntzEpochMicros("ts"))
    val horizon = clean.agg(max(col("us")).as("mx"))
    val enum5 = clean.select(col("event_type").as("et")).distinct()
    val feed = clean.select(
      col("event_id"),
      when(col("event_id") % 13 === 5, -col("user_id") - 1)
        .otherwise(col("user_id")).as("user_id"),
      when(col("event_id") % 17 === 3, concat(lit("zzz_"), col("event_type")))
        .otherwise(col("event_type")).as("event_type"),
      when(col("event_id") % 19 === 7, -col("value"))
        .otherwise(col("value")).as("value"),
      when(col("event_id") % 23 === 11, col("us") + 315360000000000L)
        .otherwise(col("us")).as("us"))
    val checked = feed
      .join(broadcast(enum5), col("event_type") === col("et"), "left")
      .crossJoin(broadcast(horizon))
      .select(
        (col("user_id") < 0).cast("long").as("v_uid"),
        col("et").isNull.cast("long").as("v_enum"),
        (col("value") < 0).cast("long").as("v_val"),
        (col("us") > col("mx")).cast("long").as("v_fresh"),
        col("user_id").isNull.cast("long").as("v_null"))
    val agg = checked.agg(count(lit(1)).as("n"),
      sum(col("v_uid")).as("uid"), sum(col("v_enum")).as("enm"),
      sum(col("v_val")).as("vl"), sum(col("v_fresh")).as("fr"),
      sum(col("v_null")).as("nl"))
    agg.select(explode(array(
        struct(lit("1_user_id_nonneg").as("chk"), col("uid").as("n_violations")),
        struct(lit("2_event_type_enum").as("chk"), col("enm").as("n_violations")),
        struct(lit("3_value_nonneg").as("chk"), col("vl").as("n_violations")),
        struct(lit("4_ts_freshness").as("chk"), col("fr").as("n_violations")),
        struct(lit("5_user_id_complete").as("chk"), col("nl").as("n_violations"))))
        .as("c"), col("n"))
      .select(col("c.chk").as("chk"), col("c.n_violations"),
        col("n").as("n_rows"),
        (col("c.n_violations") === 0).cast("long").as("pass"))
      .orderBy("chk")
  }

  private[graft] val dataContractSql: String =
    """WITH clean AS (SELECT event_id, user_id, event_type, value,
      |                      epoch_us(ts) AS us FROM events),
      | mx AS (SELECT max(us) AS mx FROM clean),
      | enum5 AS (SELECT DISTINCT event_type AS et FROM clean),
      | feed AS (
      |   SELECT event_id,
      |          CASE WHEN event_id % 13 = 5 THEN -user_id - 1
      |               ELSE user_id END AS user_id,
      |          CASE WHEN event_id % 17 = 3 THEN 'zzz_' || event_type
      |               ELSE event_type END AS event_type,
      |          CASE WHEN event_id % 19 = 7 THEN -value
      |               ELSE value END AS value,
      |          CASE WHEN event_id % 23 = 11 THEN us + 315360000000000
      |               ELSE us END AS us
      |   FROM clean),
      | agg AS (
      |   SELECT count(*) AS n,
      |          sum(CASE WHEN user_id < 0 THEN 1 ELSE 0 END) AS uid,
      |          sum(CASE WHEN event_type NOT IN (SELECT et FROM enum5)
      |                   THEN 1 ELSE 0 END) AS enm,
      |          sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS vl,
      |          sum(CASE WHEN us > (SELECT mx FROM mx)
      |                   THEN 1 ELSE 0 END) AS fr,
      |          sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS nl
      |   FROM feed)
      |SELECT chk, CAST(v AS BIGINT) AS n_violations,
      |       CAST(n AS BIGINT) AS n_rows,
      |       CAST(CASE WHEN v = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass
      |FROM (
      |  SELECT '1_user_id_nonneg' AS chk, uid AS v, n FROM agg
      |  UNION ALL SELECT '2_event_type_enum', enm, n FROM agg
      |  UNION ALL SELECT '3_value_nonneg', vl, n FROM agg
      |  UNION ALL SELECT '4_ts_freshness', fr, n FROM agg
      |  UNION ALL SELECT '5_user_id_complete', nl, n FROM agg) u
      |ORDER BY chk""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("x238_vocab_coverage_sweep", vocabCoverageSweep,
      Some(vocabCoverageSweepSql)),
    QueryDef("x239_repartition_invariance", repartitionInvariance,
      Some(repartitionInvarianceSql)),
    QueryDef("x240_data_contract", dataContract, Some(dataContractSql)))
}
