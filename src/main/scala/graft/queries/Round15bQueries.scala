package graft.queries

import graft.{Checkpoints, QueryDef, Tables}
import graft.operators.{Dedup, VectorOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-15b: corpus-mining and sketch-completion operators — parallel
  * bitext mining (the CCMatrix/LASER shape), a weakest-link audit over
  * dedup clusters (transitive over-merge governance), and the HLL
  * register certification that completes the sketch family
  * (x196 count-min, x224 KMV, x231 Bloom, x237 HLL).
  */
object Round15bQueries {

  private def h60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  // ---- x235: parallel bitext mining (mutual best match) -----------------

  /** x235: cross-lingual parallel-pair mining by MUTUAL best match — the
    * CCMatrix/LASER margin-mining shape reduced to its deterministic
    * core: for English docs vs French docs (vec_id aligns with doc_id on
    * this fixture), score embedding cosine both ways and keep the pairs
    * where each side is the other's argmax. Mutual-best is the standard
    * precision filter: a one-directional argmax pairs every source with
    * SOMETHING, mutuality demands agreement.
    *
    * Scale: the smaller language block broadcasts (languages are
    * corpus-fraction-sized); each side's argmax is a WindowGroupLimit
    * top-1, so the shuffle carries one row per (doc, direction), never
    * the score matrix. Beyond brute force the scored input swaps for the
    * x185 escalated candidates — the x230 composition, same tail.
    * Determinism: round-6 cosine, ties broken by id (the x173 idiom).
    */
  private def bitextMine(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    def side(lang: String, idName: String, vecName: String): DataFrame =
      Tables.documents(s, dir).filter(col("lang") === lang)
        .select(col("doc_id").as(idName))
        .join(Tables.embeddings(s, dir)
            .select(col("vec_id").as(idName),
              transform(col("embedding"), (x: Column) => x.cast("double"))
                .as(vecName)),
          idName)
    val en = side("en", "en_id", "ev")
    val fr = side("fr", "fr_id", "fv")
    val scored = en.crossJoin(broadcast(fr))
      .select(col("en_id"), col("fr_id"),
        VectorOps.cos6(col("ev"), col("fv")).as("cos"))
    // (r16 note: checkpointing `scored` would halve the block-pair pass —
    // mutualBestPairs consumes both directions — but it hides the
    // broadcast block join from x235's plan audit, which certifies the
    // block-broadcast shape; left lazy on purpose.)
    // Tail shared with x245's ANN-candidate twin (one definition).
    graft.operators.Similarity.mutualBestPairs(scored)
  }

  private[graft] val bitextMineSql: String =
    s"""WITH en AS (
      |   SELECT d.doc_id AS en_id, CAST(e.embedding AS DOUBLE[]) AS ev
      |   FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      |   WHERE d.lang = 'en'),
      | fr AS (
      |   SELECT d.doc_id AS fr_id, CAST(e.embedding AS DOUBLE[]) AS fv
      |   FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      |   WHERE d.lang = 'fr'),
      | scored AS (
      |   SELECT en_id, fr_id,
      |          ${VectorOps.cos6Sql("ev", "fv")} AS cos
      |   FROM en, fr),
      | fwd AS (SELECT en_id, fr_id, cos FROM (
      |     SELECT en_id, fr_id, cos, row_number() OVER (PARTITION BY en_id
      |       ORDER BY cos DESC, fr_id) AS rn FROM scored) f WHERE rn = 1),
      | bwd AS (SELECT en_id, fr_id FROM (
      |     SELECT en_id, fr_id, row_number() OVER (PARTITION BY fr_id
      |       ORDER BY cos DESC, en_id) AS rn FROM scored) b WHERE rn = 1)
      |SELECT fwd.en_id, fwd.fr_id, fwd.cos
      |FROM fwd JOIN bwd ON fwd.en_id = bwd.en_id AND fwd.fr_id = bwd.fr_id
      |ORDER BY fwd.en_id""".stripMargin

  // ---- x236: dedup-cluster weakest-link audit ----------------------------

  /** x236: transitive over-merge GOVERNANCE over the x43 dedup clusters —
    * closure gladly chains A~B~C into one cluster even when A and C share
    * nothing (the x229 ER over-merge, here on the document side). Per
    * cluster: member count, verified-edge count, edge density vs the
    * complete graph (permille), and the WEAKEST and strongest verified
    * edge similarity. A low-density cluster glued by one weak link is the
    * chain-merge archetype a retention policy should re-verify before
    * deleting members; this report is how you find them.
    *
    * Scale: reuses x43's pair graph and clusters verbatim; the audit
    * itself is one cluster-keyed hash aggregate over the (small) verified
    * pair set. Edge similarities are the round-6 Jaccards both engines
    * already agree on.
    */
  private def weakestLink(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = Checkpoints.local(Dedup.minhashLshPairs(docs, 0.8))
    val clusters = Dedup.dedupClusters(pairs)
    val members = clusters.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"))
    val edges = pairs
      .join(clusters.withColumnRenamed("doc_id", "a"), "a")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_edges"),
        min(col("jaccard")).as("weakest_link"),
        max(col("jaccard")).as("strongest_link"))
    members.join(edges, "cluster_id")
      .select(col("cluster_id"), col("n_members"), col("n_edges"),
        expr("n_edges * 1000 DIV (n_members * (n_members - 1) DIV 2)")
          .as("density_permille"),
        col("weakest_link"), col("strongest_link"))
      .orderBy("cluster_id")
  }

  private val weakestLinkSql: String =
    s"""WITH RECURSIVE
       | ${Dedup.clusterClosureCtesSql(0.8)},
       | m AS (SELECT cluster_id, count(*) AS n_members FROM cl GROUP BY 1),
       | e AS (SELECT cl.cluster_id, count(*) AS n_edges,
       |              min(p.jaccard) AS weakest_link,
       |              max(p.jaccard) AS strongest_link
       |       FROM p JOIN cl ON p.a = cl.doc_id GROUP BY 1)
       |SELECT m.cluster_id, CAST(m.n_members AS BIGINT) AS n_members,
       |       CAST(e.n_edges AS BIGINT) AS n_edges,
       |       CAST(e.n_edges * 1000
       |            // (m.n_members * (m.n_members - 1) // 2) AS BIGINT)
       |         AS density_permille,
       |       e.weakest_link, e.strongest_link
       |FROM m JOIN e ON m.cluster_id = e.cluster_id
       |ORDER BY m.cluster_id""".stripMargin

  // ---- x237: HyperLogLog register certification --------------------------

  /** x237: HLL certification — the production distinct-count sketch,
    * certified register by register instead of cited: md5-derived
    * (bucket, rho) pairs (m = 64 buckets from the low bits, rho =
    * leading-zero rank of a 24-bit field, so every quantity stays in
    * exact integer range), per-event-type registers max-merged and
    * certified equal to the all-keys registers, and BOTH estimator
    * regimes emitted as exact integers: the raw HLL harmonic estimate
    * (alpha·m²·2²⁵ DIV S with S = Σ 2^(25−M_j) — no floats) and the
    * small-range linear-counting estimate m·ln(m/V) via a 64-entry
    * precomputed integer ln-spine (V = empty buckets; the SAME literal
    * constants are embedded in the Spark plan and the oracle SQL, so
    * there is no cross-engine transcendental to disagree on). The
    * standard regime rule picks between them; true count and error
    * permille ride the output.
    *
    * Scale: one distinct-aggregate corpus pass builds the registers
    * (max is map-side combinable); everything after is 64 rows.
    */
  private[graft] val M = 64
  // alpha_64 * m^2 * 2^25 with alpha = 709/1000, precomputed as one
  // 64-bit literal (the int32 product would overflow in BOTH engines).
  private val HllNumer: Long = 709L * M * M * (1L << 25)
  private val lnSpine: Seq[(Int, Long)] =
    (1 to M).map(v => (v, math.round(math.log(M.toDouble / v) * 1000)))

  /** (bucket, rho) pairs for a key column — the HLL hashing shared by the
    * batch certification and the x242 streaming twin.
    */
  private[graft] def hllRho(keys: DataFrame, keyCol: String): DataFrame =
    keys.select(h60(col(keyCol)).as("h"))
      .select(expr(s"h % $M").as("b"),
        expr(s"h DIV $M % ${1L << 24}").as("r"))
      .select(col("b"),
        when(col("r") === 0, lit(25L))
          .otherwise(lit(25L) - length(bin(col("r")))).as("rho"))

  /** The estimator tail over a COMPLETE 64-row register table — shared by
    * the batch certification and the streaming twin, so both regimes and
    * the regime rule are one definition.
    */
  private[graft] def hllReport(s: SparkSession, regs: DataFrame,
      nTrue: Long, regDiff: Long): DataFrame = {
    val sAgg = regs.agg(
      sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(25 - m AS INT))")).as("s"),
      sum((col("m") === 0).cast("long")).as("v"))
    import s.implicits._
    val ln = lnSpine.toDF("v", "lnk")
    sAgg.join(broadcast(ln), Seq("v"), "left")
      .select(
        expr(s"$HllNumer DIV (1000 * s)").as("est_hll"),
        expr(s"$M * coalesce(lnk, 0) DIV 1000").as("est_lin"),
        col("v").as("n_empty"))
      .select(col("est_hll"), col("est_lin"), col("n_empty"),
        // Standard regime rule: small-range correction while the raw
        // estimate sits under 2.5m AND empty buckets remain.
        when(col("est_hll") <= lit((5 * M / 2).toLong) && col("n_empty") > 0,
          col("est_lin")).otherwise(col("est_hll")).as("est"),
        lit(nTrue).as("n_true"),
        lit(regDiff).as("merge_reg_diff"))
      .select(col("est_hll"), col("est_lin"), col("n_empty"), col("est"),
        col("n_true"), col("merge_reg_diff"),
        (abs(col("est") - col("n_true")) * 1000 / col("n_true"))
          .cast("long").as("err_permille"))
  }

  private def hllCertify(s: SparkSession, dir: String): DataFrame = {
    val keys = Tables.events(s, dir)
      .select(col("user_id").cast("string").as("k")).distinct()
    val hashed = hllRho(keys, "k")
    val spine = s.range(0, M).select(col("id").as("b"))
    val regs = Checkpoints.local(spine
      .join(hashed.groupBy("b").agg(max(col("rho")).as("m")), Seq("b"), "left")
      .select(col("b"), coalesce(col("m"), lit(0L)).as("m")))

    // Per-source registers, max-merged, vs the all-keys registers.
    val perSrc = Tables.events(s, dir)
      .select(col("event_type"), col("user_id").cast("string").as("k"))
      .distinct()
      .select(col("event_type"), h60(col("k")).as("h"))
      .select(col("event_type"), expr(s"h % $M").as("b"),
        expr(s"h DIV $M % ${1L << 24}").as("r"))
      .select(col("event_type"), col("b"),
        when(col("r") === 0, lit(25L))
          .otherwise(lit(25L) - length(bin(col("r")))).as("rho"))
      .groupBy("event_type", "b").agg(max(col("rho")).as("m"))
    val merged = spine.join(
        perSrc.groupBy("b").agg(max(col("m")).as("m")), Seq("b"), "left")
      .select(col("b"), coalesce(col("m"), lit(0L)).as("m"))
    val regDiff = regs.join(merged, Seq("b", "m"), "left_anti").count()
    hllReport(s, regs, keys.count(), regDiff)
  }

  private[graft] val hllCertifySql: String = {
    val lnValues = lnSpine.map { case (v, l) => s"($v, $l)" }.mkString(", ")
    def rhoSql(src: String): String =
      s"""SELECT $src.b, CASE WHEN r = 0 THEN 25
         |       ELSE 25 - length(bin(r)) END AS rho FROM $src""".stripMargin
    s"""WITH keys AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS k
       |              FROM events),
       | h AS (SELECT CAST('0x' || substr(md5(k), 1, 15) AS BIGINT) % $M AS b,
       |              CAST('0x' || substr(md5(k), 1, 15) AS BIGINT)
       |                // $M % ${1L << 24} AS r
       |       FROM keys),
       | rho AS (${rhoSql("h")}),
       | spine AS (SELECT CAST(range AS BIGINT) AS b FROM range(0, $M)),
       | regs AS (SELECT spine.b, coalesce(max(rho.rho), 0) AS m
       |          FROM spine LEFT JOIN rho ON spine.b = rho.b GROUP BY 1),
       | su AS (SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS k
       |        FROM events),
       | hs AS (SELECT event_type,
       |               CAST('0x' || substr(md5(k), 1, 15) AS BIGINT) % $M AS b,
       |               CAST('0x' || substr(md5(k), 1, 15) AS BIGINT)
       |                 // $M % ${1L << 24} AS r
       |        FROM su),
       | rhos AS (SELECT event_type, b,
       |                 CASE WHEN r = 0 THEN 25
       |                      ELSE 25 - length(bin(r)) END AS rho FROM hs),
       | srcregs AS (SELECT event_type, b, max(rho) AS m
       |             FROM rhos GROUP BY 1, 2),
       | merged AS (SELECT spine.b, coalesce(max(srcregs.m), 0) AS m
       |            FROM spine LEFT JOIN srcregs ON spine.b = srcregs.b
       |            GROUP BY 1),
       | rdiff AS (SELECT count(*) AS d FROM regs r
       |           WHERE NOT EXISTS (SELECT 1 FROM merged mg
       |                             WHERE mg.b = r.b AND mg.m = r.m)),
       | agg AS (SELECT sum(CAST(1 AS BIGINT) << CAST(25 - m AS INT)) AS s,
       |                sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS v
       |         FROM regs),
       | ln(v, lnk) AS (VALUES $lnValues),
       | est AS (
       |   SELECT $HllNumer // (1000 * agg.s) AS est_hll,
       |          $M * coalesce(ln.lnk, 0) // 1000 AS est_lin,
       |          agg.v AS n_empty
       |   FROM agg LEFT JOIN ln ON agg.v = ln.v),
       | t AS (SELECT count(*) AS n_true FROM keys)
       |SELECT CAST(est_hll AS BIGINT) AS est_hll,
       |       CAST(est_lin AS BIGINT) AS est_lin,
       |       CAST(n_empty AS BIGINT) AS n_empty,
       |       CAST(CASE WHEN est_hll <= ${5 * M / 2} AND n_empty > 0
       |                 THEN est_lin ELSE est_hll END AS BIGINT) AS est,
       |       CAST(n_true AS BIGINT) AS n_true,
       |       CAST((SELECT d FROM rdiff) AS BIGINT) AS merge_reg_diff,
       |       CAST(abs(CASE WHEN est_hll <= ${5 * M / 2} AND n_empty > 0
       |                     THEN est_lin ELSE est_hll END - n_true)
       |            * 1000 // n_true AS BIGINT) AS err_permille
       |FROM est, t""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("x235_bitext_mine", bitextMine, Some(bitextMineSql)),
    QueryDef("x236_cluster_weakest_link", weakestLink, Some(weakestLinkSql)),
    QueryDef("x237_hll_certify", hllCertify, Some(hllCertifySql)))
}
