package graft.operators

import graft.{Checkpoints, QueryDef, Tables}
import KMeansLite.d2
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011) for ANN at 100 TB: each
  * 64-d float vector compresses to M=4 one-byte codes — the 64× smaller
  * code table is what a cluster-scale scan reads, while the codebooks
  * (M·K·subDim doubles) broadcast everywhere. Query scoring is ADC
  * (asymmetric distance computation): per query, a tiny M×K lookup table
  * of exact query-subvector↔centroid distances, and every candidate's
  * approximate distance is M table lookups + adds over its codes — no
  * float vectors touched in the scan.
  *
  * The reference has no vector operators at all (SURVEY §2.B); this is
  * the scale path the LLM-data north star needs beyond the IVF (x23) and
  * hyperplane-LSH (x06/x81/x138) routes already shipped.
  *
  * Engine parity: every per-subspace codebook is trained with
  * [[KMeansLite]]'s exact trajectory (graft_dot distance expansion,
  * DECIMAL(27,12) centroid sums, ties to lowest cid, first-K init) on the
  * sliced subvectors, so the DuckDB oracle replays training, encoding,
  * the ADC scores, and the recall integers bit for bit. ADC sums add the
  * M=4 subspace terms in one fixed left-assoc order on both engines.
  */
object ProductQuant {

  /** Certified configuration — the Spark paths and the DuckDB oracle both
    * interpolate from here, so they move together or not at all
    * (the x161 constants-object idiom).
    */
  object PQ {
    val m = 4            // subspaces
    val subDim = 16      // dims per subspace (4 × 16 = 64)
    val k = 4            // centroids per subspace (codes are 2 bits here)
    val probeSet = 8     // certification queries: vec_id < 8
    val topK = 10
  }

  /** Subvector slice of subspace `s` (1-based slice, matching DuckDB's
    * inclusive list slicing).
    */
  private[operators] def sub(v: Column, s: Int): Column =
    slice(v, s * PQ.subDim + 1, PQ.subDim)

  /** Train subspace `s`'s codebook and encode every vector: the x101
    * trajectory (first-K init → assign → decimal recompute → assign) on
    * the sliced subvectors. Returns (codes: vec_id, code_s) and the
    * final centroids (cid, cv) the second assignment used.
    */
  private[operators] def trainSubspace(vecs: DataFrame, s: Int): (DataFrame, DataFrame) = {
    val vs = vecs.select(col("vec_id"), sub(col("v"), s).as("v"))
    // Materialized (r16): the centroids (checkpointed by lloyd2) feed
    // every downstream LUT build, and the code table feeds the M-way
    // code join plus the ADC — lazily each reference re-ran the whole
    // train trajectory from the parquet scan up (x166's pre-r16 plan
    // re-scanned the embeddings 35 times across its 4 subspaces). Both
    // frames are tiny: k rows of centroids, |corpus| id+code rows.
    val (a2, c1) = KMeansLite.lloyd2(vs, PQ.k)
    (Checkpoints.local(a2.select(col("vec_id"), col("cid").as(s"code_$s"))), c1)
  }

  /** x166: PQ-ADC recall certification. Trains the M codebooks, encodes
    * the corpus, scores the probe queries through ADC over the CODE
    * table only, and emits recall@k vs the exact squared-L2 top-k as
    * per-10k integers (the x160 idiom — the recall NUMBERS are
    * hash-gated, not just row counts). Same-metric ground truth: both
    * sides rank by squared L2, so the gap measured is quantization loss,
    * not a metric mismatch.
    *
    * Scale shape: the only corpus-size scan in the query path reads
    * (vec_id, M codes); each LUT join broadcasts probeSet·K rows; the
    * per-query rank is a WindowGroupLimit partitioned by qid. The exact
    * side exists only for certification and is dropped in production.
    */
  def pqRecall(spark: SparkSession, emb: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // Materialized (r17): vecs feeds all four subspace trainers (init +
    // two assignment passes each), the probe set, and the exact side —
    // lazily every one re-ran the parquet scan + double cast (the r16
    // sweep's residual "7 scans"). One narrow scan, checkpointed once.
    val vecs = Checkpoints.local(KMeansLite.vectors(emb))
    val trained = (0 until PQ.m).map(s => trainSubspace(vecs, s))
    val codes = trained.map(_._1).reduce(_.join(_, "vec_id"))

    val q = vecs.filter(col("vec_id") < PQ.probeSet)
      .select(col("vec_id").as("qid"), col("v").as("qv"))

    // Per-subspace LUT: exact distance from each query subvector to each
    // centroid — probeSet × k rows, broadcast.
    val luts = trained.zipWithIndex.map { case ((_, cents), s) =>
      q.crossJoin(broadcast(cents))
        .select(col("qid"), col("cid").as(s"code_$s"),
          d2(sub(col("qv"), s), col("cv")).as(s"d2_$s"))
    }

    // ADC: code scan × broadcast LUTs; fixed left-assoc sum order.
    val adc = luts.zipWithIndex.foldLeft(codes.crossJoin(q.select("qid"))) {
      case (acc, (lut, s)) => acc.join(broadcast(lut), Seq("qid", s"code_$s"))
    }
    val approx = adc.withColumn("ad2",
      round((0 until PQ.m).map(s => col(s"d2_$s")).reduce(_ + _), 6))
    val wq = Window.partitionBy("qid").orderBy(col("ad2").asc, col("vec_id").asc)
    val pq = approx
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= PQ.topK)
      .select("qid", "vec_id")

    // Exact squared-L2 top-k over the same probe set (certification only).
    val wex = Window.partitionBy("qid").orderBy(col("ed2").asc, col("vec_id").asc)
    val exact = vecs.crossJoin(broadcast(q))
      .withColumn("ed2", round(d2(col("v"), col("qv")), 6))
      .withColumn("rn", row_number().over(wex))
      .filter(col("rn") <= PQ.topK)
      .select("qid", "vec_id")

    val pqHits = pq.select(col("qid").as("pqid"), col("vec_id").as("pvid"))
    exact
      .join(pqHits,
        col("qid") === col("pqid") && col("vec_id") === col("pvid"), "left")
      .groupBy("qid")
      .agg(count(col("pvid")).as("n_hits"),
        (count(col("pvid")) * 10000 / PQ.topK).cast("long")
          .as("recall_per_10k"))
      .orderBy("qid")
  }

  // ---------------------------------------------------------------- SQL

  /** Subspace slice in DuckDB's 1-based inclusive list syntax. */
  private[operators] def subSql(v: String, s: Int): String =
    s"$v[${s * PQ.subDim + 1}:${(s + 1) * PQ.subDim}]"

  private[operators] def d2Sql(a: String, b: String): String =
    s"(list_dot_product($a, $a) - 2.0 * list_dot_product($a, $b)" +
      s" + list_dot_product($b, $b))"

  /** The x101 CTE chain on subspace `s` (suffix `_$s`): init → assign →
    * decimal recompute → assign, on the sliced lists of source CTE `src`
    * (x166 trains on the raw vectors `e`; x169 on the coarse residuals).
    */
  private[operators] def subspaceCtesSql(s: Int, src: String = "e"): String = {
    val es = s"es_$s"; val c0 = s"c0_$s"; val a1 = s"a1_$s"
    val c1 = s"c1_$s"; val a2 = s"a2_$s"
    s""" $es AS (SELECT vec_id, ${subSql("v", s)} AS v FROM $src),
       | $c0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
       |  FROM (SELECT vec_id, v FROM $es ORDER BY vec_id LIMIT ${PQ.k})),
       | $a1 AS (
       |  SELECT vec_id, cid, v FROM (
       |    SELECT $es.vec_id, $c0.cid, $es.v,
       |           row_number() OVER (PARTITION BY $es.vec_id ORDER BY
       |             ${d2Sql(s"$es.v", s"$c0.cv")}, $c0.cid) AS rn
       |    FROM $es CROSS JOIN $c0) r WHERE rn = 1),
       | $c1 AS (
       |  SELECT cid, list(cv_el ORDER BY idx) AS cv FROM (
       |    SELECT $a1.cid, i.idx,
       |           CAST(sum(CAST($a1.v[i.idx] AS DECIMAL(27,12))) AS DOUBLE)
       |             / count(*) AS cv_el
       |    FROM $a1, (SELECT unnest(generate_series(1, ${PQ.subDim})) AS idx) i
       |    GROUP BY 1, 2) g
       |  GROUP BY 1),
       | $a2 AS (
       |  SELECT vec_id, cid AS code_$s FROM (
       |    SELECT $es.vec_id, $c1.cid,
       |           row_number() OVER (PARTITION BY $es.vec_id ORDER BY
       |             ${d2Sql(s"$es.v", s"$c1.cv")}, $c1.cid) AS rn
       |    FROM $es CROSS JOIN $c1) r WHERE rn = 1)""".stripMargin
  }

  private def pqRecallSql: String = {
    val subs = (0 until PQ.m).map(s => subspaceCtesSql(s)).mkString(",\n")
    val codeJoin = (1 until PQ.m)
      .foldLeft("a2_0")((acc, s) => s"$acc JOIN a2_$s USING (vec_id)")
    val lutCtes = (0 until PQ.m).map { s =>
      s""" lut_$s AS (
         |   SELECT q.qid, c1_$s.cid AS code_$s,
         |          ${d2Sql(s"${subSql("q.qv", s)}", s"c1_$s.cv")} AS d2_$s
         |   FROM q CROSS JOIN c1_$s)""".stripMargin
    }.mkString(",\n")
    val lutJoins = (0 until PQ.m)
      .map(s => s"JOIN lut_$s USING (qid, code_$s)").mkString(" ")
    val adcSum = (0 until PQ.m).map(s => s"d2_$s").mkString(" + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |${subs},
       | codes AS (SELECT * FROM $codeJoin),
       | q AS (SELECT vec_id AS qid, v AS qv FROM e
       |       WHERE vec_id < ${PQ.probeSet}),
       |$lutCtes,
       | pq AS (
       |   SELECT qid, vec_id FROM (
       |     SELECT c.qid, c.vec_id,
       |            row_number() OVER (PARTITION BY c.qid ORDER BY
       |              c.ad2 ASC, c.vec_id ASC) AS rn
       |     FROM (SELECT q.qid, codes.vec_id, round($adcSum, 6) AS ad2
       |           FROM codes CROSS JOIN q $lutJoins) c) r
       |   WHERE rn <= ${PQ.topK}),
       | ex AS (
       |   SELECT qid, vec_id FROM (
       |     SELECT q.qid, e.vec_id,
       |            row_number() OVER (PARTITION BY q.qid ORDER BY
       |              round(${d2Sql("e.v", "q.qv")}, 6) ASC, e.vec_id ASC)
       |              AS rn
       |     FROM e CROSS JOIN q) r
       |   WHERE rn <= ${PQ.topK})
       |SELECT ex.qid, CAST(count(pq.vec_id) AS BIGINT) AS n_hits,
       |       CAST(count(pq.vec_id) * 10000 // ${PQ.topK} AS BIGINT)
       |         AS recall_per_10k
       |FROM ex LEFT JOIN pq USING (qid, vec_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val queries: Seq[QueryDef] = Seq(
    QueryDef(
      "x166_ann_pq_recall",
      (s, dir) => pqRecall(s, Tables.embeddings(s, dir)),
      Some(pqRecallSql))
  )
}
