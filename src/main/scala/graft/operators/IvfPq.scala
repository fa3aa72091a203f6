package graft.operators

import graft.{Checkpoints, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import KMeansLite.d2
import ProductQuant.{PQ, sub, subSql, d2Sql, subspaceCtesSql, trainSubspace}

/** IVF-PQ (Jégou et al. 2011, the FAISS IVFPQ shape) — the composition
  * that actually runs at billion-vector scale: a coarse k-means quantizer
  * routes each vector to a cell, product quantization compresses the
  * RESIDUAL (vector − cell centroid), and a query scans only its
  * `nprobe` nearest cells' code lists via ADC. x23 ships the IVF half
  * and x166 the PQ half; this certifies the composition, whose two
  * scale levers multiply: the cell restriction bounds the scan to
  * nprobe/k of the corpus while the residual codes shrink what that
  * scan reads 64×. Residuals also concentrate around 0, so the same
  * codebook budget quantizes them with less error than raw vectors —
  * the reason production indexes encode residuals at all.
  *
  * Engine parity is inherited wholesale: the coarse chain is x101's
  * trajectory on the full vectors, the subspace chains are x166's on the
  * residuals (residual subtraction is one exact IEEE op per element on
  * both engines), and every ranking uses the round-6 + vec_id total
  * order. The DuckDB oracle replays coarse training, residual
  * computation, four residual codebooks, cell probing, the
  * cell-restricted ADC scan, and the recall integers end to end.
  */
object IvfPq {

  /** Coarse cells (also x101's k) and probed cells per query. */
  val coarseK = 4
  val nprobe = 2

  def ivfPqRecall(spark: SparkSession, emb: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // Materialized (r17): vecs feeds the coarse trainer (init + two
    // assignments), the probe set, and the exact side — the same
    // re-scan shape pqRecall had (r16 sweep residual). One narrow scan.
    val vecs = Checkpoints.local(KMeansLite.vectors(emb))

    // Coarse quantizer: the x101 trajectory (init → assign → decimal
    // recompute → assign) on the full 64-d vectors.
    val (ca2, cc1) = KMeansLite.lloyd2(vecs, coarseK)

    // Residuals — feed four subspace trainers plus the code join, so
    // materialize once (the orientByDegree lesson).
    val res = Checkpoints.local(ca2.join(broadcast(cc1), "cid")
      .select(col("vec_id"), col("cid"),
        zip_with(col("v"), col("cv"), (a, b) => a - b).as("v")))

    val trained = (0 until PQ.m).map(s =>
      trainSubspace(res.select("vec_id", "v"), s))
    val codes = trained.map(_._1).reduce(_.join(_, "vec_id"))
      .join(res.select("vec_id", "cid"), "vec_id")

    val q = vecs.filter(col("vec_id") < PQ.probeSet)
      .select(col("vec_id").as("qid"), col("v").as("qv"))

    // Probed cells: top-nprobe coarse centroids per query.
    val wq = Window.partitionBy("qid")
      .orderBy(col("qd2").asc, col("cid").asc)
    val qc = q.crossJoin(broadcast(cc1))
      .withColumn("qd2", d2(col("qv"), col("cv")))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("cid"), col("cv"), col("qv"))

    // Query residual per probed cell, and per-subspace ADC lookup tables
    // (probeSet × nprobe × k rows each — broadcast).
    val qr = qc.select(col("qid"), col("cid"),
      zip_with(col("qv"), col("cv"), (a, b) => a - b).as("qr"))
    val luts = trained.zipWithIndex.map { case ((_, cents), s) =>
      // `cid` here is the COARSE cell key; the PQ centroid id must be
      // renamed before the cross join or the two collide.
      qr.crossJoin(broadcast(
          cents.select(col("cid").as(s"code_$s"), col("cv").as("pcv"))))
        .select(col("qid"), col("cid"), col(s"code_$s"),
          d2(sub(col("qr"), s), col("pcv")).as(s"d2_$s"))
    }

    // ADC over the probed cells' code lists only.
    val probed = codes.join(qc.select("qid", "cid").distinct(), Seq("cid"))
    val adc = luts.foldLeft(probed) { case (acc, lut) =>
      acc.join(broadcast(lut), acc.columns.intersect(lut.columns).toSeq)
    }
    val wr = Window.partitionBy("qid").orderBy(col("ad2").asc, col("vec_id").asc)
    val pq = adc.withColumn("ad2",
      round((0 until PQ.m).map(s => col(s"d2_$s")).reduce(_ + _), 6))
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") <= PQ.topK)
      .select("qid", "vec_id")

    // Exact squared-L2 top-k (certification only).
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

  private def ivfPqRecallSql: String = {
    val coarse =
      s"""cc0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
         |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $coarseK)),
         | ca1 AS (
         |  SELECT vec_id, cid, v FROM (
         |    SELECT e.vec_id, cc0.cid, e.v,
         |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |             ${d2Sql("e.v", "cc0.cv")}, cc0.cid) AS rn
         |    FROM e CROSS JOIN cc0) r WHERE rn = 1),
         | cc1 AS (
         |  SELECT cid, list(cv_el ORDER BY idx) AS cv FROM (
         |    SELECT ca1.cid, i.idx,
         |           CAST(sum(CAST(ca1.v[i.idx] AS DECIMAL(27,12))) AS DOUBLE)
         |             / count(*) AS cv_el
         |    FROM ca1, (SELECT unnest(generate_series(1, 64)) AS idx) i
         |    GROUP BY 1, 2) g GROUP BY 1),
         | ca2 AS (
         |  SELECT vec_id, cid, v FROM (
         |    SELECT e.vec_id, cc1.cid, e.v,
         |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |             ${d2Sql("e.v", "cc1.cv")}, cc1.cid) AS rn
         |    FROM e CROSS JOIN cc1) r WHERE rn = 1),
         | res AS (
         |  SELECT ca2.vec_id, ca2.cid,
         |         list_transform(generate_series(1, 64),
         |           i -> ca2.v[i] - cc1.cv[i]) AS v
         |  FROM ca2 JOIN cc1 USING (cid))""".stripMargin
    val subs = (0 until PQ.m)
      .map(s => subspaceCtesSql(s, src = "res")).mkString(",\n")
    val codeJoin = (1 until PQ.m)
      .foldLeft("a2_0")((acc, s) => s"$acc JOIN a2_$s USING (vec_id)")
    val lutCtes = (0 until PQ.m).map { s =>
      s""" lut_$s AS (
         |   SELECT qr.qid, qr.cid, c1_$s.cid AS code_$s,
         |          ${d2Sql(s"${subSql("qr.qr", s)}", s"c1_$s.cv")} AS d2_$s
         |   FROM qr CROSS JOIN c1_$s)""".stripMargin
    }.mkString(",\n")
    val lutJoins = (0 until PQ.m)
      .map(s => s"JOIN lut_$s USING (qid, cid, code_$s)").mkString(" ")
    val adcSum = (0 until PQ.m).map(s => s"d2_$s").mkString(" + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       | $coarse,
       |$subs,
       | codes AS (SELECT * FROM $codeJoin
       |           JOIN (SELECT vec_id, cid FROM res) rc USING (vec_id)),
       | q AS (SELECT vec_id AS qid, v AS qv FROM e
       |       WHERE vec_id < ${PQ.probeSet}),
       | qc AS (
       |   SELECT qid, cid, cv, qv FROM (
       |     SELECT q.qid, cc1.cid, cc1.cv, q.qv,
       |            row_number() OVER (PARTITION BY q.qid ORDER BY
       |              ${d2Sql("q.qv", "cc1.cv")}, cc1.cid) AS rn
       |     FROM q CROSS JOIN cc1) r WHERE rn <= $nprobe),
       | qr AS (
       |   SELECT qid, cid,
       |          list_transform(generate_series(1, 64),
       |            i -> qv[i] - cv[i]) AS qr FROM qc),
       |$lutCtes,
       | pq AS (
       |   SELECT qid, vec_id FROM (
       |     SELECT c.qid, c.vec_id,
       |            row_number() OVER (PARTITION BY c.qid ORDER BY
       |              c.ad2 ASC, c.vec_id ASC) AS rn
       |     FROM (SELECT qid, codes.vec_id, round($adcSum, 6) AS ad2
       |           FROM codes
       |           JOIN (SELECT DISTINCT qid, cid FROM qc) pc USING (cid)
       |           $lutJoins) c) r
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
      "x169_ann_ivfpq_recall",
      (s, dir) => ivfPqRecall(s, Tables.embeddings(s, dir)),
      Some(ivfPqRecallSql))
  )
}
