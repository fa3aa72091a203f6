package graft.operators

import graft.{Checkpoints, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MinHash-LSH parameter sweep (x208) — the (bands × rows) tuning query
  * behind every x03-family deployment, sibling of x206's threshold sweep.
  *
  * Picking (b, r) is a recall-vs-candidate-volume trade governed by the
  * S-curve P(candidate) = 1 − (1 − J^r)^b; production teams sweep it on a
  * labeled slice before committing a corpus pass. This query renders the
  * whole sweep as ONE job over one signature table:
  *
  *  - candidate COST is estimated from bucket-size histograms only —
  *    Σ n·(n−1)/2 per (band, sig) bucket — so the degenerate configs
  *    (r = 1, where one boilerplate-heavy min-hash value buckets a huge
  *    doc fraction) are EXPOSED numerically without ever materializing
  *    their quadratic pair set. That is the only way a sweep survives at
  *    100 TB: the bad configs it exists to rule out are exactly the ones
  *    you cannot afford to run.
  *  - RECALL is measured against the exact-Jaccard truth set (the x02
  *    pair join — already corpus-feasible, it is the thing LSH
  *    approximates), by probing each true pair's two signature rows for
  *    any shared band: pair-bounded work, broadcast truth table.
  *
  * Permutations use md5-derived hashes (not xxhash64) precisely so the
  * ENTIRE sweep — signatures included — replays in the DuckDB oracle;
  * x03's production path keeps xxhash64, whose collision behavior this
  * sweep's md5 family mirrors (both uniform on shingle strings).
  *
  * Scale: one shingle pass → one groupBy(doc) producing P = 12 min
  * columns; per config a narrow fan-out to b band rows and a count-only
  * aggregate. Nothing driver-side; signature table checkpointed once and
  * shared by all configs.
  */
object LshTuning {

  private val P = 12
  private val configs = Seq((12, 1), (6, 2), (4, 3), (3, 4), (2, 6))

  private def mhCol(i: Int): Column =
    min(conv(substring(md5(concat(lit(i.toString), lit(":"), col("shingle"))
      .cast("binary")), 1, 15), 16, 10).cast("long")).as(s"m$i")

  /** One row per (bands, rows_per_band) config: generated-candidate count
    * (from bucket histograms), truth-set size, found count, recall ‰.
    */
  def sweep(spark: SparkSession, docs: DataFrame,
      threshold: Double = 0.8): DataFrame = {
    // One shingle pass (r16): the signature aggregate and the exact-truth
    // pair join consumed two independent tokenize→explode pipelines over
    // the same corpus; both now read one materialized shingle set (the
    // ngramJaccardPairsFromShingles entry exists for exactly this).
    val sh = Checkpoints.local(TextOps.shingles(docs))
    val sigs = Checkpoints.local(sh.groupBy("doc_id")
      .agg(mhCol(0), (1 until P).map(mhCol): _*))
    val truth = Checkpoints.local(Dedup.ngramJaccardPairsFromShingles(sh, threshold)
      .select("a", "b"))

    val rows = configs.map { case (b, r) =>
      // Band rows: (band j, sig = m_{jr} .. m_{jr+r-1} glued). The sig is
      // the exact tuple equality x03 uses, rendered as a string key.
      val bandSig = sigs.select(col("doc_id"), explode(array((0 until b).map {
        j =>
          struct(lit(j).as("band"),
            concat_ws("_", (j * r until (j + 1) * r).map(i =>
              col(s"m$i")): _*).as("sig"))
      }: _*)).as("bs"))
        .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
      val gen = bandSig.groupBy("band", "sig").agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(expr("n * (n - 1) DIV 2")), lit(0L)).as("gen_pairs"))

      // Probe each TRUE pair for a shared band: broadcast the pair table
      // (it is the labeled slice — small by construction), two joins to
      // the signature table, one boolean OR over the config's bands.
      val anyBand = (0 until b).map { j =>
        (j * r until (j + 1) * r).map(i =>
          col(s"A.m$i") === col(s"B.m$i")).reduce(_ && _)
      }.reduce(_ || _)
      val found = broadcast(truth)
        .join(sigs.as("A"), col("a") === col("A.doc_id"))
        .join(sigs.as("B"), col("b") === col("B.doc_id"))
        .agg(coalesce(sum(when(anyBand, 1L).otherwise(0L)), lit(0L))
          .as("n_found"))
      val nTrue = truth.agg(count(lit(1)).as("n_true"))

      gen.crossJoin(found).crossJoin(nTrue)
        .select(lit(b).cast("long").as("bands"),
          lit(r).cast("long").as("rows_per_band"),
          col("gen_pairs"), col("n_true"), col("n_found"),
          expr("n_found * 1000 DIV nullif(n_true, 0)").as("recall_permille"))
    }
    rows.reduce(_ unionByName _).orderBy("rows_per_band")
  }

  private def sweepSql(threshold: Double): String = {
    val mhCols = (0 until P).map(i =>
      s"min(CAST('0x' || substr(md5('$i:' || shingle), 1, 15) AS BIGINT)) AS m$i")
      .mkString(",\n|            ")
    val configSelects = configs.map { case (b, r) =>
      val bandRows = (0 until b).map { j =>
        val sig = (j * r until (j + 1) * r).map(i => s"CAST(m$i AS VARCHAR)")
          .mkString(" || '_' || ")
        s"SELECT doc_id, $j AS band, $sig AS sig FROM mh"
      }.mkString("\n|              UNION ALL ")
      val anyBand = (0 until b).map { j =>
        (j * r until (j + 1) * r).map(i => s"A.m$i = B.m$i").mkString(" AND ")
      }.map(c => s"($c)").mkString(" OR ")
      s"""SELECT CAST($b AS BIGINT) AS bands,
         |        CAST($r AS BIGINT) AS rows_per_band,
         |        (SELECT CAST(coalesce(sum(n * (n - 1) // 2), 0) AS BIGINT)
         |         FROM (SELECT count(*) AS n FROM (
         |              $bandRows) bs GROUP BY band, sig) h) AS gen_pairs,
         |        (SELECT CAST(count(*) AS BIGINT) FROM tp) AS n_true,
         |        (SELECT CAST(coalesce(sum(CASE WHEN $anyBand THEN 1 ELSE 0 END), 0) AS BIGINT)
         |         FROM tp JOIN mh A ON tp.a = A.doc_id
         |               JOIN mh B ON tp.b = B.doc_id) AS n_found""".stripMargin
    }.mkString("\n|UNION ALL\n|")
    s"""WITH sh AS (${TextOps.shinglesSql}),
       | mh AS (SELECT doc_id,
       |            $mhCols
       |        FROM sh GROUP BY doc_id),
       | tp AS (SELECT a, b FROM (${Dedup.ngramJaccardPairsSql(threshold)}) x),
       | sweep AS (
       |$configSelects)
       |SELECT bands, rows_per_band, gen_pairs, n_true, n_found,
       |       CAST(n_found * 1000 // NULLIF(n_true, 0) AS BIGINT) AS recall_permille
       |FROM sweep ORDER BY rows_per_band""".stripMargin
  }

  val queries: Seq[QueryDef] = Seq(
    QueryDef(
      "x208_lsh_param_sweep",
      (s, dir) => sweep(s, Tables.documents(s, dir)),
      Some(sweepSql(0.8))))
}
