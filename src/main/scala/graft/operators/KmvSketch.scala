package graft.operators

import graft.{Checkpoints, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** x224: bottom-k (KMV) sketch certification — the mergeable-sampling law
  * distributed deduplication and cardinality estimation stand on
  * (Bar-Yossef et al. 2002; Beyer et al. 2007): the bottom-k hashes of a
  * UNION equal the bottom-k of the union of per-partition bottom-k's, so
  * a 100 TB corpus can be sketched shard-by-shard and merged on k-row
  * tables. This query PROVES the law on the fixture instead of citing
  * it: per-source bottom-32 over the bigram-type hash space, merged,
  * compared rank-by-rank against the direct global bottom-32 — plus the
  * KMV distinct-count estimate (k−1)·H/h₍ₖ₎ those same k hashes yield.
  *
  * Scale shape: the only corpus-sized step is the distinct-bigram hash
  * aggregate (map-side combinable); per-source bottom-k is a
  * source-partitioned rank window (WindowGroupLimit-prunable), the merge
  * and the direct tail are TakeOrdered over k·sources and k rows. Ranks
  * on the two 32-row lists use the k×k predecessor-count self-join (the
  * x101 initCentroids idiom) — no unpartitioned window anywhere.
  *
  * Output: rank 1..32 with the direct hash and a merged-equality flag
  * (the certification — every flag 1 means the law held bitwise), and a
  * rank-0 summary row (estimate, true distinct count). All integers;
  * hashes are 52-bit md5 prefixes so the estimate arithmetic stays in
  * exact long range ((k−1)·2⁵² < 2⁵⁷).
  */
object KmvSketch {

  private val K = 32
  private val Space = 4503599627370496L // 2^52

  private def rankByHash(df: DataFrame): DataFrame =
    df.as("a").join(df.as("b"), col("b.h") < col("a.h"), "left")
      .groupBy(col("a.h").as("h"))
      .agg((count(col("b.h")) + 1).cast("long").as("rank"))

  def certify(spark: SparkSession, docs: DataFrame): DataFrame = {
    // Materialized (r16): `grams` feeds the global distinct AND the
    // per-source sketches — lazily both arms re-ran the tokenize+md5
    // pipeline from the parquet scan up. Thin (source, hash) rows.
    val grams = Checkpoints.local(TextOps.shingles(docs, 2)
      .join(docs.select("doc_id", "source"), "doc_id")
      .select(col("source"),
        conv(substring(md5(col("shingle").cast("binary")), 1, 13), 16, 10)
          .cast("long").as("h")))
    val hashes = Checkpoints.local(grams.select("h").distinct())

    // Per-source bottom-K (the shard sketches), then merge-of-sketches.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("h")
    val perSource = grams.distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
      .select("h").distinct()
    val merged = perSource.orderBy("h").limit(K)
    val direct = hashes.orderBy("h").limit(K)

    val dr = rankByHash(direct)
    val mr = rankByHash(merged)
    val cert = dr.join(mr.select(col("rank"), col("h").as("mh")), "rank")
      .select(col("rank"), col("h"),
        (col("h") === col("mh")).cast("long").as("merged_equal"))

    val hk = dr.filter(col("rank") === K).select(col("h").as("hk"))
    val vtrue = hashes.agg(count(lit(1)).as("v"))
    val summary = hk.crossJoin(vtrue)
      .select(lit(0L).as("rank"),
        expr(s"${K - 1} * $Space DIV hk").as("h"),
        col("v").as("merged_equal"))
    cert.unionByName(summary).orderBy("rank")
  }

  private val certifySql: String =
    s"""WITH toks AS (${TextOps.tokensSql}),
       | bi AS (
       |   SELECT DISTINCT doc_id, shingle FROM (
       |     SELECT doc_id, w || ' ' || lead(w, 1) OVER win AS shingle
       |     FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)) r
       |   WHERE shingle IS NOT NULL),
       | grams AS (
       |   SELECT DISTINCT d.source,
       |          CAST('0x' || substr(md5(bi.shingle), 1, 13) AS BIGINT) AS h
       |   FROM bi JOIN documents d USING (doc_id)),
       | hashes AS (SELECT DISTINCT h FROM grams),
       | per_source AS (
       |   SELECT DISTINCT h FROM (
       |     SELECT h, row_number() OVER (PARTITION BY source ORDER BY h)
       |              AS rn
       |     FROM grams) t WHERE rn <= $K),
       | merged AS (SELECT h FROM per_source ORDER BY h LIMIT $K),
       | direct AS (SELECT h FROM hashes ORDER BY h LIMIT $K),
       | dr AS (SELECT h, CAST(row_number() OVER (ORDER BY h) AS BIGINT)
       |          AS rank FROM direct),
       | mr AS (SELECT h, CAST(row_number() OVER (ORDER BY h) AS BIGINT)
       |          AS rank FROM merged),
       | cert AS (
       |   SELECT dr.rank, dr.h,
       |          CAST(CASE WHEN dr.h = mr.h THEN 1 ELSE 0 END AS BIGINT)
       |            AS merged_equal
       |   FROM dr JOIN mr USING (rank)),
       | summary AS (
       |   SELECT CAST(0 AS BIGINT) AS rank,
       |          CAST(${K - 1} * $Space // hk AS BIGINT) AS h,
       |          v AS merged_equal
       |   FROM (SELECT h AS hk FROM dr WHERE rank = $K) a
       |        CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS v
       |                    FROM hashes) b)
       |SELECT * FROM cert UNION ALL SELECT * FROM summary
       |ORDER BY rank""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef(
      "x224_kmv_bottomk",
      (s, dir) => certify(s, Tables.documents(s, dir)),
      Some(certifySql)))
}
