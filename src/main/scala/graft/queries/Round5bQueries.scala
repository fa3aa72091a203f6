package graft.queries

import graft.{Checkpoints, QueryDef, Tables}
import graft.operators.TextOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 batch 2: corpus-analytics operators for the LLM-data pipeline —
  * bloom-filter contamination pre-screening, per-doc rarity scoring,
  * pairwise source-overlap measurement, and token-budget corpus mixing.
  * Each ships with a full DuckDB oracle; the bloom query gates on exact
  * invariants (membership superset / no false negatives) since the filter
  * bits themselves are engine-specific.
  */
object Round5bQueries {

  val all: Seq[QueryDef] = Seq(

    // Bloom-filter contamination pre-screen: build a bloom filter over the
    // benchmark shingle set, test every corpus shingle against it, and
    // verify the two invariants that make the screen sound — no truly
    // shared shingle is missed (no false negatives), and the candidate set
    // is a superset of the exact intersection. Scale: the filter is built
    // by a DISTRIBUTED aggregate (df.stat.bloomFilter); the driver holds
    // only the fixed-size bit array (like the x63 sketch row), which then
    // broadcasts — the exact join here exists only to prove the
    // invariants, at 100 TB you run the bloom pass first and the exact
    // join on the ~1% that survives.
    QueryDef(
      "x103_bloom_screen",
      (s, dir) => {
        val sh = TextOps.shingles(Tables.documents(s, dir))
        val bench = sh.filter(col("doc_id") < 20).select("shingle").distinct()
        val corpus = sh.filter(col("doc_id") >= 20).select("shingle").distinct()
        val bf = bench.stat.bloomFilter("shingle", 100000L, 0.01)
        val bfB = s.sparkContext.broadcast(bf)
        val mightContain = udf((x: String) => bfB.value.mightContainString(x))
        corpus
          .join(bench.withColumnRenamed("shingle", "bsh"),
            col("shingle") === col("bsh"), "left")
          .select(col("bsh").isNotNull.as("truth"),
            mightContain(col("shingle")).as("flag"))
          .agg(
            sum(when(col("truth"), 1L).otherwise(0L)).as("shared_exact"),
            expr("every(CASE WHEN truth THEN flag ELSE true END)")
              .as("no_false_negatives"),
            (sum(when(col("flag"), 1L).otherwise(0L)) >=
              sum(when(col("truth"), 1L).otherwise(0L))).as("superset"))
      },
      Some(s"""WITH sh AS (${TextOps.shinglesSql}),
              | bench  AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
              | corpus AS (SELECT DISTINCT shingle FROM sh WHERE doc_id >= 20)
              |SELECT (SELECT count(*) FROM corpus JOIN bench USING (shingle))
              |         AS shared_exact,
              |       TRUE AS no_false_negatives,
              |       TRUE AS superset""".stripMargin)),

    // Per-document rarity score: the corpus frequency of each document's
    // rarest token, plus how many distinct tokens in the doc achieve it —
    // the cheap "does this doc contain unusual content" signal that
    // complements TF-IDF (x41). Scale: the vocabulary aggregate and the
    // token-vocab join both hash-partition on the token; per-doc work is
    // one windowed min over the doc's own tokens.
    QueryDef(
      "x104_rarest_token",
      (s, dir) => {
        val toks = TextOps.tokens(Tables.documents(s, dir))
        val vocab = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
        val mn = Window.partitionBy("doc_id")
        toks.select("doc_id", "w").distinct()
          .join(vocab, "w")
          .withColumn("mnc", min(col("cnt")).over(mn))
          .groupBy("doc_id")
          .agg(min(col("cnt")).as("rarest_freq"),
            countDistinct(when(col("cnt") === col("mnc"), col("w")))
              .as("n_rarest"))
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (${TextOps.tokensSql}),
              | vocab AS (SELECT w, count(*) AS cnt FROM toks GROUP BY 1),
              | dw AS (SELECT DISTINCT doc_id, w FROM toks)
              |SELECT doc_id, min(cnt) AS rarest_freq,
              |       count(DISTINCT CASE WHEN cnt = mnc THEN w END) AS n_rarest
              |FROM (SELECT dw.doc_id, dw.w, v.cnt,
              |             min(v.cnt) OVER (PARTITION BY dw.doc_id) AS mnc
              |      FROM dw JOIN vocab v USING (w))
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Pairwise source-overlap matrix: shingle-set intersection and union
    // size for every pair of sources that shares at least one shingle —
    // the corpus-curation view of "which crawls duplicate each other".
    // Scale: classic inverted index — one shuffle on the shingle, pair
    // expansion bounded by (sources-per-shingle choose 2), with the same
    // DF-cap guard as x52 available when a shingle is universal.
    QueryDef(
      "x105_source_overlap",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        // Materialized (r16): `ssh` feeds sizes + BOTH self-join sides —
        // three tokenize pipelines lazily (8 scans in one plan).
        val ssh = Checkpoints.local(TextOps.shingles(docs)
          .join(docs.select("doc_id", "source"), "doc_id")
          .select("source", "shingle").distinct())
        val sizes = ssh.groupBy("source")
          .agg(count(lit(1)).as("sz"))
        val inter = ssh.withColumnRenamed("source", "src_a")
          .join(ssh.withColumnRenamed("source", "src_b"), "shingle")
          .filter(col("src_a") < col("src_b"))
          .groupBy("src_a", "src_b")
          .agg(count(lit(1)).as("inter"))
        inter
          .join(sizes.select(col("source").as("src_a"), col("sz").as("sz_a")),
            "src_a")
          .join(sizes.select(col("source").as("src_b"), col("sz").as("sz_b")),
            "src_b")
          .select(col("src_a"), col("src_b"), col("inter"),
            (col("sz_a") + col("sz_b") - col("inter")).as("union_sz"))
          .orderBy("src_a", "src_b")
      },
      Some(s"""WITH sh AS (${TextOps.shinglesSql}),
              | ssh AS (SELECT DISTINCT d.source, sh.shingle
              |         FROM sh JOIN documents d USING (doc_id)),
              | sizes AS (SELECT source, count(*) AS sz FROM ssh GROUP BY 1),
              | pairs AS (
              |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
              |  FROM ssh a JOIN ssh b ON a.shingle = b.shingle
              |                       AND a.source < b.source
              |  GROUP BY 1, 2)
              |SELECT src_a, src_b, inter,
              |       sa.sz + sb.sz - inter AS union_sz
              |FROM pairs
              |JOIN sizes sa ON sa.source = src_a
              |JOIN sizes sb ON sb.source = src_b
              |ORDER BY 1, 2""".stripMargin)),

    // Token-budget corpus mixing: give every source the same token budget
    // and take documents in a deterministic md5-shuffled order until the
    // budget is spent — the sampling step that balances a 100 TB corpus
    // whose sources differ by orders of magnitude. The cumulative sum is
    // a per-source window (hash-partitioned, no global sort); md5 gives
    // the same uniform order in both engines.
    QueryDef(
      "x106_budget_mix",
      (s, dir) => {
        val ntok = size(TextOps.tokenArray(col("text")))
        val w = Window.partitionBy("source")
          .orderBy(col("mk"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), ntok.as("ntok"),
            md5(col("text").cast("binary")).as("mk"))
          .withColumn("cum", sum(col("ntok")).over(w))
          .filter(col("cum") <= 800)
          .groupBy("source")
          .agg(count(lit(1)).as("docs_sel"),
            sum(col("ntok")).as("toks_sel"))
          .orderBy("source")
      },
      Some(s"""WITH scored AS (
              |  SELECT doc_id, source,
              |         len(${TextOps.tokenArraySql}) AS ntok,
              |         md5(text) AS mk
              |  FROM documents),
              | cum AS (
              |  SELECT source, ntok,
              |         sum(ntok) OVER (PARTITION BY source
              |                         ORDER BY mk, doc_id
              |                         ROWS BETWEEN UNBOUNDED PRECEDING
              |                              AND CURRENT ROW) AS cum
              |  FROM scored)
              |SELECT source, count(*) AS docs_sel,
              |       CAST(sum(ntok) AS BIGINT) AS toks_sel
              |FROM cum WHERE cum <= 800
              |GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
