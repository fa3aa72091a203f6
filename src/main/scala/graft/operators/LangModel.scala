package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Corpus-trained n-gram language-model scoring — the CCNet/KenLM-shaped
  * quality filter: train bigram counts over the corpus, score every
  * document by its average negative log-probability under the model, and
  * let downstream gates drop the high-surprise (or suspiciously
  * low-surprise, i.e. boilerplate) tail. The reference has no text or
  * model surface (SURVEY.md §2.B); this is the LLM-pipeline extension's
  * perplexity filter.
  *
  * Scale shape (100 TB): the MODEL is aggregate-sized — bigram and context
  * tables are hash aggregates bounded by vocab², independent of corpus row
  * count — so scoring joins broadcast the model to the token stream rather
  * than shuffling the corpus. Per-doc averaging partitions by doc_id.
  * With a web-scale vocab the model outgrows a broadcast, so the hints are
  * BYTE-GATED (the x05/x152 switch idiom): measured model bytes vs
  * `graft.lm.broadcastMaxBytes` (default 256 MB of built relation; raw
  * model bytes are gated at a quarter of the key, and a key <= 0 disables
  * the hint — `Dedup.effectiveBroadcastBar`) with
  * `autoBroadcastJoinThreshold=-1` respected absolutely; past the bar the
  * same plan becomes a shuffle join on uniformly-distributed bigram keys —
  * nothing else changes and both branches share the oracle. The decision
  * statistic is one aggregate over the bigram-TYPE table (rows + character
  * mass — aggregate-sized, never the corpus stream); `c1` rides `c2`'s
  * verdict because it is a strictly coarser aggregate of the same stream
  * (|c1| ≤ |c2|, shorter keys).
  *
  * Determinism: p = (c2+1)/(c1+V) is an exactly-rounded IEEE division of
  * integers; only `ln` can differ by an ulp between engines, so the
  * per-bigram nll is rounded to 6 decimals and summed in DECIMAL(18,6)
  * (order-independent). The mean is emitted in MICRO-NATS as an exact
  * integer (sum·10⁶ is an integer by construction, then integer DIV by
  * the bigram count): a double `round(sum/n, 6)` lands on decimal
  * MIDPOINTS whenever n | 10⁶·sum — and there Java's shortest-string
  * HALF_UP and C's binary-value rounding disagree (3.4078655 →
  * 3.407866 vs 3.407865, the sf0.1 doc-4599 case) — so no float touches
  * the output at all.
  */
object LangModel {

  /** Per-doc average negative log-prob under an add-one-smoothed bigram LM
    * trained on the SAME corpus (self-perplexity — the quality-filter
    * configuration; a held-out model is the same plan with a different
    * training input).
    */
  def bigramNll(spark: SparkSession, docs: DataFrame): DataFrame = {
    // NARROW since r17 (guide §2.4): the bigram stream is a zip of the
    // token array with its own 1-shift — the previous lead()-over-window
    // rendering exchanged + sorted the full token stream, and `bi` feeds
    // THREE plan arms (c2, c1, the scoring join), so that shuffle ran
    // three times per execution.
    val bi = TextOps.bigramPairs(docs)
    val c2 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = bi.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = TextOps.tokens(docs)
      .agg(count_distinct(col("w")).cast("double").as("v"))

    val nll = round(-log((col("c2") + lit(1)).cast("double") /
      (col("c1").cast("double") + col("v"))), 6)

    // Byte-gate the model broadcasts: the bigram-type table's measured
    // bytes (16 B row overhead + key characters) against the configured
    // bar. vocab is a 1-row aggregate — always broadcast.
    val modelBytes = c2
      .agg(count(lit(1)).as("n"),
        coalesce(sum(length(col("w1")) + length(col("w2"))), lit(0L))
          .as("chars"))
      .select((col("n") * 16L + col("chars")).as("bytes"))
      .head().getLong(0)
    val bar = Dedup.effectiveBroadcastBar(spark, "graft.lm.broadcastMaxBytes")
    def gated(model: DataFrame): DataFrame =
      Dedup.gatedBroadcast(model, modelBytes, bar)

    bi.join(gated(c2), Seq("w1", "w2"))
      .join(gated(c1), Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), nll.cast(DecimalType(18, 6)).as("nll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll")).as("sum_nll"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("sum_nll") * 1000000).cast("long").as("sum_unat"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("sum_unat DIV n_bigrams").as("avg_nll_unat"))
      .orderBy("doc_id")
  }

  private val bigramNllSql: String =
    s"""WITH toks AS (${TextOps.tokensSql}),
       | bi AS (
       |   SELECT doc_id, w AS w1,
       |          lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
       |   FROM toks QUALIFY w2 IS NOT NULL),
       | c2 AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY 1, 2),
       | c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
       | vocab AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v FROM toks),
       | scored AS (
       |   SELECT bi.doc_id,
       |          CAST(round(-ln(CAST(c2.c2 + 1 AS DOUBLE)
       |            / (CAST(c1.c1 AS DOUBLE) + vocab.v)), 6)
       |            AS DECIMAL(18,6)) AS nll
       |   FROM bi JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
       |        CROSS JOIN vocab)
       |SELECT doc_id, count(*) AS n_bigrams,
       |       CAST(CAST(sum(nll) * 1000000 AS BIGINT) // count(*) AS BIGINT)
       |         AS avg_nll_unat
       |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef(
      "x171_lm_perplexity",
      (s, dir) => bigramNll(s, Tables.documents(s, dir)),
      Some(bigramNllSql)))
}
