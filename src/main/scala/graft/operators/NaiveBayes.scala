package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Multinomial naive-Bayes document classifier, trained and applied
  * relationally — the fastText/CLD-shaped quality- and domain-classifier
  * stage every production LLM data pipeline runs (GPT-3's WebText-vs-
  * CommonCrawl filter is exactly this shape). The reference has no model
  * surface at all (SURVEY.md §2.B); this is the supervised counterpart of
  * x171's unsupervised LM scorer: x171 scores "how surprising is this
  * text under one model", x204 scores it under C class models and keeps
  * the argmax.
  *
  * Fixture signal: the corpus is a shared-vocabulary word salad, so the
  * `lang` label is NOT recoverable from the organic tokens (all five
  * classes draw from the same 31 words — verified in the fixture). The
  * class signal is therefore GRAFTED relationally (the x139/x193/x199
  * idiom, oracle-replayed): docs with `doc_id % 3 != 0` get three
  * `mk_<lang>` marker tokens appended — so the classifier must learn the
  * planted vocabulary from the training split and the un-grafted third of
  * test docs exercises the prior-dominated fallback path. Both branches
  * of the confusion matrix are therefore non-vacuous by construction.
  *
  * Scale shape (100 TB): the MODEL is aggregate-sized — per-class token
  * counts are hash aggregates bounded by vocab × classes, independent of
  * corpus rows — and is byte-gated for broadcast exactly like x171
  * (`Dedup.effectiveBroadcastBar`; shuffle join on the
  * uniformly-distributed (class, word) keys past the bar). Scoring is one
  * pass over the test token-TYPE table (doc × distinct-word, smaller than
  * the token stream) fanned out × classes (a 5-row broadcast). The
  * class-count table, priors, and vocab size are 1-to-C-row aggregates —
  * always broadcast. Output is classes² rows.
  *
  * Determinism (the x171 regime): every probability is a ratio of
  * integers whose IEEE division is exactly rounded; the only
  * engine-divergent op is `ln`, so each per-(class,word) nll is rounded
  * to 6 decimals and converted to exact integer MICRO-NATS before any
  * arithmetic — doc scores are then integer sums (token count × unat),
  * argmin over exact integers, ties broken by min class name. No float
  * survives past the per-term rounding.
  */
object NaiveBayes {

  /** Exact integer micro-nats of a (rounded) log-term: round to 6
    * decimals (the engine-agreement grain), widen to DECIMAL so the
    * ×10⁶ is exact, emit long.
    */
  private def unat(x: Column): Column =
    (round(x, 6).cast(DecimalType(18, 6)) * 1000000).cast("long")

  /** Train on doc_id % 10 < 8, classify the held-out 20%, return the
    * (actual, predicted, n) confusion matrix.
    */
  def confusion(spark: SparkSession, docs0: DataFrame): DataFrame = {
    // Grafted class signal (see scaladoc): 3 markers on 2/3 of docs.
    val m = concat(lit(" mk_"), col("lang"))
    val docs = docs0.withColumn("text",
      when(col("doc_id") % 3 =!= 0, concat(col("text"), m, m, m))
        .otherwise(col("text")))
    val train = docs.filter(col("doc_id") % 10 < 8)
    val test = docs.filter(col("doc_id") % 10 >= 8)

    // Materialized (r16): `ttr` feeds three aggregates (cwc, nc, vocab)
    // and each lazily re-ran the tokenize pipeline — the pre-r16 plan
    // scanned the documents parquet 19 times. Same for `cwc` (model
    // sizing probe + scoring join) and `scored` (argmin's two steps).
    val ttr = TextOps.tokens(train)
      .join(train.select(col("doc_id"), col("lang").as("c")), "doc_id")
      .localCheckpoint()
    val cwc = ttr.groupBy("c", "w").agg(count(lit(1)).as("cwc"))
      .localCheckpoint()
    val nc = ttr.groupBy("c").agg(count(lit(1)).as("nc"))
    val vocab = ttr.agg(count_distinct(col("w")).as("v"))
    val dcnt = train.groupBy(col("lang").as("c")).agg(count(lit(1)).as("dc"))
    val dtot = train.agg(count(lit(1)).as("dt"))

    // classes: C rows (class, token total, vocab size, prior micro-nats).
    val classes = nc.join(dcnt, "c")
      .crossJoin(broadcast(dtot)).crossJoin(broadcast(vocab))
      .select(col("c"), col("nc"), col("v"),
        unat(-log(col("dc").cast("double") / col("dt"))).as("prior_unat"))

    // Byte-gate the vocab×classes model broadcast (the x171/x05 switch
    // idiom): measured bytes vs the derived bar, absolute respect for
    // a disabled autoBroadcastJoinThreshold; past the bar the same plan
    // shuffle-joins on uniform (c, w) keys.
    val modelBytes = cwc
      .agg(count(lit(1)).as("n"),
        coalesce(sum(length(col("w")) + length(col("c"))), lit(0L))
          .as("chars"))
      .select((col("n") * 16L + col("chars")).as("bytes"))
      .head().getLong(0)
    val nbBar = Dedup.effectiveBroadcastBar(spark)
    def gated(df: DataFrame): DataFrame =
      Dedup.gatedBroadcast(df, modelBytes, nbBar)

    // Score the test token-TYPE table against every class: left join the
    // model so unseen words take the add-one floor (cwc = 0).
    val tcnt = TextOps.tokens(test).groupBy("doc_id", "w")
      .agg(count(lit(1)).as("cnt"))
    val scored = tcnt
      .crossJoin(broadcast(classes))
      .join(gated(cwc), Seq("c", "w"), "left")
      .select(col("doc_id"), col("c"), col("prior_unat"),
        (col("cnt") * unat(-log(
          (coalesce(col("cwc"), lit(0L)) + 1).cast("double") /
            (col("nc").cast("double") + col("v"))))).as("s"))
      .groupBy("doc_id", "c")
      .agg((sum(col("s")) + max(col("prior_unat"))).as("score"))
      .localCheckpoint() // argmin consumes it twice (mn + the tie filter)

    // Exact argmin with total tie-break (min class name among the tied) —
    // the two-step rendering, since single-pass min_by is
    // tie-nondeterministic.
    val mn = scored.groupBy("doc_id").agg(min(col("score")).as("m"))
    val pred = scored.join(mn, "doc_id")
      .filter(col("score") === col("m"))
      .groupBy("doc_id").agg(min(col("c")).as("predicted"))

    pred.join(test.select(col("doc_id"), col("lang").as("actual")), "doc_id")
      .groupBy("actual", "predicted").agg(count(lit(1)).as("n"))
      .orderBy("actual", "predicted")
  }

  private val confusionSql: String =
    s"""WITH g AS (
       |  SELECT doc_id, lang,
       |         CASE WHEN doc_id % 3 <> 0
       |              THEN text || ' mk_' || lang || ' mk_' || lang
       |                        || ' mk_' || lang
       |              ELSE text END AS text
       |  FROM documents),
       | toks AS (
       |   SELECT doc_id,
       |          unnest(${TextOps.tokenArraySql}) AS w
       |   FROM g),
       | tr AS (SELECT doc_id, lang FROM g WHERE doc_id % 10 < 8),
       | te AS (SELECT doc_id, lang FROM g WHERE doc_id % 10 >= 8),
       | ttr AS (SELECT t.doc_id, t.w, d.lang AS c
       |         FROM toks t JOIN tr d USING (doc_id)),
       | cwc AS (SELECT c, w, count(*) AS cwc FROM ttr GROUP BY 1, 2),
       | nc AS (SELECT c, count(*) AS nc FROM ttr GROUP BY 1),
       | vocab AS (SELECT count(DISTINCT w) AS v FROM ttr),
       | dc AS (SELECT lang AS c, count(*) AS dc FROM tr GROUP BY 1),
       | dt AS (SELECT count(*) AS dt FROM tr),
       | classes AS (
       |   SELECT nc.c, nc.nc, vocab.v,
       |          CAST(CAST(round(-ln(CAST(dc.dc AS DOUBLE) / dt.dt), 6)
       |            AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS prior_unat
       |   FROM nc JOIN dc USING (c) CROSS JOIN dt CROSS JOIN vocab),
       | tcnt AS (SELECT t.doc_id, t.w, count(*) AS cnt
       |          FROM toks t JOIN te USING (doc_id) GROUP BY 1, 2),
       | scored AS (
       |   SELECT tc.doc_id, cl.c,
       |          sum(tc.cnt * CAST(CAST(round(-ln(
       |              CAST(coalesce(m.cwc, 0) + 1 AS DOUBLE)
       |              / (CAST(cl.nc AS DOUBLE) + cl.v)), 6)
       |            AS DECIMAL(18,6)) * 1000000 AS BIGINT))
       |          + any_value(cl.prior_unat) AS score
       |   FROM tcnt tc CROSS JOIN classes cl
       |   LEFT JOIN cwc m ON m.c = cl.c AND m.w = tc.w
       |   GROUP BY 1, 2),
       | mn AS (SELECT doc_id, min(score) AS m FROM scored GROUP BY 1),
       | pred AS (SELECT s.doc_id, min(s.c) AS predicted
       |          FROM scored s
       |          JOIN mn ON s.doc_id = mn.doc_id AND s.score = mn.m
       |          GROUP BY 1)
       |SELECT d.lang AS actual, p.predicted, CAST(count(*) AS BIGINT) AS n
       |FROM pred p JOIN te d ON p.doc_id = d.doc_id
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef(
      "x204_nb_classify",
      (s, dir) => confusion(s, Tables.documents(s, dir)),
      Some(confusionSql)))
}
