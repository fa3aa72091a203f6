package graft.operators

import graft.{Checkpoints, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer training (Sennrich et al. 2016) — the
  * tokenizer-construction step of an LLM data pipeline, run over the
  * corpus the tokenizer will serve. The reference has no text operators
  * at all (SURVEY §2.B); x159's packing and the token-stats family
  * CONSUME a tokenizer, this trains one.
  *
  * Scale shape: BPE statistics live on the WORD-TYPE table (word,
  * count), which by Heaps' law grows sublinearly in corpus size — the
  * single corpus-scale pass is the token count feeding it (partial
  * aggregation, shuffle by word). Each training iteration is then
  *   (1) pair counting over the type table (explode adjacent symbol
  *       pairs, hash-aggregate weighted by word count),
  *   (2) a global argmax = 1-row TakeOrdered (never a global sort), and
  *   (3) a narrow per-row greedy re-segmentation with the winning pair
  *       broadcast — no shuffle at all.
  * The merge itself is a carry-fold (`aggregate` higher-order function,
  * whole-stage codegen'd): the carry holds the previous unmerged symbol,
  * so overlapping occurrences merge left-to-right exactly like the
  * reference BPE implementations ("a a a" + (a,a) → ["aa","a"]).
  *
  * Engine parity: pair frequencies are exact integers; the argmax
  * tie-break is total (freq DESC, a ASC, b ASC); the DuckDB oracle
  * replays the identical trajectory with `list_reduce` encoding the same
  * carry-fold (out-list and carry packed into one string with chr(30) /
  * chr(31) separators, since list_reduce's accumulator must be
  * element-typed).
  */
object BpeTrain {

  /** Number of merge iterations certified (each adds one CTE block to the
    * oracle; the trajectory is fully data-dependent, so T=4 certifies
    * pair-counting, argmax tie-breaking, and three re-segmentations
    * transitively).
    */
  val iters = 4

  /** The greedy pair-merge as a SQL higher-order-function expression over
    * `seq`, referencing the broadcast winning pair's `a`/`b` columns.
    */
  private val mergeExpr =
    """aggregate(seq,
      |  named_struct('out', cast(array() as array<string>), 'carry', ''),
      |  (acc, x) -> CASE
      |    WHEN acc.carry = a AND x = b THEN
      |      named_struct('out', concat(acc.out, array(concat(a, b))),
      |                   'carry', '')
      |    ELSE
      |      named_struct('out',
      |        CASE WHEN acc.carry = '' THEN acc.out
      |             ELSE concat(acc.out, array(acc.carry)) END,
      |        'carry', x) END,
      |  acc -> CASE WHEN acc.carry = '' THEN acc.out
      |              ELSE concat(acc.out, array(acc.carry)) END)""".stripMargin

  /** The shared training loop: per-iteration winning pairs plus the FINAL
    * word→segmentation table (what "the trained tokenizer" is, materially).
    */
  private def trainLoop(spark: SparkSession, docs: DataFrame)
      : (Seq[(Int, DataFrame)], DataFrame) = {
    // Word-type table: the one corpus-scale aggregation. Materialized once
    // (localCheckpoint) — every iteration references it, and at warehouse
    // scale it would be a persisted table.
    val words = Checkpoints.local(TextOps.tokens(docs)
      .groupBy("w").agg(count(lit(1)).cast("long").as("cnt")))
    var sq = words.withColumn("seq",
      filter(split(col("w"), ""), s => s =!= ""))
    val tops = (1 to iters).map { it =>
      val pc = sq.filter(size(col("seq")) > 1)
        .select(col("cnt"), explode(arrays_zip(
          slice(col("seq"), lit(1), size(col("seq")) - 1),
          slice(col("seq"), lit(2), size(col("seq")) - 1))).as("p"))
        .groupBy(col("p").getField("0").as("a"),
          col("p").getField("1").as("b"))
        .agg(sum(col("cnt")).cast("long").as("freq"))
      val top = pc.orderBy(col("freq").desc, col("a").asc, col("b").asc)
        .limit(1)
      sq = sq.crossJoin(broadcast(top))
        .withColumn("seq", expr(mergeExpr))
        .select("w", "cnt", "seq")
      (it, top)
    }
    (tops, sq)
  }

  /** Train `iters` BPE merges over the corpus; returns the merge table
    * (it, a, b, freq) — the full training trajectory.
    */
  def trainMerges(spark: SparkSession, docs: DataFrame): DataFrame = {
    val (tops, _) = trainLoop(spark, docs)
    tops.map { case (it, top) =>
      top.select(lit(it).as("it"), col("a"), col("b"), col("freq"))
    }.reduce(_.unionAll(_)).orderBy("it")
  }

  /** x177: APPLY the trained tokenizer corpus-wide — per-doc token counts
    * under the trained merges, the number an LLM data pipeline actually
    * budgets by (sequence packing, per-source token quotas, pricing).
    *
    * Because BPE segments within word boundaries, encoding a document is
    * a JOIN of its token stream against the word→segmentation table —
    * never a per-doc re-fold: the type table is Heaps-sublinear and
    * broadcast-sized here (shuffle-join on uniform word keys at web
    * scale), so corpus cost is one pass. Output is integer-exact:
    * chars, words, post-merge tokens, and the saved-token delta per doc.
    */
  def encodeCounts(spark: SparkSession, docs: DataFrame): DataFrame = {
    val (_, sq) = trainLoop(spark, docs)
    val seg = sq.select(col("w"), size(col("seq")).cast("long").as("n_sym"))
    TextOps.tokens(docs)
      .join(broadcast(seg), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w"))).cast("long").as("n_chars"),
        sum(col("n_sym")).cast("long").as("n_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_chars"), col("n_tokens"),
        (col("n_chars") - col("n_tokens")).as("merged_away"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- SQL

  private def bpeCtes: Seq[String] = {
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"""words AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt
         |          FROM (${TextOps.tokensSql}) t GROUP BY 1)""".stripMargin,
      "sq0 AS (SELECT w, cnt, string_split(w, '') AS seq FROM words)")
    for (i <- 1 to iters) {
      val prev = s"sq${i - 1}"
      ctes += s"""pc$i AS (
                 |  SELECT p[1] AS a, p[2] AS b, sum(cnt) AS freq FROM (
                 |    SELECT cnt,
                 |           unnest(list_zip(seq[:len(seq)-1], seq[2:])) AS p
                 |    FROM $prev WHERE len(seq) > 1) z
                 |  GROUP BY 1, 2)""".stripMargin
      ctes += s"""top$i AS (
                 |  SELECT a, b, CAST(freq AS BIGINT) AS freq FROM pc$i
                 |  ORDER BY freq DESC, a ASC, b ASC LIMIT 1)""".stripMargin
      // list_reduce carry-fold: acc = out-joined(chr(31)) || chr(30) || carry;
      // seeded by prepending a bare chr(30) (empty out, empty carry).
      ctes += s"""sq$i AS (
                 |  SELECT w, cnt, list_filter(string_split(
                 |      split_part(acc2, chr(30), 1) ||
                 |        CASE WHEN split_part(acc2, chr(30), 2) = '' THEN ''
                 |             ELSE chr(31) || split_part(acc2, chr(30), 2) END,
                 |      chr(31)), s -> s <> '') AS seq
                 |  FROM (
                 |    SELECT w, cnt,
                 |      list_reduce(list_prepend(chr(30), seq),
                 |        (acc, x) -> CASE
                 |          WHEN split_part(acc, chr(30), 2) = t.a AND x = t.b
                 |            THEN split_part(acc, chr(30), 1) || chr(31) ||
                 |                 t.a || t.b || chr(30)
                 |          ELSE split_part(acc, chr(30), 1) ||
                 |               CASE WHEN split_part(acc, chr(30), 2) = ''
                 |                    THEN ''
                 |                    ELSE chr(31) || split_part(acc, chr(30), 2)
                 |               END || chr(30) || x
                 |        END) AS acc2
                 |    FROM $prev, top$i t) m)""".stripMargin
    }
    ctes.toSeq
  }

  private def bpeSql: String = {
    val tail = (1 to iters)
      .map(i => s"SELECT $i AS it, a, b, freq FROM top$i")
      .mkString(" UNION ALL ")
    s"WITH ${bpeCtes.mkString(",\n ")}\nSELECT * FROM ($tail) r ORDER BY it"
  }

  private def encodeSql: String =
    s"""WITH ${bpeCtes.mkString(",\n ")},
       | toks AS (${TextOps.tokensSql})
       |SELECT doc_id, count(*) AS n_words,
       |       CAST(sum(length(w)) AS BIGINT) AS n_chars,
       |       CAST(sum(len(seq)) AS BIGINT) AS n_tokens,
       |       CAST(sum(length(w)) - sum(len(seq)) AS BIGINT) AS merged_away
       |FROM toks JOIN sq$iters USING (w)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** x216: tokenizer fertility report — per-language tokens-per-word and
    * chars-per-token under the trained merges, the standard tokenizer-
    * equity eval (a tokenizer trained on a skewed mix "taxes" the
    * under-represented languages with higher fertility, inflating their
    * effective sequence lengths and training cost). One join of the
    * x177 per-doc counts to the doc's language and a languages-sized
    * aggregate; ratios as integer permille via DIV (x171 regime).
    */
  def fertilityByLang(spark: SparkSession, docs: DataFrame): DataFrame = {
    encodeCounts(spark, docs)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("n_tokens")).as("n_tokens"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens"),
        expr("n_tokens * 1000 DIV n_words").as("fertility_permille"),
        expr("n_chars * 1000 DIV n_tokens").as("chars_per_token_permille"))
      .orderBy("lang")
  }

  private def fertilitySql: String =
    s"""WITH ${bpeCtes.mkString(",\n ")},
       | toks AS (${TextOps.tokensSql}),
       | pd AS (
       |   SELECT doc_id, count(*) AS n_words,
       |          CAST(sum(length(w)) AS BIGINT) AS n_chars,
       |          CAST(sum(len(seq)) AS BIGINT) AS n_tokens
       |   FROM toks JOIN sq$iters USING (w) GROUP BY 1),
       | ag AS (
       |   SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
       |          CAST(sum(pd.n_words) AS BIGINT) AS n_words,
       |          CAST(sum(pd.n_chars) AS BIGINT) AS n_chars,
       |          CAST(sum(pd.n_tokens) AS BIGINT) AS n_tokens
       |   FROM pd JOIN documents d USING (doc_id) GROUP BY 1)
       |SELECT lang, n_docs, n_words, n_tokens,
       |       CAST(n_tokens * 1000 // n_words AS BIGINT) AS fertility_permille,
       |       CAST(n_chars * 1000 // n_tokens AS BIGINT) AS chars_per_token_permille
       |FROM ag ORDER BY lang""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef(
      "x168_bpe_train",
      (s, dir) => trainMerges(s, Tables.documents(s, dir)),
      Some(bpeSql)),
    QueryDef(
      "x177_bpe_encode",
      (s, dir) => encodeCounts(s, Tables.documents(s, dir)),
      Some(encodeSql)),
    QueryDef(
      "x216_bpe_fertility",
      (s, dir) => fertilityByLang(s, Tables.documents(s, dir)),
      Some(fertilitySql))
  )
}
