package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` (north-star ops): wordcount
  * (the reference's unimplemented Enron intent, tests/enron_test.rs:1-2),
  * language-ID, quality scoring, token stats, and content fingerprinting.
  *
  * Determinism rule for the oracle hash: every derived metric is integer
  * arithmetic (counts, per-10k ratios via integer division) — no float
  * division that could round differently across engines. Everything is a
  * single groupBy(doc_id) pass over the exploded token stream + a codegen'd
  * projection on the raw text: two shuffle-free-ish stages that scale
  * linearly with corpus size.
  */
object TextAnalysis {

  /** Global wordcount, top `k` by count (desc) with word tiebreak. */
  def wordcountTopK(docs: DataFrame, k: Int): DataFrame =
    TextOps.tokens(docs)
      .groupBy(col("w").as("word"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("word").asc)
      .limit(k)

  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit", "ein"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "se"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "不"))

  private val langOrder = Seq("en", "de", "es", "fr", "zh")

  /** Stopword-vote language ID: count per-language stopword hits over the
    * token stream; predict the highest-scoring language with a fixed
    * priority-order tiebreak. A classic n-gram/stopword heuristic — cheap,
    * shuffle = one groupBy(doc_id).
    */
  def langId(docs: DataFrame): DataFrame = {
    val scores = langOrder.map { l =>
      sum(when(col("w").isin(stopwords(l): _*), 1).otherwise(0)).as(s"s_$l")
    }
    val scored = TextOps.tokens(docs)
      .groupBy("doc_id")
      .agg(scores.head, scores.tail: _*)
    val pred = langOrder.init.foldRight(lit(langOrder.last)) { (l, els) =>
      val ge = langOrder.filter(_ != l)
        .map(o => col(s"s_$l") >= col(s"s_$o"))
        .reduce(_ && _)
      when(ge, lit(l)).otherwise(els)
    }
    scored.select(
      (col("doc_id") +: pred.as("pred_lang") +: langOrder.map(l => col(s"s_$l"))): _*)
  }

  /** Oracle-side rendering of [[langId]]. */
  val langIdSql: String = {
    // CAST: DuckDB sum(INTEGER) yields HUGEINT; the Spark side is BIGINT,
    // and the driver's hash gate is type-sensitive (see q07's pattern).
    val scoreExprs = langOrder.map { l =>
      val list = stopwords(l).map(w => s"'$w'").mkString(", ")
      s"CAST(sum(CASE WHEN w IN ($list) THEN 1 ELSE 0 END) AS BIGINT) AS s_$l"
    }.mkString(",\n         ")
    val pred = langOrder.init.reverse.foldLeft(s"'${langOrder.last}'") { (els, l) =>
      val ge = langOrder.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"CASE WHEN $ge THEN '$l' ELSE $els END"
    }
    s"""SELECT doc_id, $pred AS pred_lang, ${langOrder.map(l => s"s_$l").mkString(", ")}
       |FROM (
       |  SELECT doc_id,
       |         $scoreExprs
       |  FROM (${TextOps.tokensSql}) toks GROUP BY doc_id) sc""".stripMargin
  }

  /** Quality metrics, all integer-exact:
    *  - n_tokens, tok_chars (total token length)
    *  - chars_per_token_x100 = tok_chars*100 div n_tokens
    *  - punct_per_10k        = punct_chars*10000 div n_chars
    *  - stop_per_10k         = stopword_hits*10000 div n_tokens
    *  - quality = 10000 - punct_per_10k - |chars_per_token_x100 - 500|
    *    (clamped at 0) — a simple monotone heuristic: penalize punctuation
    *    soup and extreme token lengths.
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val en = stopwords("en")
    val tok = TextOps.tokens(docs).groupBy("doc_id").agg(
      count(lit(1)).as("n_tokens"),
      sum(length(col("w"))).as("tok_chars"),
      sum(when(col("w").isin(en: _*), 1).otherwise(0)).as("n_stop"))
    docs.select(col("doc_id"), col("n_chars"),
        (length(col("text"))
          - length(regexp_replace(col("text"), "[.,!?;:]", ""))).as("n_punct"))
      .join(tok, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("tok_chars"),
        expr("tok_chars * 100 DIV n_tokens").as("chars_per_token_x100"),
        expr("n_punct * 10000 DIV n_chars").as("punct_per_10k"),
        expr("n_stop * 10000 DIV n_tokens").as("stop_per_10k"))
      .withColumn("quality",
        greatest(lit(0L),
          lit(10000L) - col("punct_per_10k")
            - abs(col("chars_per_token_x100") - 500)))
  }

  /** Oracle-side rendering of [[qualityScore]]. */
  val qualityScoreSql: String = {
    val en = stopwords("en").map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id, n_tokens, tok_chars,
       |       chars_per_token_x100, punct_per_10k, stop_per_10k,
       |       greatest(0, 10000 - punct_per_10k - abs(chars_per_token_x100 - 500)) AS quality
       |FROM (
       |  SELECT d.doc_id, t.n_tokens, t.tok_chars,
       |         t.tok_chars * 100 // t.n_tokens AS chars_per_token_x100,
       |         (length(d.text) - length(regexp_replace(d.text, '[.,!?;:]', '', 'g'))) * 10000 // d.n_chars AS punct_per_10k,
       |         t.n_stop * 10000 // t.n_tokens AS stop_per_10k
       |  FROM documents d
       |  JOIN (SELECT doc_id, count(*) AS n_tokens,
       |               CAST(sum(length(w)) AS BIGINT) AS tok_chars,
       |               CAST(sum(CASE WHEN w IN ($en) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
       |        FROM (${TextOps.tokensSql}) toks GROUP BY doc_id) t
       |    ON d.doc_id = t.doc_id) m""".stripMargin
  }

  /** Token counting: whitespace tokens, distinct tokens, and a BPE-ish
    * regex token count (`[a-z0-9]+` runs over the lowered text — the
    * word/number split a byte-pair pretokenizer performs).
    */
  def tokenStats(docs: DataFrame): DataFrame = {
    val tok = TextOps.tokens(docs).groupBy("doc_id").agg(
      count(lit(1)).as("ws_tokens"),
      countDistinct(col("w")).as("distinct_tokens"))
    docs.select(col("doc_id"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
          .cast("long").as("re_tokens"))
      .join(tok, "doc_id")
      .select("doc_id", "ws_tokens", "distinct_tokens", "re_tokens")
  }

  /** Oracle-side rendering of [[tokenStats]]. */
  val tokenStatsSql: String =
    s"""SELECT d.doc_id, t.ws_tokens, t.distinct_tokens,
       |       CAST(len(regexp_extract_all(lower(d.text), '[a-z0-9]+')) AS BIGINT) AS re_tokens
       |FROM documents d
       |JOIN (SELECT doc_id, count(*) AS ws_tokens, count(DISTINCT w) AS distinct_tokens
       |      FROM (${TextOps.tokensSql}) toks GROUP BY doc_id) t
       |  ON d.doc_id = t.doc_id""".stripMargin

  /** Per-doc bigram occurrence counts (doc_id, bigram, c). */
  def bigramCounts(docs: DataFrame): DataFrame =
    TextOps.withToks(docs)
      .select(col("doc_id"), explode(TextOps.bigramArray(col("toks"))).as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("c"))

  /** Oracle-side rendering of [[bigramCounts]]. */
  val bigramCountsSql: String =
    s"""SELECT doc_id, bigram, count(*) AS c FROM (
       |  SELECT doc_id, unnest(${TextOps.bigramArraySql}) AS bigram
       |  FROM (SELECT doc_id, ${TextOps.tokenArraySql} AS toks
       |        FROM documents) t) b
       |GROUP BY 1, 2""".stripMargin

  /** Gopher-style repetition gate: the doc's top bigram count is over 20%
    * of its bigram total, in integer form (no float in the gate).
    */
  def topBigramRepetitive(top: Column, total: Column): Column = top * 5 > total

  /** Oracle-side rendering of [[topBigramRepetitive]]. */
  def topBigramRepetitiveSql(top: String, total: String): String = s"$top * 5 > $total"

  /** Content fingerprint: md5 of whitespace-normalized lowercase text.
    * (The rolling-hash variant lives in the SimHash operator; md5 keeps
    * this one oracle-checkable byte-for-byte.)
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      md5(regexp_replace(trim(lower(col("text"))), "\\s+", " ")).as("fp"))

  /** Rabin–Karp rolling-hash fingerprint: the full-document polynomial
    * hash plus the minimum windowed hash (a winnowing-style selection) —
    * each window hash derived from the previous in O(1) via the rolling
    * update `H·B − c_out·B^w + c_in (mod P)`. The per-doc UDF is a single
    * linear pass; deterministic across runs/JVMs.
    */
  def rollingFingerprint(docs: DataFrame, window: Int = 48): DataFrame = {
    val P = (1L << 61) - 1 // Mersenne prime
    val B = 257L
    def mulmod(a: Long, b: Long): Long =
      (BigInt(a) * BigInt(b) % BigInt(P)).toLong
    val fpUdf = udf { (text: String) =>
      val bytes = text.getBytes("UTF-8")
      var full = 0L
      bytes.foreach(c => full = (mulmod(full, B) + (c & 0xff)) % P)
      var winMin = Long.MaxValue
      if (bytes.length >= window) {
        var bw = 1L // B^window mod P
        (0 until window).foreach(_ => bw = mulmod(bw, B))
        var h = 0L
        (0 until window).foreach(i => h = (mulmod(h, B) + (bytes(i) & 0xff)) % P)
        winMin = h
        var i = window
        while (i < bytes.length) {
          val out = mulmod(bytes(i - window) & 0xff, bw)
          h = ((mulmod(h, B) + (bytes(i) & 0xff) - out) % P + P) % P
          if (h < winMin) winMin = h
          i += 1
        }
      }
      (full, if (winMin == Long.MaxValue) -1L else winMin)
    }
    docs.select(col("doc_id"), fpUdf(col("text")).as("fp"))
      .select(col("doc_id"),
        col("fp._1").as("poly_hash"), col("fp._2").as("win_min_hash"))
  }

  /** Driver-gated invariants of [[rollingFingerprint]] (the x04 pattern):
    * the oracle independently derives doc/window counts from byte lengths
    * (text is ASCII, so DuckDB `strlen` == UTF-8 bytes) and asserts the
    * windowed-iff-length and mod-P range properties as constants. The
    * hash VALUES stay engine-specific (modular arithmetic has no faithful
    * DuckDB rendering); rolling==direct recomputation is spec-checked.
    */
  def rollingFingerprintInvariants(docs: DataFrame, window: Int = 48): DataFrame = {
    val P = (1L << 61) - 1
    docs.select(col("doc_id"), octet_length(col("text")).cast("long").as("nb"))
      .join(rollingFingerprint(docs, window), "doc_id")
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("win_min_hash") =!= -1L, 1)).as("n_windowed"),
        expr(s"bool_and((nb >= $window) = (win_min_hash <> -1))")
          .as("window_iff_len"),
        expr(s"bool_and(poly_hash >= 0 AND poly_hash < ${P}L AND " +
          s"(win_min_hash = -1 OR (win_min_hash >= 0 AND win_min_hash < ${P}L)))")
          .as("in_range"))
  }

  // ---- declared queries -------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    // Q19 of SURVEY §2.C: the reference's Enron map-reduce intent.
    QueryDef(
      "q19_text_wordcount",
      (s, dir) => wordcountTopK(Tables.documents(s, dir), 20),
      Some(s"""SELECT w AS word, count(*) AS c FROM (${TextOps.tokensSql}) toks
              |GROUP BY w ORDER BY c DESC, word ASC LIMIT 20""".stripMargin)),

    QueryDef(
      "x07_langid",
      (s, dir) => langId(Tables.documents(s, dir)).orderBy("doc_id"),
      Some(langIdSql + "\nORDER BY doc_id")),

    QueryDef(
      "x08_quality_score",
      (s, dir) => qualityScore(Tables.documents(s, dir)).orderBy("doc_id"),
      Some(qualityScoreSql + "\nORDER BY doc_id")),

    QueryDef(
      "x09_token_stats",
      (s, dir) => tokenStats(Tables.documents(s, dir)).orderBy("doc_id"),
      Some(tokenStatsSql + "\nORDER BY 1")),

    QueryDef(
      "x10_fingerprint",
      (s, dir) => fingerprint(Tables.documents(s, dir)).orderBy("doc_id"),
      Some("""SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Modular rolling-hash VALUES have no faithful DuckDB rendering, so
    // the declared query is the invariant aggregate (counts derived by
    // the oracle from byte lengths + windowed-iff-length + mod-P range),
    // hash-gated like x04/x16/x49. The per-doc fingerprint surface stays
    // available as TextAnalysis.rollingFingerprint; rolling==direct is
    // spec-checked.
    QueryDef(
      "x24_rolling_fingerprint",
      (s, dir) => rollingFingerprintInvariants(Tables.documents(s, dir)),
      Some("""SELECT count(*) AS n_docs,
             |       count(*) FILTER (WHERE strlen(text) >= 48) AS n_windowed,
             |       true AS window_iff_len, true AS in_range
             |FROM documents""".stripMargin))
  )
}
