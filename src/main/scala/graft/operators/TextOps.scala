package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

import org.apache.spark.sql.functions._

/** Shared text primitives for dedup / text-analysis operators.
  *
  * Tokenization is the contract between the Spark plans and the DuckDB
  * oracle SQL: lowercase, split on single space, drop empties. This is the
  * ONLY place either rendering is written ([[tokenArray]], [[tokenArraySql]]),
  * so the two stay in lock-step; a drift would break every downstream hash
  * check. `TokenizerLintSpec` fails on a copy elsewhere in `src/main/scala`
  * (sole exception: q04_flatten's unfiltered explode, its own contract).
  *
  * [[bigramArray]] takes an ALREADY-PROJECTED token array: select
  * `tokenArray(...).as("toks")` first, then build bigrams over `col("toks")`.
  * Inlined, CollapseProject re-evaluates the split+filter per reference
  * (x38: 4.4 s at sf0.1).
  */
object TextOps {

  /** Lowercase, split on " ", empties dropped; token order is text order. */
  def tokenArray(text: Column): Column =
    filter(split(lower(text), " "), (w: Column) => w =!= "")

  /** Oracle-side rendering of [[tokenArray]] over the `text` column. */
  val tokenArraySql: String = "list_filter(string_split(lower(text), ' '), x -> x <> '')"

  /** "w1 w2" adjacent-token bigrams of a PROJECTED `toks` (see above). */
  def bigramArray(toks: Column): Column =
    adjacent(toks, (a, b) => concat(a, lit(" "), b), array())

  /** Oracle-side rendering of [[bigramArray]] over a `toks` list column. */
  val bigramArraySql: String =
    "list_transform(generate_series(1, len(toks) - 1), j -> toks[j] || ' ' || toks[j + 1])"

  /** `f` over each adjacent pair (zip with the 1-shift); `empty` below 2 tokens. */
  private def adjacent(toks: Column, f: (Column, Column) => Column, empty: Column): Column =
    when(size(toks) >= 2,
      zip_with(slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1), f))
      .otherwise(empty)

  /** (doc_id, toks): the projection every array-based text pass starts from. */
  private[operators] def withToks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokenArray(col("text")).as("toks"))

  /** The k tokens of `toks` after 0-based offset `i`, space-joined. */
  private def glue(k: Int)(i: Column): Column =
    (0 until k)
      .map(j => element_at(col("toks"), i + lit(j + 1)))
      .reduce((a, b) => concat(a, lit(" "), b))

  /** One row per (doc_id, pos, w) token. Narrow transform — stays inside
    * whole-stage codegen; no shuffle.
    */
  def tokens(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      posexplode(tokenArray(col("text"))).as(Seq("pos", "w")))

  /** Oracle-side rendering of [[tokens]] (DuckDB zips parallel unnests). */
  val tokensSql: String =
    s"""SELECT doc_id,
       |       generate_subscripts($tokenArraySql, 1) AS pos,
       |       unnest($tokenArraySql) AS w
       |FROM documents""".stripMargin

  /** Distinct word k-shingles per doc.
    *
    * NARROW since r17 (guide §2.4 — remove shuffles outright): the
    * k-gram at position i is a pure function of the token ARRAY, so it
    * is glued inside one codegen'd projection (transform over the valid
    * start positions) and exploded — no exchange, no sort. The previous
    * window rendering (lead(w, i) OVER (PARTITION BY doc_id ORDER BY
    * pos)) shuffled the ENTIRE token stream and sorted it per doc on
    * every shingle pass — and the suite runs dozens of shingle passes
    * (x02/x03/x43/x137/x175/x200/x206/x208/x250/x251 each shingle 1-5
    * times). Output is identical row-for-row: split() preserves text
    * order (= the window's ORDER BY pos), and docs with fewer than k
    * tokens emit nothing (the window version's NULL-propagating concat
    * dropped exactly those trailing partials). The only shuffle left is
    * the per-doc DISTINCT that was always downstream.
    */
  def shingles(docs: DataFrame, k: Int = 3): DataFrame =
    withToks(docs)
      .select(col("doc_id"),
        explode(when(size(col("toks")) >= k,
          transform(sequence(lit(0), size(col("toks")) - k), glue(k)(_)))
          .otherwise(array().cast("array<string>"))).as("shingle"))
      .distinct()

  /** One row per k-gram OCCURRENCE — (doc_id, pos, gram), pos 1-BASED
    * start-token position (matching DuckDB's generate_subscripts).
    * NARROW (r17): same zero-shuffle construction as [[shingles]], with
    * the start position carried in a struct instead of re-deriving it
    * from a window. Shared by the span/decontamination queries
    * (x126/x129/x165), whose previous lead()-over-window gram builds
    * each exchanged and sorted the full token stream.
    */
  def positionedGrams(docs: DataFrame, k: Int): DataFrame =
    withToks(docs)
      .select(col("doc_id"),
        explode(when(size(col("toks")) >= k,
          transform(sequence(lit(1), size(col("toks")) - (k - 1)),
            p => struct(p.as("pos"), glue(k)(p - 1).as("gram"))))
          .otherwise(array().cast("array<struct<pos:int,gram:string>>")))
          .as("pg"))
      .select(col("doc_id"), col("pg.pos").as("pos"), col("pg.gram").as("gram"))

  /** One row per adjacent-token pair occurrence (doc-interior bigrams,
    * doc tails dropped). NARROW (r17): zip of the token array with its
    * own 1-shift — no exchange, no sort; the previous
    * lead(w, 1)-over-window rendering shuffled the token stream per use.
    */
  def bigramPairs(docs: DataFrame): DataFrame =
    withToks(docs)
      .select(col("doc_id"),
        explode(adjacent(col("toks"), (a, b) => struct(a.as("w1"), b.as("w2")),
          array().cast("array<struct<w1:string,w2:string>>"))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))

  /** Oracle-side rendering of [[shingles]] (k=3). */
  val shinglesSql: String =
    s"""SELECT DISTINCT doc_id, shingle FROM (
       |  SELECT doc_id,
       |         w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS shingle
       |  FROM ($tokensSql) toks
       |  WINDOW win AS (PARTITION BY doc_id ORDER BY pos)) raw
       |WHERE shingle IS NOT NULL""".stripMargin
}
