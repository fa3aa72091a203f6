package graft.queries

import graft.{Checkpoints, QueryDef, Tables}
import graft.operators.{Similarity, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-18: shipping the promised scale paths. x245/x246 are the two
  * scale twins the r12 verdict asked for (#4, #5) — both promised in
  * earlier rounds' Scaladoc as the "at 10⁷/100 TB this becomes ..." swap
  * and now shipped as queries sharing their declared twin's oracle
  * VERBATIM, so the hash gate proves the scale path and the declared
  * path compute the same answer. x247 ships the third documented
  * composition (x199's "with x192's manifests the unchanged sources
  * never enter the join"), with its own oracle because the manifest
  * gate needs a fixture where some sources genuinely don't move.
  */
object Round18Queries {

  // ---- x245: ANN-candidate bitext mining (x235's scale twin) -------------

  /** x245: x235's mutual-best bitext mining with the crossJoin scored
    * input swapped for the x185 radius-2 escalated banded-LSH candidates
    * (the x230 composition — same constants, same tail; the heavy
    * lifting and the honest coverage discussion live in
    * [[Similarity.bitextAnnScored]]). Shares x235's oracle verbatim;
    * Round18Spec pins the candidate budget strictly sub-cross-product
    * and mutual-pair agreement with x235 row for row.
    */
  private def bitextMineAnn(s: SparkSession, dir: String): DataFrame =
    Similarity.bitextMineAnn(s, Tables.documents(s, dir),
      Tables.embeddings(s, dir))

  // ---- x246: two-phase prefix-sum vocab rank (x238's scale twin) ---------

  /** The two-phase rank over a (w, cnt) vocabulary: rank = number of
    * strictly-greater rows in the total (cnt desc, w asc) order, computed
    * WITHOUT the vocab² self-join — the x207/x187 idiom applied to a
    * skewed key:
    *
    *  1. bucket by (cnt, first char of w) — the bucket key is a PREFIX
    *     of the sort key, so bucket order refines to row order;
    *  2. per-bucket counts → bucket offsets via a join-rank over the
    *     BUCKET table (x70/x187 idiom — buckets²-bounded, and the bucket
    *     table is |distinct cnt| × |alphabet| ≲ √(corpus tokens) · 26,
    *     microscopic next to vocab²; no unpartitioned window exists);
    *  3. rank = offset + (row_number within the bucket) − 1 — the only
    *     vocab-sized window is PARTITIONED by bucket.
    *
    * At a 10⁷-type web vocab the same shape holds with a 2-char prefix
    * (the x207 widening move); x238's self-join would be 10¹⁴ pairs.
    * Exposed for Round18Spec, which proves rank-identical output against
    * x238's self-join rank on the fixture.
    */
  private[graft] def twoPhaseRank(vocab: DataFrame): DataFrame = {
    val b = vocab.withColumn("pfx", substring(col("w"), 1, 1))
    val bc = b.groupBy("cnt", "pfx").agg(count(lit(1)).as("bn"))
    val off = bc.as("x").join(bc.as("y"),
        col("y.cnt") > col("x.cnt") ||
          (col("y.cnt") === col("x.cnt") && col("y.pfx") < col("x.pfx")),
        "left")
      .groupBy(col("x.cnt").as("cnt"), col("x.pfx").as("pfx"))
      .agg(coalesce(sum(col("y.bn")), lit(0L)).as("off"))
    val wIn = Window.partitionBy("cnt", "pfx").orderBy("w")
    b.join(broadcast(off), Seq("cnt", "pfx"))
      .withColumn("rank", col("off") + row_number().over(wIn) - 1)
      .select("w", "cnt", "rank")
  }

  /** x246: x238's vocabulary-budget sweep with the vocab² self-join rank
    * swapped for [[twoPhaseRank]] — the 10⁷-type-regime rank x238's
    * Scaladoc documents (r12 verdict #5). Tail and oracle shared with
    * x238 verbatim: the hash gate proves the two ranks induce the same
    * coverage curve; Round18Spec proves the rank tables themselves are
    * identical row for row.
    */
  private def vocabCoverageTwoPhase(s: SparkSession, dir: String)
      : DataFrame = {
    // 3 consumers: bucket counts, rank join, total
    val vocab = Checkpoints.local(TextOps.tokens(Tables.documents(s, dir))
      .groupBy("w").agg(count(lit(1)).as("cnt")))
    Round16Queries.coverageSweepTail(s, vocab, twoPhaseRank(vocab))
  }

  // ---- x247: manifest-pruned snapshot diff (x192 ∘ x199) -----------------

  private def h60(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** The moved/clean source split — exposed for Round18Spec. A source is
    * "moved-class" iff h60(source) % 3 ≠ 0 (md5-derived, SF-invariant:
    * 14 of the 20 fixture sources), and only moved-class sources receive
    * the grafted next-crawl mutations, so the manifest gate has BOTH
    * branches to exercise (x199's graft touches every source — measured —
    * which is exactly why its oracle could not be shared here).
    */
  private[graft] def movedClass(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = h60(c) % 3 =!= 0

  /** x247: manifest-pruned snapshot diff — the composition x199's
    * Scaladoc promises ("with x192's manifests the unchanged sources
    * never enter the join at all"), shipped: per-source x192 manifests
    * (count + bit_xor + mod-2⁶³ sum of the same 60-bit row hash the diff
    * uses) are computed for both snapshots, manifest-identical sources
    * are reported (0 added, 0 removed, 0 changed, n unchanged) straight
    * from the manifest, and ONLY manifest-mismatched sources' rows enter
    * the full-outer diff join (broadcast semi-join on the |sources|-sized
    * moved list). Manifest-identical ⟹ row-identical stands on x192's
    * two-fingerprint collision argument (xor cancels on duplicate pairs,
    * the sum doesn't; the row hash embeds doc_id, so equal multisets ⟹
    * equal id sets ⟹ all rows unchanged) — and the ORACLE computes the
    * straight unpruned diff over all sources, so the hash gate itself
    * proves pruned ≡ unpruned cross-engine at every SF.
    *
    * The next crawl is grafted relationally (the x199 classes, restricted
    * to moved-class sources): every 13th doc dropped, every 11th
    * surviving doc revised, every 17th re-keyed past the id range as an
    * addition; clean-class sources pass through byte-identical.
    *
    * Scale: the manifests are one map-side-combinable aggregate per
    * snapshot (in production maintained incrementally per x192, not
    * recomputed); the diff join shuffles only the moved fraction of the
    * corpus — on a 100 TB store where a crawl touches a few percent of
    * sources, that IS the query.
    */
  private def manifestPrunedDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val mv = movedClass(col("source"))
    def rowHash(id: org.apache.spark.sql.Column,
        text: org.apache.spark.sql.Column) =
      h60(concat_ws("\u0001", id.cast("string"), text, col("lang"),
        col("source"), col("n_chars").cast("string")))
    val old = Checkpoints.local(docs.select(col("doc_id"), col("source"),
      rowHash(col("doc_id"), col("text")).as("h"))) // 2 consumers: manifest + diff join
    val mx = docs.agg((max(col("doc_id")) + 1).as("m"))
    val kept = docs.filter(!(mv && col("doc_id") % 13 === 3))
      .select(col("doc_id"), col("source"),
        rowHash(col("doc_id"),
          when(mv && col("doc_id") % 11 === 5,
            concat(col("text"), lit(" rev2"))).otherwise(col("text")))
          .as("h"))
    val added = docs.filter(mv && col("doc_id") % 17 === 2)
      .crossJoin(broadcast(mx))
      .select((col("doc_id") + col("m")).as("doc_id"), col("source"),
        rowHash(col("doc_id") + col("m"), concat(lit("new "), col("text")))
          .as("h"))
    val nw = Checkpoints.local(kept.unionByName(added)) // same 2 consumers

    def manifest(df: DataFrame, sfx: String): DataFrame = df
      .groupBy("source")
      .agg(count(lit(1)).as(s"n_$sfx"),
        expr("bit_xor(h)").as(s"fx_$sfx"),
        expr("CAST(sum(CAST(h AS DECIMAL(38,0))) % 9223372036854775808" +
          " AS BIGINT)").as(s"fs_$sfx"))
    val m = Checkpoints.local(manifest(old, "o")
      .join(manifest(nw, "n"), Seq("source"), "full_outer")
      .select(col("source"), col("n_o"),
        coalesce(col("n_o") === col("n_n") &&
          col("fx_o") === col("fx_n") && col("fs_o") === col("fs_n"),
          lit(false)).as("same"))) // tiny (|sources| rows), 2 consumers
    val clean = m.filter(col("same"))
      .select(col("source"), lit(0L).as("added"), lit(0L).as("removed"),
        lit(0L).as("changed"), col("n_o").as("unchanged"))
    val movedSrc = m.filter(!col("same")).select("source")

    def prune(df: DataFrame): DataFrame =
      df.join(broadcast(movedSrc), Seq("source"), "left_semi")
    val diffed = prune(old)
      .select(col("doc_id"), col("source").as("src_o"), col("h").as("h_o"))
      .join(prune(nw)
          .select(col("doc_id"), col("source").as("src_n"),
            col("h").as("h_n")),
        Seq("doc_id"), "full_outer")
      .select(coalesce(col("src_o"), col("src_n")).as("source"),
        col("h_o"), col("h_n"))
      .groupBy("source")
      .agg(
        sum(when(col("h_o").isNull, 1L).otherwise(0L)).as("added"),
        sum(when(col("h_n").isNull, 1L).otherwise(0L)).as("removed"),
        sum(when(col("h_o").isNotNull && col("h_n").isNotNull &&
          col("h_o") =!= col("h_n"), 1L).otherwise(0L)).as("changed"),
        sum(when(col("h_o") === col("h_n"), 1L).otherwise(0L))
          .as("unchanged"))
    diffed.unionByName(clean).orderBy("source")
  }

  private val manifestPrunedDiffSql: String =
    """WITH mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
      | cls AS (SELECT DISTINCT source,
      |           CAST('0x' || substr(md5(source), 1, 15) AS BIGINT) % 3
      |             <> 0 AS mv
      |         FROM documents),
      | old AS (SELECT doc_id, source,
      |           CAST('0x' || substr(md5(concat_ws(chr(1),
      |             CAST(doc_id AS VARCHAR), text, lang, source,
      |             CAST(n_chars AS VARCHAR))), 1, 15) AS BIGINT) AS h
      |         FROM documents),
      | kept AS (SELECT doc_id, d.source,
      |            CAST('0x' || substr(md5(concat_ws(chr(1),
      |              CAST(doc_id AS VARCHAR),
      |              CASE WHEN cls.mv AND doc_id % 11 = 5
      |                   THEN text || ' rev2' ELSE text END,
      |              lang, d.source, CAST(n_chars AS VARCHAR))), 1, 15)
      |              AS BIGINT) AS h
      |          FROM documents d JOIN cls ON d.source = cls.source
      |          WHERE NOT (cls.mv AND doc_id % 13 = 3)),
      | added AS (SELECT d.doc_id + mx.m AS doc_id, d.source,
      |             CAST('0x' || substr(md5(concat_ws(chr(1),
      |               CAST(d.doc_id + mx.m AS VARCHAR), 'new ' || d.text,
      |               d.lang, d.source, CAST(d.n_chars AS VARCHAR))), 1, 15)
      |               AS BIGINT) AS h
      |           FROM documents d JOIN cls ON d.source = cls.source, mx
      |           WHERE cls.mv AND d.doc_id % 17 = 2),
      | nw AS (SELECT * FROM kept UNION ALL SELECT * FROM added),
      | j AS (SELECT coalesce(o.source, n.source) AS source,
      |              o.h AS h_o, n.h AS h_n
      |       FROM old o FULL OUTER JOIN nw n ON o.doc_id = n.doc_id)
      |SELECT source,
      |       CAST(sum(CASE WHEN h_o IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |         AS added,
      |       CAST(sum(CASE WHEN h_n IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |         AS removed,
      |       CAST(sum(CASE WHEN h_o IS NOT NULL AND h_n IS NOT NULL
      |                      AND h_o <> h_n THEN 1 ELSE 0 END) AS BIGINT)
      |         AS changed,
      |       CAST(sum(CASE WHEN h_o = h_n THEN 1 ELSE 0 END) AS BIGINT)
      |         AS unchanged
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- x249: per-source data card ----------------------------------------

  /** x249: the DATA CARD — the per-source summary artifact a dataset
    * ships with (Gebru et al. 2021, "Datasheets for Datasets"; every
    * public-corpus release carries one): per source the doc count, total
    * chars and tokens, distinct languages, exact-duplicate doc count
    * (docs whose md5(text) appears ≥2 anywhere in the CORPUS — dup
    * pressure is a cross-source property, a source copying another shows
    * up in both cards), and the mean quality score (integer DIV, §7.4).
    * Composes three already-certified signals — x08's quality table,
    * x01's fingerprint dup rule, the raw dims — into the one governance
    * row per source that data-acquisition reviews actually read.
    *
    * Scale: the quality table is x08's one corpus pass; the dup flag is
    * a fingerprint hash-aggregate + a semi-join of the (small) duplicated
    * fingerprint set back to the corpus; everything after is per-source
    * hash aggregates (count_distinct(lang) is languages-bounded). No
    * windows, no driver state.
    */
  private def dataCard(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val q = graft.operators.TextAnalysis.qualityScore(docs)
      .select("doc_id", "n_tokens", "quality")
    val dupFps = docs.groupBy(md5(col("text")).as("fp"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1).select("fp")
    val flagged = docs.select(col("doc_id"), md5(col("text")).as("fp"))
      .join(dupFps, Seq("fp"), "left_semi")
      .select(col("doc_id"), lit(1L).as("is_dup"))
    docs.select("doc_id", "source", "lang", "n_chars")
      .join(q, "doc_id")
      .join(flagged, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("chars"),
        sum("n_tokens").as("tokens"),
        countDistinct("lang").as("n_langs"),
        sum(coalesce(col("is_dup"), lit(0L))).as("dup_docs"),
        expr("sum(quality) DIV count(1)").as("mean_quality"))
      .orderBy("source")
  }

  private val dataCardSql: String =
    s"""WITH q AS (${graft.operators.TextAnalysis.qualityScoreSql}),
       | dupfp AS (SELECT md5(text) AS fp FROM documents
       |           GROUP BY 1 HAVING count(*) > 1),
       | d AS (SELECT doc_id, source, lang, n_chars,
       |              CASE WHEN md5(text) IN (SELECT fp FROM dupfp)
       |                   THEN 1 ELSE 0 END AS is_dup
       |       FROM documents)
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(d.n_chars) AS BIGINT) AS chars,
       |       CAST(sum(q.n_tokens) AS BIGINT) AS tokens,
       |       CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs,
       |       CAST(sum(d.is_dup) AS BIGINT) AS dup_docs,
       |       CAST(sum(q.quality) // count(*) AS BIGINT) AS mean_quality
       |FROM d JOIN q ON d.doc_id = q.doc_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("x245_bitext_mine_ann", bitextMineAnn,
      Some(Round15bQueries.bitextMineSql)),
    QueryDef("x246_vocab_sweep_twophase", vocabCoverageTwoPhase,
      Some(Round16Queries.vocabCoverageSweepSql)),
    QueryDef("x247_manifest_pruned_diff", manifestPrunedDiff,
      Some(manifestPrunedDiffSql)),
    QueryDef("x249_datacard", dataCard, Some(dataCardSql)))
}
