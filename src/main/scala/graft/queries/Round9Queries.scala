package graft.queries

import graft.{Checkpoints, QueryDef, Tables}
import graft.operators.TextOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-9 queries: the r8 verdict's documented-but-unshipped scale swaps,
  * plus cross-document exact-substring span dedup (the ExactSubstr half of
  * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
  * Better" — the reference has no text operators at all, SURVEY §2.B).
  */
object Round9Queries {

  /** Token k-grams WITH positions — [[TextOps.shingles]] keeps only the
    * distinct shingle set; span detection needs every occurrence site.
    * Positions are 1-based to match DuckDB's generate_subscripts.
    * Same NULL-propagating concat so trailing partial grams drop.
    */
  private[queries] def positionedGrams(docs: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame =
    // NARROW since r17: delegates to the shared zero-shuffle array
    // construction (the lead()-over-window original exchanged + sorted
    // the token stream per gram pass). Same rows, same 1-based pos.
    TextOps.positionedGrams(docs, k)

  /** x165: cross-document exact-substring spans — for every doc, the
    * maximal token ranges whose every k-gram (k=8) also appears verbatim
    * in at least one OTHER document. Lee et al. build a suffix array over
    * the concatenated corpus (single-node, memory-bound); the relational
    * rendering is a gram-hash inverted index: positioned k-grams →
    * group by md5(gram) keeping hashes spanning ≥2 docs → flag the
    * occurrence sites → merge flagged starts into maximal spans with a
    * per-doc gaps-and-islands window (a new span begins when the next
    * flagged start is > k past the previous one, i.e. coverage breaks).
    *
    * Scale: the only corpus-wide shuffle partitions by gram hash —
    * uniform keys, partial-aggregated map-side; the island windows
    * partition by doc_id with doc-length-bounded state. Production
    * would group on xxhash64(gram) (8 bytes, no parity twin in DuckDB);
    * md5 here keeps the oracle bit-identical. The df≥2 back-join fans
    * out exactly the flagged sites — output-bounded by construction.
    */
  private def exactSubstringSpans(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val k = 8
    val g = positionedGrams(Tables.documents(s, dir), k)
      .select(col("doc_id"), col("pos"), md5(col("gram")).as("gh"))
    val hot = g.groupBy("gh")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("gh")
    val flagged = g.join(hot, "gh").select("doc_id", "pos")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val spans = flagged
      .withColumn("prev", lag(col("pos"), 1).over(w))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") - col("prev") > k, 1)
          .otherwise(0))
      .withColumn("isl",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    spans.groupBy("doc_id", "isl")
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + (k - 1)).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("dup_tokens"))
      .orderBy("doc_id", "span_start")
  }

  private val exactSubstringSql = {
    val k = 8
    val leads = (1 until k)
      .map(i => s"lead(w,$i) OVER win").mkString(" || ' ' || ")
    s"""WITH toks AS (${TextOps.tokensSql}),
       | grams AS (
       |   SELECT doc_id, pos, w || ' ' || $leads AS gram
       |   FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
       | g AS (SELECT doc_id, pos, md5(gram) AS gh FROM grams
       |       WHERE gram IS NOT NULL),
       | hot AS (SELECT gh FROM g GROUP BY 1
       |         HAVING count(DISTINCT doc_id) >= 2),
       | f AS (SELECT doc_id, pos FROM g JOIN hot USING (gh)),
       | isl AS (
       |   SELECT doc_id, pos,
       |          sum(CASE WHEN prev IS NULL OR pos - prev > $k
       |              THEN 1 ELSE 0 END)
       |            OVER (PARTITION BY doc_id ORDER BY pos) AS isl
       |   FROM (SELECT doc_id, pos,
       |                lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
       |                  AS prev FROM f) l)
       |SELECT doc_id,
       |       CAST(min(pos) AS BIGINT) AS span_start,
       |       CAST(max(pos) + ${k - 1} AS BIGINT) AS span_end,
       |       CAST(max(pos) + ${k - 1} - min(pos) + 1 AS BIGINT)
       |         AS dup_tokens
       |FROM isl GROUP BY doc_id, isl ORDER BY doc_id, span_start""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(
    // x164: the HLL swap x124 documents — windowed distinct-count with
    // BOUNDED per-bucket state. x124's exact rendering carries one user
    // SET per (event_type, hour) bucket, unbounded in users-per-hour;
    // here each bucket keeps one fixed-size HLL sketch
    // (hll_sketch_agg), and the trailing-3-bucket distinct is
    // hll_union_agg over the same hour-index range frame — sketch
    // union is exactly the set-union homomorphism, so the window shape
    // is unchanged while the carried state drops from O(users/bucket)
    // to O(1). The estimate itself is engine-specific (DataSketches),
    // so the gate follows the x16/x49 invariant pattern: the query
    // emits the EXACT windowed count plus an in-bound boolean
    // (|hll − exact| ≤ 10%·exact; default lgK=12 gives ~1.6% rsd, so
    // 10% is ~6σ), and the oracle asserts `true` — an out-of-band
    // estimate hash-mismatches instead of hiding behind a rows-only
    // check. At 100 TB the exact column is dropped and the sketches
    // are what a production rollup stores (they also merge across
    // days/regions — the reaggregation property sets lack).
    QueryDef(
      "x164_window_distinct_hll",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("event_type"),
            date_trunc("hour", col("ts")).as("h"), col("user_id"))
        val buckets = ev.groupBy("event_type", "h")
          .agg(collect_set(col("user_id")).as("us"),
            hll_sketch_agg(col("user_id")).as("sk"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type")
          .orderBy((col("h").cast("long") / 3600).cast("long"))
          .rangeBetween(-2, 0)
        buckets
          .withColumn("nd3",
            size(array_distinct(flatten(collect_list(col("us")).over(w))))
              .cast("long"))
          .withColumn("nd3_hll",
            hll_sketch_estimate(hll_union_agg(col("sk")).over(w)))
          .select(col("event_type"), col("h"), col("nd3"),
            (abs(col("nd3_hll") - col("nd3")) <= col("nd3") * lit(0.1))
              .as("within_10pct"))
          .orderBy("event_type", "h")
      },
      Some("""WITH ev AS (
             |  SELECT event_type, date_trunc('hour', ts) AS h, user_id
             |  FROM events),
             | b AS (SELECT DISTINCT event_type, h FROM ev)
             |SELECT b.event_type, b.h,
             |       CAST((SELECT count(DISTINCT user_id) FROM ev e
             |        WHERE e.event_type = b.event_type
             |          AND e.h BETWEEN b.h - INTERVAL 2 HOUR AND b.h)
             |         AS BIGINT) AS nd3,
             |       true AS within_10pct
             |FROM b ORDER BY 1, 2""".stripMargin)),

    QueryDef("x165_exact_substring_spans", exactSubstringSpans,
      Some(exactSubstringSql)),

    // x178: per-doc duplicate-gram fraction — Lee et al. 2022's corpus
    // diagnostic (what fraction of each document's text is memorizable
    // verbatim from elsewhere): the share of a doc's positioned 8-gram
    // OCCURRENCES whose gram also appears in >= 1 other document. Same
    // gram-hash inverted index as x165 (the one corpus-wide shuffle,
    // uniform md5 keys, map-side combinable); the per-doc tail is a
    // doc_id-partitioned aggregate. Integer-exact end to end: counts plus
    // a permille ratio via integer division — no float anywhere, so the
    // oracle hash can't flake on rounding.
    QueryDef(
      "x178_dup_gram_fraction",
      (s, dir) => {
        val k = 8
        val g = positionedGrams(Tables.documents(s, dir), k)
          .select(col("doc_id"), md5(col("gram")).as("gh"))
        val hot = g.groupBy("gh")
          .agg(count_distinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2).select("gh")
        g.join(hot.withColumn("dup", lit(1L)), Seq("gh"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(coalesce(col("dup"), lit(0L))).cast("long").as("dup_grams"))
          .select(col("doc_id"), col("n_grams"), col("dup_grams"),
            expr("dup_grams * 1000 DIV n_grams").as("dup_permille"))
          .orderBy("doc_id")
      },
      Some({
        val k = 8
        val leads = (1 until k)
          .map(i => s"lead(w,$i) OVER win").mkString(" || ' ' || ")
        s"""WITH toks AS (${graft.operators.TextOps.tokensSql}),
           | grams AS (
           |   SELECT doc_id, pos, w || ' ' || $leads AS gram
           |   FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
           | g AS (SELECT doc_id, md5(gram) AS gh FROM grams
           |       WHERE gram IS NOT NULL),
           | hot AS (SELECT gh, 1 AS dup FROM g GROUP BY gh
           |         HAVING count(DISTINCT doc_id) >= 2)
           |SELECT doc_id, count(*) AS n_grams,
           |       CAST(sum(coalesce(dup, 0)) AS BIGINT) AS dup_grams,
           |       CAST(sum(coalesce(dup, 0)) * 1000 // count(*) AS BIGINT)
           |         AS dup_permille
           |FROM g LEFT JOIN hot USING (gh)
           |GROUP BY 1 ORDER BY 1""".stripMargin
      })),

    // x179: asymmetric shingle CONTAINMENT — C(a,b) = |Sa ∩ Sb| / |Sa| —
    // the small-inside-big detector Jaccard structurally misses: a 50-word
    // passage verbatim inside a 5000-word page has Jaccard ≈ 1% but
    // containment ≈ 100% (this is how quote/boilerplate absorption and
    // eval-set passages hiding in long documents are actually caught —
    // the same reason x113's passage screen exists). Candidates come from
    // the x02 inverted shingle index (docs sharing >= 1 shingle — never
    // all pairs; the x52 DF cap composes unchanged at scale); the
    // threshold C >= 0.9 with |Sa| >= 5 evaluates as an integer
    // cross-multiplication (inter*10 >= na*9) — no float anywhere.
    QueryDef(
      "x179_shingle_containment",
      (s, dir) => {
        // one shingle pass feeds sizes AND the index
        val sh = Checkpoints.local(TextOps.shingles(Tables.documents(s, dir)))
        val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val inter = sh.as("x").join(sh.as("y"),
            col("x.shingle") === col("y.shingle") &&
              col("x.doc_id") =!= col("y.doc_id"))
          .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
          .agg(count(lit(1)).as("inter"))
        inter.join(sizes.withColumnRenamed("doc_id", "a"), "a")
          .filter(col("n") >= 5 && col("inter") * 10 >= col("n") * 9)
          .select(col("a"), col("b"), col("inter"), col("n").as("na"))
          .orderBy("a", "b")
      },
      Some(s"""WITH sh AS (${TextOps.shinglesSql}),
              | sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
              | inter AS (
              |   SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
              |   FROM sh x JOIN sh y
              |     ON x.shingle = y.shingle AND x.doc_id <> y.doc_id
              |   GROUP BY 1, 2)
              |SELECT a, b, inter, n AS na
              |FROM inter JOIN sizes ON sizes.doc_id = inter.a
              |WHERE n >= 5 AND inter * 10 >= n * 9
              |ORDER BY a, b""".stripMargin)),

    // x167: takedown/right-to-be-forgotten propagation through the dedup
    // cluster structure — the maintenance op a 100 TB corpus runs when a
    // provider revokes licensing. Deleting a doc that is its cluster's
    // CANONICAL silently orphans every near-dup that was dropped in its
    // favor, so the audit re-elects: for each cluster touched by the
    // deletion set (source ∈ banned), membership before/after, the old
    // canonical, and the re-elected canonical (min surviving doc_id;
    // NULL = cluster wiped, nothing to re-admit). Singleton docs have no
    // cluster row — their deletion cascades trivially and needs no
    // election. Reuses x43's cluster formation (LSH pairs → min-label
    // components — provably the exact-Jaccard components on this data);
    // the cascade itself is one groupBy over cluster_id with conditional
    // aggregates, shuffling only the docs that appear in SOME pair.
    QueryDef(
      "x167_deletion_propagation",
      (s, dir) => {
        val docs = graft.Tables.documents(s, dir)
        val clusters = graft.operators.Dedup.dedupClusters(
          graft.operators.Dedup.minhashLshPairs(docs, 0.8))
        clusters.join(docs.select("doc_id", "source"), "doc_id")
          .withColumn("deleted", col("source").isin("src3", "src7"))
          .groupBy("cluster_id")
          .agg(count(lit(1)).cast("long").as("n_before"),
            sum(when(!col("deleted"), 1L).otherwise(0L)).cast("long")
              .as("n_after"),
            min(col("doc_id")).cast("long").as("old_canon"),
            min(when(!col("deleted"), col("doc_id"))).cast("long")
              .as("new_canon"))
          .filter(col("n_after") < col("n_before"))
          .orderBy("cluster_id")
      },
      Some(s"""WITH RECURSIVE
              | ${graft.operators.Dedup.clusterClosureCtesSql(0.8)},
              | mem AS (SELECT cl.doc_id, cl.cluster_id,
              |                d.source IN ('src3','src7') AS deleted
              |         FROM cl JOIN documents d USING (doc_id))
              |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_before,
              |       CAST(sum(CASE WHEN NOT deleted THEN 1 ELSE 0 END)
              |         AS BIGINT) AS n_after,
              |       CAST(min(doc_id) AS BIGINT) AS old_canon,
              |       CAST(min(CASE WHEN NOT deleted THEN doc_id END)
              |         AS BIGINT) AS new_canon
              |FROM mem GROUP BY 1 HAVING n_after < n_before
              |ORDER BY 1""".stripMargin))
  )
}
