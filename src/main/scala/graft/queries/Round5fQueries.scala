package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.TextOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 batch 6: maximal duplicated-span detection — the exact-substring
  * dedup signal of Lee et al. 2022 ("Deduplicating Training Data Makes
  * Language Models Better"), whose suffix-array output is re-expressed
  * relationally: overlapping k-grams shared across documents, merged into
  * MAXIMAL per-doc spans by a gaps-and-islands pass.
  */
object Round5fQueries {

  val all: Seq[QueryDef] = Seq(

    // Per doc: the number of maximal duplicated spans (runs of 5-gram
    // positions whose gram also appears in another document, merged while
    // consecutive duplicated grams overlap or touch) and the token mass
    // those spans cover — what substring-level dedup would cut. Differs
    // from x113 (disjoint passages, per-passage flags): here grams
    // OVERLAP, so the merge step is what produces maximal spans, exactly
    // the suffix-array result for matches ≥ k tokens. Integer-exact.
    // Scale: one wide exchange on the gram (hash it at 100 TB), one
    // doc-partitioned window for the island merge; nothing quadratic.
    QueryDef(
      "x126_dup_spans",
      (s, dir) => {
        val k = 5
        // NARROW since r17 (shared TextOps.positionedGrams): the gram
        // stream is glued from the token array — no token-stream
        // exchange/sort. pos is now 1-based (was 0-based); every
        // downstream use (lag difference, island break, max+k-min) is
        // shift-invariant, so the output is unchanged.
        val grams = TextOps.positionedGrams(Tables.documents(s, dir), k)
        val spread = grams.groupBy("gram")
          .agg(countDistinct(col("doc_id")).as("nd"))
        val dup = grams.join(spread, "gram").filter(col("nd") > 1)
          .select("doc_id", "pos")
        val byDoc = Window.partitionBy("doc_id").orderBy("pos")
        val spans = dup
          .withColumn("newSpan",
            when(col("pos") >
              lag(col("pos"), 1, -1000000).over(byDoc) + k, 1L)
              .otherwise(0L))
          .withColumn("island",
            sum(col("newSpan")).over(byDoc.rowsBetween(
              Window.unboundedPreceding, Window.currentRow)))
          .groupBy("doc_id", "island")
          .agg((max(col("pos")) + k - min(col("pos"))).as("len"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_spans"), sum(col("len")).as("dup_tokens"))
        Tables.documents(s, dir).select("doc_id")
          .join(spans, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_spans"), lit(0L)).as("n_spans"),
            coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id,
              |         generate_subscripts(${TextOps.tokenArraySql}, 1) - 1 AS pos,
              |         unnest(${TextOps.tokenArraySql}) AS w
              |  FROM documents),
              | grams AS (
              |  SELECT doc_id, pos,
              |         w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win
              |           || ' ' || lead(w, 3) OVER win || ' ' || lead(w, 4) OVER win AS gram
              |  FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
              | g AS (SELECT doc_id, pos, gram FROM grams WHERE gram IS NOT NULL),
              | spread AS (
              |  SELECT gram FROM g GROUP BY 1 HAVING count(DISTINCT doc_id) > 1),
              | dup AS (SELECT doc_id, pos FROM g JOIN spread USING (gram)),
              | marked AS (
              |  SELECT doc_id, pos,
              |         CASE WHEN pos > coalesce(lag(pos) OVER w2, -1000000) + 5
              |              THEN 1 ELSE 0 END AS newSpan
              |  FROM dup WINDOW w2 AS (PARTITION BY doc_id ORDER BY pos)),
              | islands AS (
              |  SELECT doc_id, pos,
              |         sum(newSpan) OVER (PARTITION BY doc_id ORDER BY pos
              |           ROWS UNBOUNDED PRECEDING) AS island
              |  FROM marked),
              | spans AS (
              |  SELECT doc_id, island, max(pos) + 5 - min(pos) AS len
              |  FROM islands GROUP BY 1, 2),
              | per_doc AS (
              |  SELECT doc_id, count(*) AS n_spans, sum(len) AS dup_tokens
              |  FROM spans GROUP BY 1)
              |SELECT d.doc_id,
              |       CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
              |       CAST(coalesce(dup_tokens, 0) AS BIGINT) AS dup_tokens
              |FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
              |ORDER BY 1""".stripMargin)),

    // Rank-based quantile normalization per group — the ML-preprocessing
    // transform that maps each value to its empirical percentile
    // (rank−1)/(n−1) with a DETERMINISTIC tiebreak (value, event_id), so
    // the output is a pure function of the data: one double division of
    // exact integers, engine-identical with no rounding step. Scale: one
    // window per group partition; rank and count share the same sort.
    QueryDef(
      "x127_quantile_norm",
      (s, dir) => {
        val w = Window.partitionBy("event_type")
          .orderBy(col("value"), col("event_id"))
        val n = Window.partitionBy("event_type")
        Tables.events(s, dir)
          .select(col("event_id"), col("event_type"),
            ((row_number().over(w) - 1).cast("double") /
              (count(lit(1)).over(n) - 1)).as("pct"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, event_type,
             |       CAST(rn - 1 AS DOUBLE) / (n - 1) AS pct
             |FROM (
             |  SELECT event_id, event_type,
             |         row_number() OVER (PARTITION BY event_type
             |                            ORDER BY value, event_id) AS rn,
             |         count(*) OVER (PARTITION BY event_type) AS n
             |  FROM events) t
             |ORDER BY event_id""".stripMargin)),

    // Decontamination as a TRANSFORM, not a report: corpus docs are
    // REWRITTEN with every token span covered by a benchmark-shared
    // 5-gram removed (x69 flags contaminated docs; this emits the
    // cleaned text a training run would actually ingest — x126's span
    // machinery pointed at a reference set). The rebuilt text ships as
    // md5 so the gate hash-verifies the exact reconstruction without
    // dumping full documents. Scale: gram join broadcast on the
    // benchmark gram set (an aggregate of the eval suite — tiny by
    // construction); coverage explode and the ordered rebuild partition
    // on doc_id.
    QueryDef(
      "x129_decontam_rewrite",
      (s, dir) => {
        val k = 5
        val toks = TextOps.tokenArray(col("text"))
        val tokensOf = Tables.documents(s, dir)
          .select(col("doc_id"), posexplode(toks).as(Seq("pos", "w")))
        // NARROW since r17 (shared TextOps.positionedGrams, 1-based pos);
        // the covered-position explode shifts back to tokensOf's 0-based
        // positions (pos-1 .. pos-1+k-1), so the anti-join keys are
        // unchanged.
        val grams = TextOps.positionedGrams(Tables.documents(s, dir), k)
        val benchGrams = grams.filter(col("doc_id") < 20)
          .select("gram").distinct()
        val covered = grams.filter(col("doc_id") >= 20)
          .join(broadcast(benchGrams), "gram")
          .select(col("doc_id"),
            explode(sequence(col("pos") - 1, col("pos") + k - 2)).as("pos"))
          .distinct()
        val kept = tokensOf.filter(col("doc_id") >= 20)
          .join(covered, Seq("doc_id", "pos"), "left_anti")
        val rebuilt = kept.groupBy("doc_id")
          .agg(count(lit(1)).as("n_kept"),
            md5(array_join(transform(
              array_sort(collect_list(struct(col("pos"), col("w")))),
              x => x.getField("w")), " ")).as("clean_md5"))
        Tables.documents(s, dir).filter(col("doc_id") >= 20)
          .select(col("doc_id"), size(toks).cast("long").as("n_tokens"))
          .join(rebuilt, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id,
              |         generate_subscripts(${TextOps.tokenArraySql}, 1) - 1 AS pos,
              |         unnest(${TextOps.tokenArraySql}) AS w
              |  FROM documents),
              | grams AS (
              |  SELECT doc_id, pos,
              |         w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win
              |           || ' ' || lead(w, 3) OVER win || ' ' || lead(w, 4) OVER win AS gram
              |  FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
              | bench AS (
              |  SELECT DISTINCT gram FROM grams
              |  WHERE doc_id < 20 AND gram IS NOT NULL),
              | covered AS (
              |  SELECT DISTINCT g.doc_id,
              |         unnest(generate_series(g.pos, g.pos + 4)) AS pos
              |  FROM grams g JOIN bench USING (gram)
              |  WHERE g.doc_id >= 20),
              | kept AS (
              |  SELECT t.doc_id, t.pos, t.w FROM toks t
              |  WHERE t.doc_id >= 20 AND NOT EXISTS (
              |    SELECT 1 FROM covered c
              |    WHERE c.doc_id = t.doc_id AND c.pos = t.pos)),
              | rebuilt AS (
              |  SELECT doc_id, count(*) AS n_kept,
              |         md5(string_agg(w, ' ' ORDER BY pos)) AS clean_md5
              |  FROM kept GROUP BY 1),
              | corpus AS (
              |  SELECT doc_id,
              |         CAST(len(${TextOps.tokenArraySql}) AS BIGINT) AS n_tokens
              |  FROM documents WHERE doc_id >= 20)
              |SELECT c.doc_id, c.n_tokens,
              |       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
              |       coalesce(r.clean_md5, md5('')) AS clean_md5
              |FROM corpus c LEFT JOIN rebuilt r ON c.doc_id = r.doc_id
              |ORDER BY 1""".stripMargin)),

    // Temporal burstiness per user: the index of dispersion
    // (n·Σc² − (Σc)²) / (n·Σc) over the user's hourly event counts —
    // ≈1 for Poisson-like organic activity, ≫1 for bursty/bot traffic,
    // the behavioral-abuse signal a data pipeline screens on. All
    // aggregation is exact integers (bucket counts and their squares);
    // the index is ONE double expression per output row, so the value
    // is engine-identical with no summation-order exposure (the x34
    // power-sum pattern). Scale: two hash aggregates, both keyed on
    // user/(user, hour) — uniform.
    QueryDef(
      "x130_burstiness",
      (s, dir) => {
        val buckets = Tables.events(s, dir)
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("c"))
        buckets.groupBy("user_id")
          .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
            sum(col("c") * col("c")).as("scc"))
          .select(col("user_id"), col("n"), col("sc"),
            ((col("n") * col("scc") - col("sc") * col("sc")).cast("double") /
              (col("n") * col("sc"))).as("dispersion"))
          .orderBy("user_id")
      },
      Some("""WITH b AS (
             |  SELECT user_id, date_trunc('hour', ts) AS h, count(*) AS c
             |  FROM events GROUP BY 1, 2),
             | agg AS (
             |  SELECT user_id, count(*) AS n,
             |         CAST(sum(c) AS BIGINT) AS sc,
             |         CAST(sum(c * c) AS BIGINT) AS scc
             |  FROM b GROUP BY 1)
             |SELECT user_id, n, sc,
             |       CAST(n * scc - sc * sc AS DOUBLE) / (n * sc) AS dispersion
             |FROM agg ORDER BY user_id""".stripMargin)),

    // Corrupt-record quarantine — the malformed-input stage of every
    // ingest pipeline: a deterministic fault injector truncates 1-in-7
    // payloads mid-JSON, and the query routes rows by whether the
    // REQUIRED field is extractable (Spark's PERMISSIVE from_json
    // null-fields the corrupt row rather than nulling the struct, so
    // field-level null IS the portable corruption signal; the oracle
    // states the same predicate as json_valid AND key present),
    // reporting per type the arrivals, the quarantined count, and the
    // exact integer sum extracted from the SURVIVING payloads — proving
    // bad rows neither crash the job nor leak into the aggregate.
    // Scale: a narrow map plus one hash aggregate; the quarantine
    // predicate is row-local.
    QueryDef(
      "x131_quarantine",
      (s, dir) => {
        val mangled = when(pmod(col("event_id"), lit(7)) === 0,
          col("props").substr(lit(1),
            (length(col("props")) / 2).cast("int")))
          .otherwise(col("props"))
        val parsed = from_json(mangled, org.apache.spark.sql.types
          .StructType(Seq(org.apache.spark.sql.types
            .StructField("k", org.apache.spark.sql.types.LongType))))
        Tables.events(s, dir)
          .select(col("event_type"), parsed.as("p"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_arrived"),
            sum(when(col("p.k").isNull, 1L).otherwise(0L)).as("n_quarantined"),
            sum(col("p.k")).as("k_sum"))
          .orderBy("event_type")
      },
      Some("""WITH m AS (
             |  SELECT event_type,
             |         CASE WHEN event_id % 7 = 0
             |              THEN substr(props, 1, length(props) // 2)
             |              ELSE props END AS m
             |  FROM events),
             | s AS (
             |  -- sanitize BEFORE extraction: DuckDB may evaluate
             |  -- json_extract_string eagerly even under a CASE guard,
             |  -- and it ERRORS on malformed input rather than yielding NULL
             |  SELECT event_type,
             |         json_extract_string(
             |           CASE WHEN json_valid(m) THEN m ELSE '{}' END,
             |           '$.k') AS kx
             |  FROM m)
             |SELECT event_type, count(*) AS n_arrived,
             |       CAST(sum(CASE WHEN kx IS NULL THEN 1 ELSE 0 END)
             |         AS BIGINT) AS n_quarantined,
             |       CAST(sum(CAST(kx AS BIGINT)) AS BIGINT) AS k_sum
             |FROM s GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Per-class embedding diversity — mean pairwise squared distance via
    // the identity E‖x−y‖² = 2(E‖x‖² − ‖E x‖²): the curation metric for
    // "is this class/source collapsing to near-duplicates" WITHOUT any
    // pairwise pass. Everything reduces to power sums: Σ‖x‖² and the
    // per-dimension sums, all in DECIMAL (the float→decimal(·,12)
    // rounding is engine-identical because no binary fraction can sit on
    // a 10⁻¹²·½ boundary), then ONE double expression per class. Scale:
    // two hash aggregates over the exploded values — linear, vs the
    // quadratic pair join the naive rendering needs (x05's regime).
    QueryDef(
      "x132_embedding_diversity",
      (s, dir) => {
        val vals = Tables.embeddings(s, dir)
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .withColumn("xd", col("x").cast("double").cast("decimal(14,12)"))
        val s2 = vals.groupBy("label")
          .agg((count(lit(1)) / 64).cast("long").as("n"),
            sum(col("xd") * col("xd")).cast("double").as("s2"))
        val m2 = vals.groupBy("label", "pos")
          .agg(sum(col("xd")).cast("decimal(16,12)").as("sd"))
          .groupBy("label")
          .agg(sum(col("sd") * col("sd")).cast("double").as("m2"))
        s2.join(m2, "label")
          .select(col("label"), col("n"),
            (lit(2.0) * (col("s2") / col("n") -
              col("m2") / (col("n") * col("n")))).as("diversity"))
          .orderBy("label")
      },
      Some("""WITH vals AS (
             |  SELECT label,
             |         generate_subscripts(embedding, 1) AS pos,
             |         CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(14,12)) AS xd
             |  FROM embeddings),
             | s2 AS (
             |  SELECT label, CAST(count(*) // 64 AS BIGINT) AS n,
             |         CAST(sum(xd * xd) AS DOUBLE) AS s2
             |  FROM vals GROUP BY 1),
             | m2 AS (
             |  SELECT label, CAST(sum(sd * sd) AS DOUBLE) AS m2 FROM (
             |    SELECT label, pos,
             |           CAST(sum(xd) AS DECIMAL(16,12)) AS sd
             |    FROM vals GROUP BY 1, 2) t
             |  GROUP BY 1)
             |SELECT label, n,
             |       2.0 * (s2 / n - m2 / (n * n)) AS diversity
             |FROM s2 JOIN m2 USING (label)
             |ORDER BY label""".stripMargin))
  )
}
