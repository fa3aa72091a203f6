package graft.queries

import graft.{Checkpoints, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 additions: training-batch assembly operators.
  *
  * Reference tie-in: the closest async-pipes shape is an ordered stateful
  * stage carrying a running total (`/root/reference/src/lib.rs:161-185`
  * holds running state behind a mutex; `WorkerOptions.ordered`,
  * `src/pipeline/builder.rs`, pins delivery order) — here the same
  * "running offset over a deterministic order" semantics is rendered as a
  * distributed two-phase prefix sum, because a single ordered worker IS
  * the bottleneck the reference's design accepts and a 100 TB corpus
  * cannot.
  */
object Round8Queries {

  /** x159: sequence packing (concat-and-chunk) — assign every document a
    * training-sequence id and offset by laying the corpus out in a
    * deterministic pseudorandom order and chunking the concatenated token
    * stream into fixed `ctx`-token sequences. The GPT-style packing step
    * that turns a cleaned corpus into fixed-length training samples.
    *
    * The global running token offset is THE textbook global-cumsum trap —
    * one `Window.orderBy` with no partitioning funnels the corpus through
    * a single task (the exact shape PlanAudit's suite-wide gate rejects).
    * Scale-safe rendering, the classic two-phase scan:
    *   1. bucket = first 2 hex chars of the doc's md5 order key: 256
    *      buckets, and ordering by (bucket, key) ≡ ordering by key since
    *      the bucket is a PREFIX of the key — so per-bucket cumsums are
    *      segments of the global one;
    *   2. within-bucket running sum: a PARTITIONED window (256-way
    *      parallel, each partition ~1/256 of the corpus);
    *   3. bucket base offsets: a 256-row aggregate self-joined on
    *      `b < a` (bounded 256² grid, never corpus-sized) and BROADCAST
    *      back — no second shuffle of the data.
    * At 100 TB nothing here is driver-side or single-task: the only
    * corpus-sized exchanges are the bucket hash-partition and the
    * per-bucket sort a global sort would pay anyway.
    *
    * Determinism: md5 order key + integer token counts + integer
    * DIV/% — the house oracle rules (hash-stable across engines).
    */
  def sequencePack(s: SparkSession, dir: String, ctx: Long = 2048L): DataFrame =
    sequencePackDocs(Tables.documents(s, dir), ctx)

  /** [[sequencePack]] over a caller-provided documents frame — the form
    * the end-to-end corpus pipeline (x250) composes, where the packing
    * input is the post-filter/post-dedup/post-apportionment selection,
    * not the raw table.
    */
  def sequencePackDocs(documents: DataFrame, ctx: Long = 2048L): DataFrame = {
    val toks = documents.select(col("doc_id"),
      md5(col("doc_id").cast("string")).as("k"),
      size(filter(split(col("text"), " "), (w: Column) => w =!= ""))
        .cast("long").as("n_tok"))
    // Materialized once: both the per-bucket window and the bucket-totals
    // aggregate consume this, and without the checkpoint each branch
    // re-scans and re-tokenizes the corpus — the dominant cost at scale.
    // The checkpointed projection is 4 narrow columns, not the text.
    val bucketed = Checkpoints.local(toks.withColumn("bucket", substring(col("k"), 1, 2)))
    val w = Window.partitionBy("bucket").orderBy("k", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val inBucket = bucketed.withColumn("cum_b",
      coalesce(sum(col("n_tok")).over(w), lit(0L)))
    val totals = bucketed.groupBy("bucket").agg(sum(col("n_tok")).as("btot"))
    val offsets = totals.as("a").join(totals.as("b"),
        col("b.bucket") < col("a.bucket"), "left")
      .groupBy(col("a.bucket").as("bucket"))
      .agg(coalesce(sum(col("b.btot")), lit(0L)).as("boff"))
    inBucket.join(broadcast(offsets), "bucket")
      .withColumn("cum", col("boff") + col("cum_b"))
      .select(col("doc_id"), col("n_tok"),
        expr(s"CAST(cum DIV $ctx AS BIGINT)").as("seq_id"),
        expr(s"CAST(cum % $ctx AS BIGINT)").as("seq_off"))
      .orderBy("doc_id")
  }

  private val sequencePackSql =
    """WITH t AS (
      |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k,
      |         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tok,
      |         coalesce(sum(n_tok) OVER (ORDER BY k, doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      |  FROM t)
      |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
      |       CAST(cum // 2048 AS BIGINT) AS seq_id,
      |       CAST(cum % 2048 AS BIGINT) AS seq_off
      |FROM c ORDER BY doc_id""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("x159_sequence_pack",
      (s, dir) => sequencePack(s, dir),
      Some(sequencePackSql)))
}
