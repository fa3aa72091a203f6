package graft.examples

import graft.{Sessions, Tables}
import graft.operators.TextOps
import graft.pipeline.PipeGraph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental corpus-refresh pipeline — the companion to
  * [[LlmDataPipeline]] (which builds a corpus from scratch): this one
  * models the RECURRING run an ongoing crawl executes when a new snapshot
  * arrives, composing the round-5 operators end-to-end:
  *
  *   existing corpus (src0..src9)    new snapshot (src10..src19)
  *        │                                │
  *        │  fingerprint store (md5)       │
  *        └──────────► anti join ◄─────────┘   keep only NOVEL docs
  *                        │
  *                        ├─→ passage screen: drop docs whose disjoint
  *                        │   10-token passages are ≥ 50% duplicated
  *                        │   against the union corpus (boilerplate gate
  *                        │   at the sub-document granularity)
  *                        ├─→ per-source token budget: md5-ordered docs
  *                        │   admitted until 20k tokens per source
  *                        │   (deterministic corpus mixing)
  *                        └─→ sink: admitted refresh batch + a per-source
  *                            admission report
  *
  * Every stage is a declarative transform: the fingerprint store is the
  * only state carried between refreshes (at 100 TB it lives as a parquet
  * table keyed by md5 — nothing rescans old text), the passage spread is
  * a hash aggregate on the passage, and the budget is a per-source
  * window — no global ordering anywhere.
  */
object CorpusRefresh {

  /** New-snapshot docs that are content-novel vs the existing corpus. */
  def novelDocs(docs: DataFrame): DataFrame = {
    val fp = docs.withColumn("fp", md5(col("text")))
    val existing = fp.filter(length(col("source")) <= 4)
      .select("fp").distinct()
    fp.filter(length(col("source")) > 4)
      .join(existing, Seq("fp"), "left_anti")
  }

  /** Docs whose passages are mostly (≥ threshold) duplicated corpus-wide. */
  def passageDupFraction(docs: DataFrame): DataFrame = {
    val chunks = docs
      .select(col("doc_id"), TextOps.tokenArray(col("text")).as("ts"))
      .select(col("doc_id"),
        explode(sequence(lit(0L),
          greatest(size(col("ts")).cast("long") - 1, lit(0L)),
          lit(10L))).as("start"),
        col("ts"))
      .select(col("doc_id"), col("start"),
        array_join(slice(col("ts"),
          (col("start") + 1).cast("int"), lit(10)), " ").as("passage"))
    val spread = chunks.groupBy("passage")
      .agg(countDistinct(col("doc_id")).as("nd"))
    chunks.join(spread, "passage")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup"))
  }

  /** md5-ordered per-source admission up to `budget` tokens. */
  def admitToBudget(docs: DataFrame, budget: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(md5(concat_ws("\u0000",
        col("doc_id").cast("string"), col("source"))))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs
      .withColumn("n_tok", size(TextOps.tokenArray(col("text"))).cast("long"))
      .withColumn("cum", sum(col("n_tok")).over(w) - col("n_tok"))
      .filter(col("cum") < budget)
  }

  def build(sfDir: String, outDir: String): PipeGraph = {
    PipeGraph.builder
      .producer("corpus")(s => Tables.documents(s, sfDir))
      .stage("corpus", "novel")(novelDocs)
      .stage("novel", "screened") { novel =>
        // Spread is computed against the union corpus (existing + novel):
        // boilerplate shared with the EXISTING corpus must count.
        val all = novel.sparkSession.table("graft_refresh_corpus")
        val frac = passageDupFraction(all)
        novel.join(frac, "doc_id")
          .filter(col("n_dup") * 2 < col("n_passages"))
          .select(novel.columns.map(col): _*)
      }
      .stage("screened", "admitted")(admitToBudget(_, 20000L))
      .branchingStage("admitted", Seq("batch", "report")) { adm =>
        Seq(
          adm.select("doc_id", "source", "text"),
          adm.groupBy("source")
            .agg(count(lit(1)).as("n_admitted"),
              sum(col("n_tok")).as("tokens")))
      }
      .consumer("batch")(_.write.mode("overwrite")
        .parquet(s"$outDir/refresh_batch"))
      .consumer("report")(_.write.mode("overwrite")
        .parquet(s"$outDir/refresh_report"))
      .build()
      .fold(err => throw new IllegalStateException(err), identity)
  }

  def run(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    Tables.documents(spark, sfDir)
      .createOrReplaceTempView("graft_refresh_corpus")
    build(sfDir, outDir).run(spark)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_refresh"
    val spark = Sessions.local()
    run(spark, sfDir, outDir)
    val batch = spark.read.parquet(s"$outDir/refresh_batch")
    val report = spark.read.parquet(s"$outDir/refresh_report")
    println(s"""{"admitted":${batch.count()},"sources":${report.count()}}""")
    spark.stop()
  }
}
