package graft.examples

import graft.{Sessions, Tables}
import graft.operators.{Dedup, TextAnalysis, TextOps}
import graft.pipeline.PipeGraph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end LLM training-data pipeline — the "switch from the reference"
  * showcase: the reference's dataflow shape (producer → stages → branching
  * → consumers, `/root/reference/README.md:56-108`) carrying this
  * library's analytics operators over a real corpus:
  *
  *   documents ─→ enrich (quality / langid / token stats / repetition /
  *                OOV-vs-corpus-vocabulary rate)
  *             ─→ branch: clean | rejected  (quality + length +
  *                Gopher-style top-bigram-repetition + OOV gates)
  *             ─→ dedup: drop exact dups (keep-first), then cluster the
  *                MinHash-LSH near-dup pairs into connected components
  *                and keep ONE doc per component (the transitive-closure
  *                policy real corpus dedup uses — A~B and B~C drops both
  *                B and C even when A~C was never scored)
  *             ─→ decontaminate: drop docs whose 3-gram shingle overlap
  *                with the eval-benchmark shingle set is ≥ 50% (the
  *                n-gram-overlap screen training runs apply before eval)
  *             ─→ branch: train | holdout  (deterministic md5-prefix
  *                split — reproducible across runs, partitionings, and
  *                retries, unlike rand())
  *             ─→ tokenizer: BPE merges trained on the curated train
  *                split (x168) — the pipeline's tokenizer artifact
  *             ─→ sinks: train + holdout + rejected + merges parquet
  *
  * Every step is a declarative DataFrame transform — at 100 TB this exact
  * graph runs unchanged with the parquet paths pointed at the warehouse;
  * the LSH dedup is the scalable path (no all-pairs anywhere), the
  * benchmark shingle set is an aggregate (broadcast side), and the split
  * predicate is a narrow map.
  */
object LlmDataPipeline {

  /** Docs below this id stand in for the eval benchmark (x69 convention). */
  val benchmarkDocs = 20

  def build(sfDir: String, outDir: String): PipeGraph = {
    PipeGraph.builder
      .producer("docs")(s => Tables.documents(s, sfDir))
      .stage("docs", "enriched") { docs =>
        // Top-bigram repetition ratio (the x42 gate): repetitive docs have
        // one bigram dominating their bigram stream.
        val rep = TextAnalysis.bigramCounts(docs)
          .groupBy("doc_id")
          .agg(TextAnalysis.topBigramRepetitive(max(col("c")), sum(col("c"))).as("repetitive"))
        // OOV rate vs the corpus head vocabulary (the x72 signal): the
        // vocabulary is an aggregate — tiny at any corpus size — so the
        // per-doc pass is one broadcast join over the token stream.
        val toksLong = TextOps.tokens(docs)
        val vocab = toksLong.groupBy("w").agg(count(lit(1)).as("c"))
          .orderBy(desc("c"), asc("w")).limit(10).select(col("w").as("vw"))
        val oov = toksLong
          .join(broadcast(vocab), col("w") === col("vw"), "left")
          .groupBy("doc_id")
          .agg((count(when(col("vw").isNull, 1)).cast("double") /
            count(lit(1))).as("oov_rate"))
        docs
          .join(TextAnalysis.qualityScore(docs).select("doc_id", "quality", "n_tokens"), "doc_id")
          .join(TextAnalysis.langId(docs).select("doc_id", "pred_lang"), "doc_id")
          .join(rep, Seq("doc_id"), "left")
          .withColumn("repetitive", coalesce(col("repetitive"), lit(false)))
          .join(oov, "doc_id")
      }
      .branchingStage("enriched", Seq("clean", "rejected")) { df =>
        val pass = col("quality") >= 9900 && col("n_tokens") >= 15 &&
          !col("repetitive") && col("oov_rate") <= 0.9
        Seq(df.filter(pass), df.filter(!pass).withColumn("reject_reason",
          when(col("quality") < 9900, "low_quality")
            .when(col("n_tokens") < 15, "too_short")
            .when(col("repetitive"), "repetitive")
            .otherwise("high_oov")))
      }
      .stage("clean", "deduped") { clean =>
        val survivors = Dedup.exactKeepFirst(clean)
        // Transitive near-dup removal: cluster the LSH pairs, keep the
        // minimum doc_id of each connected component.
        val clusters = Dedup.dedupClusters(Dedup.minhashLshPairs(clean, 0.8))
        val nearDupLosers = clusters
          .filter(col("doc_id") =!= col("cluster_id"))
          .select("doc_id")
        clean
          .join(survivors, Seq("doc_id"), "left_semi")
          .join(nearDupLosers, Seq("doc_id"), "left_anti")
      }
      .stage("deduped", "curated") { deduped =>
        // Decontamination (the x69 screen with an overlap-ratio gate):
        // a doc whose shingle set is ≥ 50% covered by the benchmark's
        // shingle set is a benchmark leak, not a coincidental phrase.
        // The benchmark side is DISTINCT shingles of a fixed small doc
        // set — an aggregate, so it broadcasts at any corpus size.
        val sh = TextOps.shingles(deduped)
        val bench = sh.filter(col("doc_id") < benchmarkDocs)
          .select("shingle").distinct()
        val contaminated = sh
          .groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
          .join(
            sh.join(broadcast(bench), "shingle")
              .groupBy("doc_id").agg(count(lit(1)).as("ns")),
            Seq("doc_id"))
          .filter(col("doc_id") >= benchmarkDocs && col("ns") * 2 >= col("n_sh"))
          .select("doc_id")
        deduped.join(contaminated, Seq("doc_id"), "left_anti")
      }
      .branchingStage("curated",
        Seq("train", "train_for_seq", "tok_corpus", "holdout")) { df =>
        // Deterministic eval split (the x71 sampler): md5-prefix < '10'
        // ≈ 6.25% holdout, reproducible on any engine, any partitioning,
        // any retry — the property rand()-based splits cannot give. The
        // train side is teed (one copy sinks, one feeds chunking, one
        // feeds tokenizer training) — each pipe has exactly one reader,
        // as the reference requires.
        val inHoldout =
          substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2) < "10"
        Seq(df.filter(!inHoldout), df.filter(!inHoldout),
          df.filter(!inHoldout), df.filter(inHoldout))
      }
      .stage("tok_corpus", "merges") { train =>
        // Train the tokenizer on the SAME curated train split the model
        // will see (the x168 op) — training it pre-filter would spend
        // merge budget on boilerplate the gates remove. The merge table
        // is the pipeline's tokenizer artifact.
        graft.operators.BpeTrain.trainMerges(train.sparkSession, train)
      }
      .stage("train_for_seq", "sequences") { train =>
        // Chunk each curated doc into overlapping token windows (the x86
        // op, width 64 / stride 32) and pack chunks into 512-token bins
        // per source (the x87 op) — the output is ready-to-batch training
        // sequences. Both passes are narrow except the per-source packing
        // window.
        val ts = TextOps.tokenArray(col("text"))
        val cap = greatest(size(col("ts")).cast("long") - 64, lit(0L))
        val chunks = train
          .select(col("doc_id"), col("source"), ts.as("ts"))
          .select(col("doc_id"), col("source"), col("ts"),
            // the final start (len-64) is always included, so no tail
            // token is dropped even when the doc length is off-stride
            explode(array_distinct(concat(
              sequence(lit(0L), cap, lit(32L)), array(cap)))).as("chunk_start"))
          .select(col("doc_id"), col("source"), col("chunk_start"),
            slice(col("ts"), (col("chunk_start") + 1).cast("int"), lit(64))
              .as("chunk_toks"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("doc_id", "chunk_start")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        chunks
          .withColumn("n_tok", size(col("chunk_toks")).cast("long"))
          .withColumn("bin",
            (sum(col("n_tok")).over(w) - col("n_tok")).divide(lit(512))
              .cast("long"))
          .select(col("doc_id"), col("source"), col("chunk_start"),
            array_join(col("chunk_toks"), " ").as("chunk"), col("n_tok"),
            col("bin"))
      }
      .consumer("train")(df =>
        df.orderBy("doc_id").write.mode("overwrite").parquet(s"$outDir/train"))
      .consumer("sequences")(df =>
        df.orderBy("doc_id", "chunk_start").write.mode("overwrite")
          .parquet(s"$outDir/sequences"))
      .consumer("holdout")(df =>
        df.orderBy("doc_id").write.mode("overwrite").parquet(s"$outDir/holdout"))
      .consumer("rejected")(df =>
        df.orderBy("doc_id").write.mode("overwrite").parquet(s"$outDir/rejected"))
      .consumer("merges")(df =>
        df.write.mode("overwrite").parquet(s"$outDir/merges"))
      .build()
      .fold(err => throw new IllegalStateException(err), identity)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_pipeline_out"
    val spark = Sessions.local()
    val t0 = System.nanoTime()
    build(sfDir, outDir).run(spark)
    val secs = (System.nanoTime() - t0) / 1e9
    val train = spark.read.parquet(s"$outDir/train").count()
    val holdout = spark.read.parquet(s"$outDir/holdout").count()
    val rejected = spark.read.parquet(s"$outDir/rejected").count()
    val sequences = spark.read.parquet(s"$outDir/sequences").count()
    val merges = spark.read.parquet(s"$outDir/merges").count()
    println(f"""{"train":$train,"holdout":$holdout,"rejected":$rejected,"sequences":$sequences,"merges":$merges,"secs":$secs%.2f,"out":"$outDir"}""")
    spark.stop()
  }
}
