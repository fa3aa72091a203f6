package graft

import graft.operators.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.Row

/** Degenerate-input behavior: operators must return empty results — not
  * throw — on empty corpora (the reference's pipelines quiesce cleanly on
  * producers that never yield; our operators should degrade the same way).
  */
class EdgeCaseSpec extends SparkSuite {

  // full documents schema (doc_id, text, lang, source, n_chars) — the
  // operators may reference the table's precomputed columns
  private def emptyDocs = spark.createDataFrame(
    spark.sparkContext.emptyRDD[Row],
    StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))

  test("dedup family returns empty on an empty corpus") {
    assert(Dedup.exactKeepFirst(emptyDocs).isEmpty)
    assert(Dedup.ngramJaccardPairs(emptyDocs, 0.8).isEmpty)
    assert(Dedup.minhashLshPairs(emptyDocs, 0.8).isEmpty)
    assert(Dedup.simhashPairs(emptyDocs).isEmpty)
  }

  test("cluster formation returns empty on an empty pair set") {
    import spark.implicits._
    val noPairs = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.dedupClusters(noPairs).isEmpty)
  }

  test("text analysis returns empty on an empty corpus") {
    assert(TextAnalysis.langId(emptyDocs).isEmpty)
    assert(TextAnalysis.qualityScore(emptyDocs).isEmpty)
  }

  test("single-document corpus yields no pairs but full per-doc output") {
    import spark.implicits._
    val one = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    assert(Dedup.ngramJaccardPairs(one, 0.0).isEmpty)
    assert(TextAnalysis.langId(one).count() == 1)
  }

  test("similarity top-k on a missing query id yields zero rows, not an exception") {
    val emb = Tables.embeddings(spark, sfDir)
    // query id far outside the corpus: no query vector is found, and
    // every serving route — brute force, stored LSH, stored IVF, int8 —
    // answers with zero rows (not an exception), the composable outcome.
    val q = 999999999L
    assert(Similarity.cosineTopK(emb, q, 10).isEmpty)
    assert(Similarity.annTopKBandedStored(spark, emb, sfDir, q, 10).isEmpty)
    assert(Similarity.ivfTopKStored(spark, emb, sfDir, q, 10).isEmpty)
    assert(Similarity.quantizedTopK(spark, emb, q, 10).isEmpty)
  }
}
