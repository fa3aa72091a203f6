package graft

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame

/** The serving routes' driver round-trips, counted in Spark jobs per
  * request (table read, plan construction and the answer's collect) once
  * each route has been called warm: the stored indexes exist and the
  * embeddings schema is cached. A request fetches its query vector once
  * and carries it as a literal, so the exact and stored LSH routes are
  * the fetch plus the answer (2 jobs), and IVF's cell ranking and the
  * int8 candidate collect add one job each. The index routes are pinned
  * at 3, one above the LSH count, as the bound the serving path must
  * keep.
  */
class VectorServingJobsSpec extends SparkSuite {

  private def request(route: String, q: Long): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    route match {
      case "exact" => Similarity.cosineTopK(emb, q, 10)
      case "lsh" => Similarity.annTopKBandedStored(spark, emb, sfDir, q, 10)
      case "ivf" => Similarity.ivfTopKStored(spark, emb, sfDir, q, 10)
      case "quantized" => Similarity.quantizedTopK(spark, emb, q, 10)
    }
  }

  test("a warm vector request runs <= 2 jobs exact and <= 3 on each index route") {
    val bounds = Seq("exact" -> 2, "lsh" -> 3, "ivf" -> 3, "quantized" -> 3)
    bounds.foreach { case (r, _) => request(r, 0L).collect() }
    val jobs = bounds.map { case (r, _) =>
      val (rows, n) = jobsOf(request(r, 5L).collect())
      assert(rows.length == 10, s"$r answered ${rows.length} rows")
      r -> n
    }.toMap
    info(s"jobs per request: $jobs")
    bounds.foreach { case (r, bound) =>
      assert(jobs(r) <= bound, s"$r ran ${jobs(r)} jobs per request (bound $bound): $jobs")
    }
  }
}
