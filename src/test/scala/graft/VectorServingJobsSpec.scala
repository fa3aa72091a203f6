package graft

import graft.operators.{KMeansLite, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, typedLit}

/** The serving routes' driver round-trips and compiles once each route
  * has been called warm: the stored indexes exist, the embeddings
  * relation is cached and the IVF centroids are collected. A request
  * reads its query vector on the driver from the embeddings table's
  * parquet files (no job) and answers in one job: IVF ranks its cells on
  * the driver and int8 re-ranks its candidates in the same plan, so every
  * route over a `Tables` frame is pinned at 1 job. Each per-request value
  * enters the plan as a referenced object, never as generated source, so
  * requests for new query ids compile no class. Each route registers the
  * graft functions its plan uses, so it also answers in a session built
  * without the graft extensions.
  */
class VectorServingJobsSpec extends SparkSuite {

  private val routes = Seq("exact", "lsh", "ivf", "quantized")

  private def request(route: String, q: Long,
      spark: org.apache.spark.sql.SparkSession = spark): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    route match {
      case "exact" => Similarity.cosineTopK(emb, q, 10)
      case "lsh" => Similarity.annTopKBandedStored(spark, emb, sfDir, q, 10)
      case "ivf" => Similarity.ivfTopKStored(spark, emb, sfDir, q, 10)
      case "quantized" => Similarity.quantizedTopK(spark, emb, q, 10)
    }
  }

  test("a warm file-backed vector request runs 1 job on every route") {
    routes.foreach(request(_, 0L).collect())
    val jobs = routes.map { r =>
      val (rows, n) = jobsOf(request(r, 5L).collect())
      assert(rows.length == 10, s"$r answered ${rows.length} rows")
      r -> n
    }.toMap
    info(s"jobs per request: $jobs")
    routes.foreach { r =>
      assert(jobs(r) == 1, s"$r ran ${jobs(r)} jobs per request (expected 1): $jobs")
    }
  }

  test("every route answers in a session whose graft functions are not registered") {
    routes.foreach(request(_, 0L).collect())
    // Per route, a session built without the graft extensions: each route
    // registers the functions its plan uses.
    routes.foreach { r =>
      val fresh = spark.newSession()
      val registry = fresh.sessionState.functionRegistry
      registry.listFunction().filter(_.funcName.startsWith("graft_")).foreach(registry.dropFunction)
      assert(request(r, 5L, fresh).collect().length == 10, r)
    }
  }

  test("warm requests over 10 new query ids compile no class on any route") {
    routes.foreach(request(_, 0L).collect())
    val compiles = routes.map { r =>
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (11L to 20L).foreach(q => request(r, q).collect())
      r -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
    }.toMap
    info(s"classes compiled over 10 requests: $compiles")
    routes.foreach { r =>
      assert(compiles(r) == 0, s"$r compiled ${compiles(r)} classes: $compiles")
    }
  }

  test("driver-side IVF cell ranking returns nearestCells' cids in order") {
    request("ivf", 0L).collect()
    val Seq(centTbl) = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_ivf_cents_")).toSeq
    val cents = spark.table(centTbl)
    val rows = cents.select("cid", "cv").collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val queries = KMeansLite.vectors(Tables.embeddings(spark, sfDir))
      .filter(col("vec_id") < 48).collect().map(_.getSeq[Double](1).toArray)
    assert(queries.length == 48)
    queries.foreach { q =>
      val expected = Similarity.nearestCells(cents, typedLit(q), 4)
        .collect().map(_.getLong(0)).toSeq
      assert(Similarity.nearestCellIds(rows, q, 4) == expected)
    }
  }
}
