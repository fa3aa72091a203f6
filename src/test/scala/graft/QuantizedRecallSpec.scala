package graft

import graft.operators.Similarity

/** x27's int8 route on clustered vectors: ranking its candidates by
  * approximate cosine keeps the exact top-10 inside the 50 it re-ranks,
  * so its answer equals the exact route's. The vectors follow the
  * benchmark generator's shape (16 seeded Gaussian centres, 64 dims,
  * per-component noise 0.6, scaled by 0.1), where an approximate-dot
  * ranking misses part of the true top-10.
  */
class QuantizedRecallSpec extends SparkSuite {

  test("int8 top-k equals exact cosine top-k on seeded clustered vectors") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val dim = 64
    val centres = Array.fill(16, dim)(rng.nextGaussian())
    val rows = (0 until 4000).map { i =>
      val c = centres(rng.nextInt(centres.length))
      (i.toLong, Array.tabulate(dim)(d => ((c(d) + 0.6 * rng.nextGaussian()) * 0.1).toFloat))
    }
    val emb = rows.toDF("vec_id", "embedding").localCheckpoint()
    val misses = (0L until 16L).filter { q =>
      val got = Similarity.quantizedTopK(spark, emb, q, 10).collect().toSeq
      val exact = Similarity.cosineTopK(emb, q, 10).collect().toSeq
      assert(exact.length == 10)
      got != exact
    }
    Checkpoints.release(emb)
    assert(misses.isEmpty, s"int8 top-10 differs from exact for queries $misses")
  }
}
