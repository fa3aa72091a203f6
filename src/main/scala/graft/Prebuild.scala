package graft

import org.apache.spark.sql.SparkSession

/** One-time shared-artifact setup for the gates (r15 verdict #5).
  *
  * The suite's first execution of certain queries pays one-time costs
  * that are NOT that query's cost: content-keyed staged stream fixtures
  * (split-parquet copies under java.io.tmpdir), persisted index tables
  * (x252/x254's bucketed signature/IVF tables, x255's streamed segment
  * set, x256's compacted fold), and the shared co-purchase graph
  * derivation. When Bench's warmup phase is deadline-truncated those
  * builds ride the TIMED pass-1 numbers (r15's driver record read x255
  * at 21.9 s where the warm probe is sub-second); in a parallelized
  * Verify two workers could race the same build. Running this ONCE at
  * suite start — counted as setup, never as query time — removes both.
  *
  * Everything here is idempotent and content-keyed: on a host where the
  * artifacts already exist (or a previous JVM committed them — the
  * cross-JVM adoption in [[graft.operators.StoredTables]]) the whole
  * phase costs a few catalog registrations.
  */
object Prebuild {

  /** Queries whose construction performs a one-time persisted-table or
    * staged-fixture build (the build happens EAGERLY inside the query
    * function; the returned probe plan is discarded unexecuted, and its
    * checkpoints are freed with its scope).
    * x253 shares x252's table; x256 folds x255's segments.
    */
  private val buildQueries = Seq(
    "x252_ann_stored_index",   // bv-bucketed banded signature table
    "x254_ivf_stored_cells",   // IVF centroid + cid-bucketed cell tables
    "x255_stream_ann_index",   // embeddings staging + streamed segments
    "x256_ann_segment_compact",// compacted segment fold
    "x181_json_schema_drift",  // staged two-schema JSON fixture
    "x225_csv_ingest")         // staged CSV lines fixture

  /** Materializes every shared artifact; returns seconds spent. */
  def run(spark: SparkSession, dir: String): Double = {
    val t0 = System.nanoTime()
    graft.streaming.StreamingOps.prestage(spark, dir)
    buildQueries.foreach { n =>
      try Checkpoints.scope(SparkEntry.queries(n)(spark, dir))
      catch { case e: Throwable =>
        System.err.println(s"[prebuild] $n failed: ${e.getMessage}")
      }
    }
    // The shared co-purchase graph (r11 verdict #4): derived once per
    // JVM, reused by the whole graph family.
    try graft.operators.CoPurchaseGraph.pairWeights(spark, dir)
    catch { case e: Throwable =>
      System.err.println(s"[prebuild] co-purchase graph: ${e.getMessage}")
    }
    (System.nanoTime() - t0) / 1e9
  }
}
