package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite

/** Spill honesty for the 100 TB claim (r13 verdict #6): the three
  * heaviest suite queries re-run in a memory-CONSTRAINED session with
  * forced external-sorter spilling, asserting (a) the task metrics show
  * genuinely nonzero spill and (b) the results are row-identical to a
  * normal session — i.e. correctness does not depend on everything
  * fitting in executor memory, which is the property that separates "ran
  * at sf0.001" from "would run at 100 TB where partitions WILL spill".
  *
  * r14 verdict #7 adds a GATED-FALLBACK target: x245 with
  * `spark.sql.autoBroadcastJoinThreshold=1`, which scales every byte
  * gate's bar down to 6 bytes — the co-partitioned equi-join plan
  * that replaces the broadcasts when the build side is over the byte gate
  * (exactly the plan a 100 TB run would take) gets the same forced-spill
  * parity proof as the graph queries, instead of only the
  * result-equivalence proof Round19Spec gives it.
  *
  * Runs in its own forked JVM (build.sbt test group "spill", the
  * PlanAuditSpec precedent) because it must own the FIRST SparkContext —
  * `spark.memory.fraction` and the force-spill threshold are static
  * context configs — and stops it mid-test to build the comparison
  * session (the Bench isolated-phase idiom: stop, then a fresh context
  * in the same JVM). The second test uses the same stop-then-rebuild
  * shape to check that `Tables` lets go of a stopped context's frames.
  */
class SpillSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"
  private val targets = Seq(
    "x186_kcore_peel", "x162_triangles_skew_id", "x137_incremental_dedup")
  // Runs with the broadcast byte gates forced to the non-broadcast
  // fallback plan in BOTH sessions (Round19Spec separately proves
  // gated ≡ ungated; here the question is whether the fallback plan
  // itself survives spilling).
  private val gatedTargets = Seq("x245_bitext_mine_ann")
  private val threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def runAll(spark: org.apache.spark.sql.SparkSession)
      : Map[String, Seq[Seq[Any]]] = {
    val plain = targets.map { n =>
      n -> SparkEntry.queries(n)(spark, sfDir).collect().map(_.toSeq).toSeq
    }
    val prev = spark.conf.get(threshold)
    val gated =
      try {
        spark.conf.set(threshold, "1")
        gatedTargets.map { n =>
          n -> SparkEntry.queries(n)(spark, sfDir)
            .collect().map(_.toSeq).toSeq
        }
      } finally spark.conf.set(threshold, prev)
    (plain ++ gated).toMap
  }

  test("heaviest queries + gated fallback: results identical under forced spilling; spill metrics nonzero") {
    val constrained = Sessions.builder("local[8]", 8)
      // A tenth of the default unified-memory share plus a low force-spill
      // bar: every external sorter (shuffle writes, SMJ sorts, aggregate
      // fallbacks) spills after 2000 rows — the sf0.001 rendering of "the
      // partition does not fit".
      .config("spark.memory.fraction", "0.1")
      .config("spark.shuffle.spill.numElementsForceSpillThreshold", "2000")
      .config("spark.sql.windowExec.buffer.spill.threshold", "512")
      .config("spark.sql.sortMergeJoinExec.buffer.spill.threshold", "512")
      .getOrCreate()
    constrained.sparkContext.setLogLevel("WARN")
    @volatile var spilledBytes = 0L
    @volatile var spilledTasks = 0
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null && (m.memoryBytesSpilled > 0 || m.diskBytesSpilled > 0)) {
          spilledBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          spilledTasks += 1
        }
      }
    }
    constrained.sparkContext.addSparkListener(listener)
    val got = runAll(constrained)
    // Listener delivery is async — block until the bus has drained
    // instead of sleeping a fixed 3 s (r14 advice #3: on a loaded box the
    // bus can outlast any fixed sleep and the vacuity assertion fails
    // spuriously).
    org.apache.spark.sql.GraftInternal.flushListenerBus(constrained)
    constrained.sparkContext.removeSparkListener(listener)
    constrained.stop()
    assert(spilledTasks > 0 && spilledBytes > 0,
      s"no task spilled ($spilledTasks tasks, $spilledBytes bytes) — the " +
        "constrained session failed to constrain; the assertion is vacuous")

    val normal = Sessions.local(8)
    val ref = runAll(normal)
    (targets ++ gatedTargets).foreach { n =>
      assert(got(n) == ref(n),
        s"$n diverges under forced spilling (${got(n).size} vs " +
          s"${ref(n).size} rows) — a spill path is dropping or reordering " +
          "data")
    }
  }

  test("Tables drops a stopped context's frames on the next cold insert") {
    val old = Sessions.local(8)
    Tables.documents(old, sfDir)
    Tables.embeddings(old, sfDir)
    assert(Tables.retainedFrames >= 2)
    old.stop()
    val fresh = Sessions.local(8)
    Tables.documents(fresh, sfDir)
    assert(Tables.retainedFrames == 1,
      "frames bound to the stopped context are still retained")
  }
}
