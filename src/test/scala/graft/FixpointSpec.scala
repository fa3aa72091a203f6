package graft

import graft.operators.GraphLoops
import graft.operators.GraphLoops.Iterate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `GraphLoops.fixpoint` owns the lifecycle of every checkpointed driver
  * loop: each round's iterate is checkpointed, the prior iterate and the
  * round's scratch are freed, the probe stops the loop on the two
  * materialized iterates, and a budgeted loop runs its budget and no
  * probe job. The budgeted queries that run in it (x226, x201, x43) keep
  * the construction-time job counts they had as hand-written loops.
  */
class FixpointSpec extends SparkSuite {

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def backingIds(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.toSet

  /** One counter row, checkpointed. */
  private def counter: DataFrame =
    spark.range(1).select(col("id").as("x")).localCheckpoint()

  private def value(df: DataFrame): Long = df.head().getLong(0)

  test("after N rounds only the final iterate stays checkpointed") {
    val before = persistedIds
    // Every prior iterate and scratch frame stays strongly reachable, so
    // only an explicit drop (not the context cleaner) can free its blocks.
    val seen = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val (last, rounds) = GraphLoops.fixpoint(counter, maxRounds = 5) { (cur, _) =>
      val scratch = cur.select((col("x") + 1).as("x")).localCheckpoint()
      seen ++= Seq(cur, scratch)
      Iterate(scratch.select((col("x") * 2).as("x")), scratch)
    }
    assert(rounds == 5 && seen.size == 10)
    assert(value(last) == 62L) // x -> 2(x + 1), five times from 0
    val left = persistedIds -- before
    assert(left == backingIds(last),
      s"blocks left after the loop: $left, final iterate: ${backingIds(last)}")
    Checkpoints.release(last)
  }

  test("a probe stop and a budget stop each report their round count") {
    val reaches3 = (_: DataFrame, next: DataFrame, _: Int) => value(next) >= 3L
    val step = (cur: DataFrame, _: Int) => Iterate(cur.select((col("x") + 1).as("x")))
    val (stopped, probeRounds) =
      GraphLoops.fixpoint(counter, maxRounds = 10, Some(reaches3))(step)
    assert(probeRounds == 3 && value(stopped) == 3L)
    val (capped, budgetRounds) =
      GraphLoops.fixpoint(counter, maxRounds = 4,
        Some((_: DataFrame, _: DataFrame, _: Int) => false))(step)
    assert(budgetRounds == 4 && value(capped) == 4L)
    // The probe sees the round number too.
    val (_, byRound) = GraphLoops.fixpoint(counter, maxRounds = 10,
      Some((_: DataFrame, _: DataFrame, r: Int) => r == 2))(step)
    assert(byRound == 2)
    Seq(stopped, capped).foreach(Checkpoints.release)
  }

  test("a budgeted run with no probe runs exactly one job per round") {
    val init = counter
    val ((last, rounds), jobs) = jobsOf(GraphLoops.fixpoint(init, maxRounds = 6) {
      (cur, r) => Iterate(cur.select((col("x") + r).as("x")))
    })
    assert(rounds == 6 && jobs == 6, s"$jobs jobs for $rounds rounds")
    assert(value(last) == 21L)
    Checkpoints.release(last)
  }

  // Construction-time jobs of the budgeted loop queries, as measured on
  // the hand-written loops they replaced (sf0.001, shared co-purchase
  // table and schema cache warm), less the two a checkpoint-then-count
  // saves when the count is observed in the checkpoint's own job (x201's
  // initial labels, sized for the broadcast gate: 25 -> 23).
  Seq("x226_graph_bfs" -> 30, "x201_lpa_communities" -> 23,
      "x43_dedup_clusters" -> 22).foreach { case (name, expected) =>
    test(s"$name runs $expected jobs at construction") {
      val build = SparkEntry.queries(name)
      build(spark, sfDir)
      val (_, jobs) = jobsOf(build(spark, sfDir))
      assert(jobs == expected)
    }
  }
}
