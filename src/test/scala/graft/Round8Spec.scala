package graft

/** Invariant anchors for the round-8 changes. */
class Round8Spec extends SparkSuite {

  test("x152: the broadcast gate changes the plan, never the answer") {
    val q = SparkEntry.queries("x152_triangles")
    val base = q(spark, sfDir).collect().toSeq
    // A 1-byte threshold scales the bar down to 6 bytes, below any real
    // edge list, so the gate must take the fallback branch — no FORCED
    // broadcast hint in the plan. (AQE may still convert the join to a
    // broadcast at runtime from measured shuffle sizes; that is the
    // desired behavior — runtime stats refuse a GB-scale side where the
    // static hint could not.)
    def forcedBroadcasts(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.hint.leftHint.exists(_.strategy.nonEmpty) ||
              j.hint.rightHint.exists(_.strategy.nonEmpty) => j
      }.size
    // Two gated hints since r16: the closing probe e3 AND the wedge
    // build side e2 (the orientation-phase degree broadcasts sit behind
    // the localCheckpoint and never appear in the returned plan).
    assert(forcedBroadcasts(q(spark, sfDir)) == 2,
      "below the bar the wedge build side and the closing probe must " +
        "both carry the broadcast hint")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    try {
      val df = q(spark, sfDir)
      assert(df.collect().toSeq == base)
      assert(forcedBroadcasts(df) == 0,
        "edge list broadcast-hinted despite being past the broadcast bar")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    // broadcast disabled session-wide (threshold -1) is respected
    // absolutely: no hint, and (with adaptive conversion inheriting the
    // -1) no broadcast in the final plan either.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = q(spark, sfDir)
      assert(df.collect().toSeq == base)
      assert(forcedBroadcasts(df) == 0)
      assert(!df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("x157: drained streaming boilerplate removal equals the batch x140") {
    val stream = SparkEntry.queries("x157_stream_boilerplate")(spark, sfDir).collect().toSeq
    val batch = SparkEntry.queries("x140_line_boilerplate")(spark, sfDir).collect().toSeq
    assert(stream == batch)
    assert(stream.nonEmpty)
  }

  test("x159: packing manifest is complete and offset-consistent") {
    val rows = SparkEntry.queries("x159_sequence_pack")(spark, sfDir).collect()
    assert(rows.length == Tables.documents(spark, sfDir).count())
    assert(rows.map(_.getAs[Long]("seq_id")).min == 0)
    rows.foreach { r =>
      val off = r.getAs[Long]("seq_off")
      assert(off >= 0 && off < 2048)
    }
    // cum = seq_id*ctx + seq_off reconstructs each doc's global start
    // offset; the last-starting doc's start + length must equal the
    // corpus token total — the prefix-sum phases (per-bucket window +
    // broadcast bucket offsets) composed correctly end to end.
    val total = rows.map(_.getAs[Long]("n_tok")).sum
    val last = rows.maxBy(r => r.getAs[Long]("seq_id") * 2048 + r.getAs[Long]("seq_off"))
    assert(last.getAs[Long]("seq_id") * 2048 + last.getAs[Long]("seq_off") +
      last.getAs[Long]("n_tok") == total)
  }

  test("x56: the 6-hour horizon is non-degenerate on the 30-day fixture") {
    // The r7 verdict flagged the old 30-min horizon as near-degenerate
    // (23 rows at sf0.01). The widened interval must keep a real result
    // even at the smallest SF, and stay a strict subset of all
    // click-purchase user pairs (selectivity sanity).
    val rows = SparkEntry.queries("x56_stream_join")(spark, sfDir).count()
    assert(rows > 5, s"x56 near-degenerate again: $rows rows at sf0.001")
  }
}
