package graft

import graft.operators.{Dedup, FuzzyJoin, LineOps}
import graft.sources.CollectorSink
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Regression specs for the round-6 advisory findings: each test pins the
  * EDGE CASE the fix exists for, so a refactor can't silently reintroduce
  * the hole.
  */
class AdviceFixesSpec extends SparkSuite {

  private def withLevRule[A](f: => A): A = {
    if (!spark.experimental.extraOptimizations
        .contains(graft.functions.RewriteLevenshteinBound))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+
          graft.functions.RewriteLevenshteinBound
    f
  }

  // --- RewriteLevenshteinBound: strict forms at pathological k -----------

  /** Parquet-backed string pairs (incl. empty strings and NULLs) so the
    * optimizer can't collapse the projection into a LocalRelation before
    * the experimental rule runs.
    */
  private def pairs: DataFrame = Tables.documents(spark, sfDir).limit(40)
    .selectExpr("doc_id",
      "CASE WHEN doc_id % 7 = 0 THEN CAST(NULL AS STRING) " +
        "WHEN doc_id % 5 = 0 THEN '' ELSE left(text, 6) END AS a",
      "CASE WHEN doc_id % 11 = 0 THEN CAST(NULL AS STRING) " +
        "WHEN doc_id % 3 = 0 THEN left(text, 6) ELSE left(text, 5) END AS b")

  test("lev < Int.MinValue stays always-false after rewrite (no k-1 wrap)") {
    withLevRule {
      val df = pairs
        .selectExpr(s"levenshtein(a, b) < CAST(${Int.MinValue} AS INT) AS p")
      // The rewrite must fire (otherwise this tests plain levenshtein)…
      assert(df.queryExecution.optimizedPlan.toString.contains("graft_lev_leq"))
      // …and a vacuously-false predicate must stay false: k-1 at MinValue
      // wraps to Int.MaxValue, which would flip it to always-true.
      assert(df.collect().forall(r => r.isNullAt(0) || !r.getBoolean(0)))
    }
  }

  test("strict/non-strict forms agree with unrewritten levenshtein at k in -1..3") {
    withLevRule {
      val base = pairs.filter("a IS NOT NULL AND b IS NOT NULL")
      for (k <- -1 to 3) {
        val got = base.selectExpr("a", "b",
          s"levenshtein(a, b) < CAST($k AS INT) AS lt",
          s"levenshtein(a, b) <= CAST($k AS INT) AS le",
          s"CAST($k AS INT) > levenshtein(a, b) AS gt",
          s"CAST($k AS INT) >= levenshtein(a, b) AS ge")
        assert(got.queryExecution.optimizedPlan.toString.contains("graft_lev_leq"))
        got.collect().foreach { r =>
          val d = BoundedLevSpecOracle.lev(r.getString(0), r.getString(1))
          assert((r.getBoolean(2), r.getBoolean(3), r.getBoolean(4),
            r.getBoolean(5)) == (d < k, d <= k, k > d, k >= d),
            s"k=$k a=${r.getString(0)} b=${r.getString(1)}")
        }
      }
    }
  }

  test("NULL inputs stay NULL through the rewrite (projection context)") {
    withLevRule {
      val df = pairs.selectExpr("a", "b",
        "levenshtein(a, b) <= 1 AS p",
        s"levenshtein(a, b) < CAST(${Int.MinValue} AS INT) AS q")
      assert(df.queryExecution.optimizedPlan.toString.contains("graft_lev_leq"))
      val rows = df.collect()
      // Null-intolerant kernel: null in ⇒ null out, NOT false — a fold to
      // Literal(false) would have broken three-valued logic here.
      rows.foreach { r =>
        val anyNull = r.isNullAt(0) || r.isNullAt(1)
        assert(r.isNullAt(2) == anyNull && r.isNullAt(3) == anyNull)
      }
      assert(rows.exists(r => r.isNullAt(2)), "fixture must include NULLs")
      assert(rows.exists(r => !r.isNullAt(2)))
    }
  }

  // --- FuzzyJoin: empty strings emit no phantom deletion keys ------------

  test("lev1Join handles empty strings: \"\" matches itself and 1-char titles only") {
    import spark.implicits._
    val queries = Seq((1L, ""), (2L, "ab")).toDF("q_id", "q")
    val corpus = Seq((10L, ""), (11L, "a"), (12L, "ab"), (13L, "xyz"))
      .toDF("doc_id", "title")
    val got = FuzzyJoin.lev1Join(queries, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // "" ↔ "" dist 0; "" ↔ "a" dist 1 (blocked via D1("a") ∋ "");
    // "ab" ↔ "a"/"ab"/"" per exact distance; never "xyz".
    assert(got == Set((1L, 10L, 0L), (1L, 11L, 1L),
      (2L, 11L, 1L), (2L, 12L, 0L)))
  }

  // --- LineOps: empty/whitespace-only docs derive zero lines -------------

  test("linedDocs emits zero derived lines for empty and whitespace-only text") {
    import spark.implicits._
    // doc_ids chosen so neither boiler (%4) nor first-line (%6) injection
    // fires: the ONLY possible lines are the derived token chunks.
    val docs = Seq((1L, "web", ""), (5L, "web", "   "), (7L, "web", "one two"))
      .toDF("doc_id", "source", "text")
    val lines = LineOps.linedDocs(docs)
      .select(col("doc_id"), size(col("lines")).as("n"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    // Pre-fix, sequence(0, -1) = [0, -1] emitted TWO phantom empty lines.
    assert(lines == Map(1L -> 0, 5L -> 0, 7L -> 1))
  }

  // --- CollectorSink: content checksum holds for nested types ------------

  test("sink checksum is partitioning-independent for array/struct columns") {
    CollectorSink.clear("nested_a"); CollectorSink.clear("nested_b")
    val df: DataFrame = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(col("event_type"))).as("types"),
        struct(count(lit(1)).as("n"), max(col("event_id")).as("mx")).as("st"))
    df.repartition(3).write.format("graft.sources.CollectorSink")
      .option("name", "nested_a").mode("append").save()
    df.repartition(13, col("user_id")).sortWithinPartitions(col("st.n"))
      .write.format("graft.sources.CollectorSink")
      .option("name", "nested_b").mode("append").save()
    val (a, b) =
      (CollectorSink.result("nested_a").get, CollectorSink.result("nested_b").get)
    // The old toString render hashed UnsafeArrayData object identity —
    // different partitioning gave different checksums for nested schemas.
    assert(a.checksum == b.checksum && a.rows == b.rows && a.rows > 0)
  }

  // --- effectiveBroadcastBar: derived from Spark's threshold alone -------

  test("effectiveBroadcastBar: 64 MB at the default threshold, scaled below it, 0 when disabled") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.unset(key)
      assert(Dedup.effectiveBroadcastBar(spark) == 64L << 20)
      // 1 MB is a tenth of the 10 MB default: a tenth of 64 MB, floored.
      spark.conf.set(key, "1MB")
      assert(Dedup.effectiveBroadcastBar(spark) == 6710886L)
      for (v <- Seq("0", "-1")) {
        spark.conf.set(key, v)
        assert(Dedup.effectiveBroadcastBar(spark) == 0L, s"at $v")
      }
    } finally spark.conf.set(key, prev)
  }

  // The name predates the removal of the graft.*.broadcastMaxBytes keys;
  // a Spark threshold <= 0 is now the one way to reach bar 0.
  test("graft.*.broadcastMaxBytes <= 0 disables graft broadcasts (bar 0)") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    val d = spark.range(4).toDF("id")
    try {
      spark.conf.unset(key)
      val on = Dedup.effectiveBroadcastBar(spark)
      assert(on > 0 && !(Dedup.gatedBroadcast(d, 0L, on) eq d))
      for (v <- Seq("0", "-1")) {
        spark.conf.set(key, v)
        val bar = Dedup.effectiveBroadcastBar(spark)
        assert(bar == 0L, s"at $v")
        // Not even a 0-byte estimate is broadcast under bar 0.
        assert(Dedup.gatedBroadcast(d, 0L, bar) eq d, s"at $v")
      }
    } finally spark.conf.set(key, prev)
  }
}

/** Tiny reference Levenshtein for the spec's own oracle (full DP, no bound). */
private object BoundedLevSpecOracle {
  def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }
}
