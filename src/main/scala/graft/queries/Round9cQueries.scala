package graft.queries

import graft.{Checkpoints, QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-9c: distribution-drift statistics and schema-drift-tolerant
  * ingest — the monitoring/ingest edges of a production corpus pipeline.
  */
object Round9cQueries {

  /** x180: two-sample Kolmogorov–Smirnov drift test between the `click`
    * and `purchase` value distributions — the statistically-grounded
    * upgrade of x153's frequency-grid drift report: D = max_x |F1(x) −
    * F2(x)| detects ANY distributional change (location, scale, shape),
    * not just vocabulary shifts.
    *
    * Exactness: the 2-decimal fixture values map to integer cents
    * (`round(value*100)` — monotone, tie-preserving), per-point counts
    * are integers, and the D numerator is the integer max of
    * |c1·n2 − c2·n1| over pooled points — so the statistic is a pair of
    * exact integers (d_num, d_den = n1·n2); the only float ops are the
    * final significance comparison (exactly-rounded IEEE ops written
    * identically on both engines, x89 precedent) and the cents→value
    * display division.
    *
    * Scale: the running ECDF counts are THE global-cumsum trap, rendered
    * with x159's two-phase scan — per-point counts hash-aggregate on
    * cents; cents DIV 2048 forms value-RANGE buckets (a prefix of the
    * ordering key, so per-bucket cumsums are segments of the global one);
    * within-bucket windows partition by bucket; bucket offsets are a
    * bounded B² self-join broadcast back. The final argmax is a 1-row
    * TakeOrdered. No unpartitioned window, no driver loop.
    */
  private def ksDrift(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    ksStatistic(Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(round(col("value") * 100).cast("long").as("cents"),
        col("event_type")))

  /** The KS core over (cents, event_type ∈ {click, purchase}) rows —
    * exposed separately so the property spec can drive it with generated
    * samples against a plain-Scala reference.
    */
  def ksStatistic(ev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val pts = ev.groupBy("cents")
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
        .as("k1"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("k2"))
    // feeds both the window and the totals aggregate
    val bucketed = Checkpoints.local(pts.withColumn("bucket", expr("cents DIV 2048")))
    val w = Window.partitionBy("bucket").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, 0)
    val inBucket = bucketed
      .withColumn("c1b", sum(col("k1")).over(w))
      .withColumn("c2b", sum(col("k2")).over(w))
    val totals = bucketed.groupBy("bucket")
      .agg(sum(col("k1")).as("t1"), sum(col("k2")).as("t2"))
    val offsets = totals.as("a").join(totals.as("b"),
        col("b.bucket") < col("a.bucket"), "left")
      .groupBy(col("a.bucket").as("bucket"))
      .agg(coalesce(sum(col("b.t1")), lit(0L)).as("off1"),
        coalesce(sum(col("b.t2")), lit(0L)).as("off2"))
    // Sample sizes from the (checkpointed) bucket totals — summing `pts`
    // directly would re-scan and re-aggregate the whole events table.
    val n = totals.agg(sum(col("t1")).as("n1"), sum(col("t2")).as("n2"))
    inBucket.join(broadcast(offsets), "bucket")
      .crossJoin(broadcast(n))
      .select(col("cents"), col("n1"), col("n2"),
        abs((col("off1") + col("c1b")) * col("n2") -
          (col("off2") + col("c2b")) * col("n1")).as("diff"))
      .orderBy(col("diff").desc, col("cents").asc)
      .limit(1)
      .select((col("cents").cast("double") / 100.0).as("at_value"),
        col("diff").as("d_num"), (col("n1") * col("n2")).as("d_den"),
        col("n1"), col("n2"),
        (col("diff").cast("double") /
          (col("n1") * col("n2")).cast("double") >
          lit(1.36) * sqrt((col("n1") + col("n2")).cast("double") /
            (col("n1") * col("n2")).cast("double"))).as("significant"))
  }

  private val ksDriftSql =
    """WITH ev AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS cents, event_type
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      | pts AS (
      |  SELECT cents,
      |         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS k1,
      |         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS k2
      |  FROM ev GROUP BY 1),
      | n AS (SELECT CAST(sum(k1) AS BIGINT) AS n1,
      |              CAST(sum(k2) AS BIGINT) AS n2 FROM pts),
      | ecdf AS (
      |  SELECT cents,
      |         CAST(sum(k1) OVER (ORDER BY cents
      |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c1,
      |         CAST(sum(k2) OVER (ORDER BY cents
      |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c2
      |  FROM pts),
      | top AS (
      |  SELECT cents, n1, n2, abs(c1 * n2 - c2 * n1) AS diff
      |  FROM ecdf, n ORDER BY diff DESC, cents ASC LIMIT 1)
      |SELECT CAST(cents AS DOUBLE) / 100.0 AS at_value,
      |       CAST(diff AS BIGINT) AS d_num, n1 * n2 AS d_den, n1, n2,
      |       CAST(diff AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) >
      |         1.36 * sqrt(CAST(n1 + n2 AS DOUBLE)
      |           / CAST(n1 * n2 AS DOUBLE)) AS significant
      |FROM top""".stripMargin

  /** x181: schema-drift-tolerant JSON-lines ingest — the upstream-feed
    * reality a 100 TB pipeline lives with: a producer adds a field
    * mid-stream, and half the landed files carry the old shape. The
    * staging here derives two deterministic JSON batches from the events
    * fixture (even event_ids land WITHOUT `value` — the legacy shape; odd
    * ids carry it), and the read applies ONE explicit union schema: the
    * missing field surfaces as NULL, never a crash, never inference (at
    * scale, schema inference is a full extra pass AND nondeterministic
    * under drift — an explicit schema is the only contract).
    *
    * The aggregate separates presence from value (rows, rows_with_value,
    * decimal sum of present values), so downstream sees the drift
    * boundary instead of silently averaging over phantom zeros. Oracle
    * replays the even/odd derivation straight from the parquet fixture.
    */
  private def jsonSchemaDrift(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val ev = Tables.events(s, dir).select("event_id", "event_type", "value")
    // Staged once per content key of the fixture (Staging.stage: keying
    // on the dir alone would silently reuse stale staged JSON across a
    // fixture regeneration, the r7 incident class).
    val staged = graft.operators.Staging.stage("graft_json_", dir,
        Seq("events.parquet"), "") { tmp =>
      ev.filter(col("event_id") % 2 === 0).select("event_id", "event_type")
        .write.mode("overwrite").json(s"$tmp/legacy")
      ev.filter(col("event_id") % 2 === 1)
        .write.mode("overwrite").json(s"$tmp/current")
    }
    val unionSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))
    s.read.schema(unionSchema)
      .json(s"$staged/legacy", s"$staged/current")
      .groupBy("event_type")
      .agg(count(lit(1)).as("rows"),
        count(col("value")).as("rows_with_value"),
        graft.QueryDef.dsum(coalesce(col("value"), lit(0.0))).as("s"))
      .orderBy("event_type")
  }

  // rows_with_value counts `value` (not the odd-id predicate): a NULL
  // value in a current-shape row is dropped by Spark's JSON writer
  // (ignoreNullFields) and reads back as NULL — the oracle must count the
  // surviving VALUES, or a future fixture with a null `value` would
  // diverge the two sides.
  private val jsonSchemaDriftSql =
    s"""SELECT event_type, count(*) AS rows,
       |       count(CASE WHEN event_id % 2 = 1 THEN value END)
       |         AS rows_with_value,
       |       ${graft.QueryDef.dsumSql(
            "CASE WHEN event_id % 2 = 1 THEN value ELSE 0.0 END")} AS s
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("x180_ks_drift", ksDrift, Some(ksDriftSql)),
    QueryDef("x181_json_schema_drift", jsonSchemaDrift,
      Some(jsonSchemaDriftSql)))
}
