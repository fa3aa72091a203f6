package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** x225: CSV ingest through the REAL DataSource reader with
  * PERMISSIVE-mode quarantine — the landing-zone pattern for the messy
  * half of every corpus (log drops, partner feeds): parse what parses,
  * quarantine what doesn't, and account for both so the ingest is
  * lossless-by-count. Complements x181 (schema-drift JSON) and x131
  * (quarantine routing) with the third classic wire format.
  *
  * The CSV staging is DERIVED RELATIONALLY from the events table
  * (TimeCols epoch micros, no floats — float stringification is the one
  * step two engines would render differently) with every 13th event
  * corrupted (non-numeric user_id), so the DuckDB oracle never reads the
  * CSV: it replays the construction — corrupt ⇔ event_id % 13 = 5 — and
  * the hash gate then certifies the whole Spark CSV codepath (writer,
  * reader, PERMISSIVE null-out, corrupt-record capture) end to end
  * against construction-time truth.
  *
  * Scale: the staged file is read by the parallel CSV source (splittable,
  * schema supplied — no inference pass); the report is one
  * map-side-combinable aggregate. Staging is content-keyed and reused
  * across runs (the stagedEventsStream idiom).
  */
object CsvIngest {

  private def stage(spark: SparkSession, dir: String): String =
    Staging.stage("graft_csv_", dir, Seq("events.parquet"), "", "csv2") { tmp =>
      val uid = when(col("event_id") % 13 === 5,
        concat(lit("x"), col("user_id").cast("string")))
        .otherwise(col("user_id").cast("string"))
      // Fail-fast invariant (r11 advice): the staged lines are written by
      // concat_ws with NO quoting, so the single free-text field must not
      // carry the delimiter, a quote, or a newline — otherwise fields
      // would silently shift and diverge from the oracle, which replays
      // the construction rather than parsing. One map-side count at
      // staging time (staging runs once per content key).
      val nBad = Tables.events(spark, dir)
        .filter(col("event_type").rlike("[,\"\n\r]")).count()
      require(nBad == 0L,
        s"x225 staging invariant violated: $nBad event_type values carry " +
          "a CSV delimiter/quote/newline; staging would shift fields")
      Tables.events(spark, dir)
        .select(concat_ws(",",
          col("event_id"), uid, col("event_type"),
          graft.functions.TimeCols.ntzEpochMicros("ts")).as("value"))
        .coalesce(1)
        .write.mode("overwrite").text(tmp.toString)
    }.toString

  def ingest(spark: SparkSession, dir: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("ts_us", LongType),
      StructField("_bad", StringType)))
    val parsed = spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .csv(stage(spark, dir))
    parsed.groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("_bad").isNotNull.cast("long")).as("n_quarantined"),
        sum((col("_bad").isNull && col("user_id").isNotNull).cast("long"))
          .as("n_clean"),
        min(when(col("_bad").isNull, col("ts_us"))).as("first_ts_us"),
        max(when(col("_bad").isNull, col("ts_us"))).as("last_ts_us"))
      .orderBy("event_type")
  }

  private val ingestSql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
      |         event_id % 13 = 5 AS corrupt
      |  FROM events)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_quarantined,
      |       CAST(sum(CASE WHEN corrupt THEN 0 ELSE 1 END) AS BIGINT)
      |         AS n_clean,
      |       CAST(min(CASE WHEN NOT corrupt THEN ts_us END) AS BIGINT)
      |         AS first_ts_us,
      |       CAST(max(CASE WHEN NOT corrupt THEN ts_us END) AS BIGINT)
      |         AS last_ts_us
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef(
      "x225_csv_ingest",
      (s, dir) => ingest(s, dir),
      Some(ingestSql)))
}
