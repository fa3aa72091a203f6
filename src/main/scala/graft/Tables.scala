package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType, TimestampNTZType, TimestampType}

/** Parquet table loaders for the driver-generated star schema (TESTDATA.md).
  *
  * Scale notes (100 TB design): all readers go through `spark.read.parquet`
  * so Catalyst's parquet source handles column pruning + predicate pushdown;
  * at cluster scale the same call reads a partitioned directory tree and
  * partition pruning applies unchanged. Nothing here collects to the driver.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")

  /** The events columns with `ts` as a raw long: the legacy nanos fixture
    * as read, and the staged stream files (epoch micros).
    */
  private[graft] val rawEventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** `events.ts` has shipped in two parquet encodings across fixture
    * generations: standard TIMESTAMP(MICROS) (current), and TIMESTAMP(NANOS)
    * (legacy), which Spark's schema inference rejects outright unless
    * `spark.sql.legacy.parquet.nanosAsLong` is set. Rather than assume a
    * unit — assuming nanos against a micros file silently shrinks every
    * timestamp 1000× — probe the footer via schema inference:
    *   - inference succeeds with a timestamp type → read normally, cast to
    *     TIMESTAMP_NTZ (matches DuckDB's naive reading of isAdjustedToUTC=false);
    *   - inference fails (nanos file) → fall back to an explicit LongType
    *     schema and convert raw nanos with `DIV 1000` (integer division:
    *     nanos ~1.7e18 exceed double's 2^53 exact range, so `/ 1000` would
    *     corrupt low bits).
    * The probe reads only the parquet footer (no data scan), so its cost is
    * negligible even at cluster scale. `FixtureSchemaSpec` guards this
    * loader against future fixture regenerations by comparing Spark's
    * min/max(ts) to the parquet footer statistics.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val inferred = scala.util.Try(spark.read.parquet(path).schema("ts").dataType)
    inferred match {
      case scala.util.Success(TimestampNTZType) =>
        spark.read.parquet(path)
      case scala.util.Success(TimestampType) =>
        // Instant-typed column (isAdjustedToUTC=true, or NTZ inference
        // disabled) → UTC wall clock, SESSION-INDEPENDENTLY: the NTZ cast
        // materializes session-tz wall time, and two-arg convert_timezone
        // re-interprets from the session tz to UTC — the two session-tz
        // uses cancel, so a non-UTC driver session reads the same NTZ
        // values DuckDB does.
        spark.read.parquet(path).withColumn("ts",
          expr("convert_timezone('UTC', CAST(ts AS TIMESTAMP_NTZ))"))
      case scala.util.Success(LongType) =>
        // nanosAsLong inference: legacy TIMESTAMP(NANOS) surfaced as raw longs.
        spark.read.schema(rawEventsSchema).parquet(path)
          .withColumn("ts", expr("CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)"))
      case other =>
        // Any other inference result (a new encoding, or an inference failure
        // that isn't the known nanos case) must fail loudly: routing it to the
        // nanos DIV-1000 branch would recreate the silent 1000x-shrink this
        // probe exists to kill.
        throw new IllegalStateException(
          s"events.parquet ts column has unrecognized encoding (inferred: $other); " +
            "expected TIMESTAMP_NTZ, TIMESTAMP, or legacy nanos-as-LongType " +
            "(a TIMESTAMP(NANOS) file needs spark.sql.legacy.parquet.nanosAsLong=true " +
            "to infer — Sessions.local sets it)")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
