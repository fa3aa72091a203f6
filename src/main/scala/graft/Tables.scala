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
  /** `dir/name.parquet` as one resolved relation per session and content
    * key: the path, every file's `path:size:mtime` and the session's
    * parquet-inference confs (see [[parquet]]). A warm read runs no job
    * and resolves no data source.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** The session confs that change what parquet schema inference returns. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema")

  /** A synchronized map that evicts its least recently used entry past
    * `max` entries.
    */
  private[graft] def lru[K, V](max: Int): java.util.Map[K, V] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
          size() > max
      })

  /** Inferred schemas by content key: shared by every session. */
  private val schemas = lru[String, StructType](256)

  /** Resolved relations by (session, content key). A frame is bound to
    * the session that analyzed it, so the session is part of the key
    * (by identity) and no frame is served to another session; the bound
    * keeps at most 64 frames, and their sessions, reachable. Each cold
    * insert first drops the frames whose `SparkContext` is stopped.
    */
  private val frames = lru[(SparkSession, String), DataFrame](64)

  /** How many resolved frames the cache holds. */
  private[graft] def retainedFrames: Int = frames.size

  /** Reads the parquet file or directory at `path`, resolving it at most
    * once per session and content, and inferring its schema at most once
    * per content. Schema inference is a Spark job and resolving the data
    * source walks the source registry and lists the files; a serving path
    * would otherwise pay both on every request.
    *
    * The content key is the path, the `path:size:mtime` of every file
    * under it (one recursive listing) and the session's values of the
    * inference confs above (`nanosAsLong` reads a TIMESTAMP(NANOS) column
    * as a long, so the same file has two schemas). A warm call returns
    * the same `DataFrame`. A cold call in a session returns
    * `spark.read.schema(cached).parquet(path)` when another session
    * already inferred this content, and otherwise the plain
    * `spark.read.parquet(path)`, whose schema it records, so the cold
    * path reads nothing twice. Rewriting the files changes the key, so a
    * rewritten table is resolved and inferred again; a path that cannot
    * be listed (or has no files) is read without either cache.
    */
  private[graft] def parquet(spark: SparkSession, path: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val files = scala.util.Try {
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(root, true)
      val b = Seq.newBuilder[String]
      while (it.hasNext) {
        val f = it.next()
        b += s"${f.getPath}:${f.getLen}:${f.getModificationTime}"
      }
      b.result().sorted
    }.getOrElse(Nil)
    if (files.isEmpty) spark.read.parquet(path)
    else {
      val key = graft.operators.StoredTables.contentKey((Seq(path) ++ files ++
        inferenceConfs.map(c => s"$c=${spark.conf.getOption(c).getOrElse("")}")): _*)
      Option(frames.get((spark, key))).getOrElse {
        val df = Option(schemas.get(key)) match {
          case Some(schema) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            schemas.put(key, df.schema)
            df
        }
        frames.keySet.removeIf(_._1.sparkContext.isStopped)
        frames.put((spark, key), df)
        df
      }
    }
  }

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
    * negligible even at cluster scale, and it goes through [[parquet]]'s
    * caches: the branch reuses the probe's DataFrame, so an events read
    * infers at most once per content key. `FixtureSchemaSpec` guards this
    * loader against future fixture regenerations by comparing Spark's
    * min/max(ts) to the parquet footer statistics.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val read = scala.util.Try(parquet(spark, path))
    read.map(_.schema("ts").dataType) match {
      case scala.util.Success(TimestampNTZType) =>
        read.get
      case scala.util.Success(TimestampType) =>
        // Instant-typed column (isAdjustedToUTC=true, or NTZ inference
        // disabled) → UTC wall clock, SESSION-INDEPENDENTLY: the NTZ cast
        // materializes session-tz wall time, and two-arg convert_timezone
        // re-interprets from the session tz to UTC — the two session-tz
        // uses cancel, so a non-UTC driver session reads the same NTZ
        // values DuckDB does.
        read.get.withColumn("ts",
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
