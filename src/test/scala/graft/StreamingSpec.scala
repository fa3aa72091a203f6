package graft

import graft.streaming.StreamingOps

/** Streaming parity: the Structured-Streaming rendering must produce the
  * same rows as the batch query (the reference's unbounded-producer
  * semantics with deterministic quiescence — SURVEY §2.B streaming row).
  */
class StreamingSpec extends SparkSuite {

  test("streaming tumbling-window equals batch q15 result") {
    val batch = SparkEntry.queries("q15_tumbling_window")(spark, sfDir)
      .collect().toSeq
    val stream = StreamingOps.tumblingHourly(spark, sfDir, "stream_parity_sink")
      .collect().toSeq
    assert(stream == batch)
  }

  test("R15 backpressure: maxBatchFiles bounds each microbatch (pipe_buffer_size analog)") {
    import graft.pipeline.PipeGraph.PipeOptions
    def drained(opts: PipeOptions, sink: String) = {
      spark.catalog.dropTempView(sink)
      val q = StreamingOps.eventsStream(spark, sfDir, opts)
        .groupBy().count()
        .writeStream.outputMode("complete").format("memory").queryName(sink)
        .start()
      q.processAllAvailable()
      val batches = q.recentProgress.count(_.numInputRows > 0)
      q.stop()
      (batches, spark.table(sink).collect().head.getLong(0))
    }
    // bounded: 1 file per trigger over the 4 staged files → 4 data batches
    val (bBatches, bRows) = drained(PipeOptions(maxBatchFiles = Some(1)), "bp_bounded")
    // unbounded: everything available arrives in a single batch
    val (uBatches, uRows) = drained(PipeOptions(), "bp_unbounded")
    assert(bBatches == 4, s"bounded run took $bBatches data batches")
    assert(uBatches == 1, s"unbounded run took $uBatches data batches")
    assert(bRows == uRows, "backpressure must not change the drained result")
  }

  test("foreachBatch sink: custom per-microbatch writer sees every row exactly once") {
    import graft.pipeline.PipeGraph.PipeOptions
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("graft_feb").toString
    val batchIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    // bounded batches (maxBatchFiles=1 over the 4 staged files) so the
    // custom sink demonstrably runs once per microbatch
    val q = StreamingOps.eventsStream(spark, sfDir, PipeOptions(maxBatchFiles = Some(1)))
      .select("event_id")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batchIds.synchronized { batchIds += id }
        batch.write.mode("append").parquet(s"$out/sink")
        () // foreachBatch needs the scala.Function return, not a value
      }
      .start()
    q.processAllAvailable()
    q.stop()
    assert(batchIds.size == 4, s"expected 4 microbatches, saw $batchIds")
    val written = spark.read.parquet(s"$out/sink")
    val expected = Tables.events(spark, sfDir).count()
    assert(written.count() == expected)
    assert(written.distinct().count() == expected, "duplicate rows in custom sink")
  }

  test("Trigger.AvailableNow drains, self-terminates, and resumes exactly-once from checkpoint") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_an").toString
    val src = s"$tmp/src"; val ckpt = s"$tmp/ckpt"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))

    val sink = s"$tmp/sink"
    spark.range(1, 11).select(col("id").as("v"))
      .coalesce(1).write.mode("append").parquet(src)
    val first = StreamingOps.drainAvailableNow(spark, src, schema, ckpt, sink)
      .collect().map(_.getLong(0)).sorted.toSeq
    // the query terminated on its own (awaitTermination returned) and
    // drained exactly the start-time backlog
    assert(first == (1L to 10L))

    // new files arrive; a fresh drain from the SAME checkpoint must
    // process only them (offsets carried across runs) — the sink then
    // holds each row exactly once, no reprocessing
    spark.range(11, 16).select(col("id").as("v"))
      .coalesce(1).write.mode("append").parquet(src)
    val second = StreamingOps.drainAvailableNow(spark, src, schema, ckpt, sink)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(second == (1L to 15L), s"resume broke exactly-once: $second")
  }

  test("flatMapGroupsWithState sessionization equals batch x19 on a drained stream") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val ev = SparkEntry.queries("x19_sessionize")(spark, sfDir).collect().toSeq

    val src = MemoryStream[(Long, Long, Long)]
    val input = Tables.events(spark, sfDir)
      .selectExpr("user_id", "unix_micros(CAST(ts AS TIMESTAMP)) AS us", "event_id")
      .as[(Long, Long, Long)].collect().toSeq
    // feed in two chunks to exercise cross-batch state merging
    val (a, b) = input.splitAt(input.length / 2)
    val q = StreamingOps.sessionizeStream(spark, src.toDS())
      .writeStream.outputMode("update").format("memory")
      .queryName("sessionize_sink").start()
    src.addData(a)
    q.processAllAvailable()
    src.addData(b)
    q.processAllAvailable()
    q.stop()
    // update mode re-emits revised sessions with a state version; keep
    // only each user's latest revision (the drained-stream answer).
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, max}
    val sink = spark.table("sessionize_sink")
    val latest = sink.withColumn("maxv",
        max(col("version")).over(Window.partitionBy("user_id")))
      .filter(col("version") === col("maxv"))
    val streamed = latest
      .select("user_id", "session_id", "n_events", "first_event", "dur_us")
      .orderBy("user_id", "session_id").collect().toSeq
    val batch = ev.map(r => org.apache.spark.sql.Row(
      r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(streamed.map(_.toSeq) == batch.map(_.toSeq))
  }

  test("TTL sessionization: closed sessions are emitted once and evicted from state") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val min = 60L * 1000000L // one minute in µs
    val base = 1600000000000000L
    val src = MemoryStream[(Long, Long, Long)]
    val q = StreamingOps.sessionizeStreamTtl(spark,
        src.toDS().toDF("user_id", "us", "event_id"))
      .writeStream.outputMode("append").format("memory")
      .queryName("sessionize_ttl_sink").start()
    // user 1: events at 0 and 10min (session A), then 100min (B), 200min (C)
    // user 2: one event at 0 (session D), nothing after
    src.addData((1L, base, 101L), (1L, base + 10 * min, 102L), (2L, base, 201L))
    q.processAllAvailable()
    src.addData((1L, base + 100 * min, 103L))
    q.processAllAvailable() // watermark → 100min: D times out (evicted)
    src.addData((1L, base + 200 * min, 104L))
    q.processAllAvailable() // watermark → 200min: A flushed, B+C still open
    val emitted = spark.table("sessionize_ttl_sink")
      .collect().map(_.toSeq).toSet
    val stateRows = q.recentProgress.flatMap(_.stateOperators)
      .lastOption.map(_.numRowsTotal)
    q.stop()
    assert(emitted == Set(
      Seq(2L, 1L, 1L, 201L, 0L),            // D: closed by timeout, state removed
      Seq(1L, 1L, 2L, 101L, 10 * min)))     // A: flushed once watermark passed
    // only user 1 (open sessions B, C) may remain in the state store
    assert(stateRows.contains(1L))
  }

  test("PipeGraph carries an unbounded streaming producer end-to-end") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions._

    // The reference's infinite producer ("simply never returning None")
    // through the SAME PipeGraph API as batch: producer emits a streaming
    // DataFrame, stages are ordinary transforms, the consumer attaches
    // the streaming sink and drains (Pipeline::wait ≡ processAllAvailable).
    val src = MemoryStream[(Long, String)]
    val g = graft.pipeline.PipeGraph.builder
      .producer("events")(_ => src.toDS().toDF("id", "kind"))
      .stage("events", "counted") { df =>
        df.filter(col("kind") =!= "skip").groupBy("kind").count()
      }
      .consumer("counted") { df =>
        val q = df.writeStream.outputMode("complete")
          .format("memory").queryName("pg_stream_sink").start()
        q.processAllAvailable()
        q.stop()
      }
      .build()
      .fold(err => throw new IllegalStateException(err), g => g)
    src.addData((1L, "a"), (2L, "b"), (3L, "skip"), (4L, "a"))
    g.run(spark)
    val out = spark.table("pg_stream_sink")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out == Map("a" -> 2L, "b" -> 1L))
  }

  test("mapGroupsWithState running totals (stateful stage idiom)") {
    import spark.implicits._
    val input = Seq((1L, 2.0), (1L, 3.0), (2L, 10.0)).toDS()
    val out = StreamingOps.runningTotals(spark, input)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(out == Map(1L -> 5.0, 2L -> 10.0))
  }

  test("RocksDB state store: stateful drains equal the default-provider results") {
    // The cluster-default state backend at scale (bounded heap, spill to
    // native storage) — exercised here on the two state shapes the suite
    // drains: symmetric join state (x56) and per-key agg/upsert state
    // (x119). The provider class is read at QUERY start, so a session-
    // level set + restore scopes it to these serial drains.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val rocks = "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"
    val prev = spark.conf.getOption(key)
    def time[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def joinRows(): Seq[(Long, Long)] =
      StreamingOps.streamStreamJoin(spark, sfDir, "rocks_x56_sink")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def upsertRows(): Seq[String] =
      StreamingOps.streamingUpsertMv(spark, sfDir)
        .collect().map(_.toString).toSeq
    val (j0, tj0) = time(joinRows())
    val (u0, tu0) = time(upsertRows())
    spark.conf.set(key, rocks)
    try {
      val (j1, tj1) = time(joinRows())
      val (u1, tu1) = time(upsertRows())
      assert(j1 == j0, "x56 join drain differs under RocksDB state store")
      assert(u1 == u0, "x119 upsert drain differs under RocksDB state store")
      assert(j0.nonEmpty && u0.nonEmpty)
      info(f"x56 drain: default $tj0%.2fs vs rocksdb $tj1%.2fs; " +
        f"x119: default $tu0%.2fs vs rocksdb $tu1%.2fs")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def causes(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq

  test("memory drain: a failing stream rethrows and leaves no query running") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, udf}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val boom = udf((v: Long) => {
      if (v > 0) throw new IllegalStateException("drain spec failure"); v })
    val src = MemoryStream[Long]
    src.addData(1L, 2L, 3L)
    val before = spark.streams.active.map(_.id).toSet
    val e = intercept[Exception] {
      StreamingOps.memoryDrain(src.toDF().select(boom(col("value")).as("v")),
        "drain_fail_sink", org.apache.spark.sql.streaming.OutputMode.Append())
    }
    assert(causes(e).exists(m => m != null && m.contains("drain spec failure")),
      s"unexpected failure: $e")
    assert(spark.streams.active.filterNot(q => before(q.id)).isEmpty,
      "the failed drain left its query registered")
  }

  test("recovery leg: only an expected injected crash is swallowed") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.StreamingQueryException
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def leg(message: String, failAtBatch: Option[Long]): Unit = {
      def crash(): Unit = throw new RuntimeException(message)
      val src = MemoryStream[Long]
      src.addData(1L)
      val q = src.toDF().writeStream
        .foreachBatch { (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) => crash() }
        .start()
      StreamingOps.awaitLeg(q, failAtBatch, "injected mid-drain crash")
    }
    // A leg run without failAtBatch is not supposed to die: rethrow.
    intercept[StreamingQueryException](leg("injected mid-drain crash at batch 0", None))
    // An expected leg that dies of something else: rethrow.
    intercept[StreamingQueryException](leg("unrelated batch failure", Some(0L)))
    // The expected injected crash: swallowed.
    leg("injected mid-drain crash at batch 0", Some(0L))
  }
}
