package graft

import java.util.Properties
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import graft.pipeline.PipeGraph
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftInternal}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.jdk.CollectionConverters._

/** Mirrors the reference's builder-validation and end-to-end pipeline tests
  * (`/root/reference/tests/pipeline_tests.rs`, `tests/stage_tests.rs`).
  */
class PipeGraphSpec extends SparkSuite {

  private def seq(values: Seq[Int]): org.apache.spark.sql.SparkSession => DataFrame =
    s => { import s.implicits._; values.toDF("v") }

  // --- validation (pipeline_tests.rs:7-41 / builder.rs:508-510, mod.rs:399-421)

  test("build rejects pipeline with no producer") {
    val r = PipeGraph.builder
      .stage("a", "b")(identity)
      .consumer("b")(_ => ())
      .build()
    assert(r == Left("pipeline must have at least one producer"))
  }

  test("build rejects duplicate reader on one pipe") {
    val r = PipeGraph.builder
      .inputs("a", seq(Seq(1)))
      .stage("a", "b")(identity)
      .stage("a", "c")(identity)
      .consumer("b")(_ => ())
      .consumer("c")(_ => ())
      .build()
    assert(r == Left("reader was already used"))
  }

  test("build rejects open-ended pipe (written, never read)") {
    val r = PipeGraph.builder
      .inputs("a", seq(Seq(1)))
      .build()
    assert(r == Left("pipeline has open-ended pipe: 'a'"))
  }

  // --- linear map-reduce (lib.rs:458-480: ["a","bb","ccc"] → +"!" → Σlen = 9)

  test("linear pipeline: map then reduce sum of lengths = 9") {
    var result = 0L
    val g = PipeGraph.builder
      .inputs("in", s => { import s.implicits._; Seq("a", "bb", "ccc").toDF("v") })
      .stage("in", "mapped")(df => df.select(concat(col("v"), lit("!")).as("v")))
      .consumer("mapped")(df =>
        result = df.agg(sum(length(col("v")))).head().getLong(0))
      .build().toOption.get
    g.run(spark)
    assert(result == 9)
  }

  // --- branching fan-out + fan-in (mod.rs:292-329: odds sum 25, evens sum 30)

  test("branching stage: odd/even split sums 25/30, fan-in total 55") {
    var odd, even, total = 0L
    val g = PipeGraph.builder
      .inputs("nums", seq(1 to 10))
      .branchingStage("nums", Seq("odds", "evens"))(df =>
        Seq(df.filter(col("v") % 2 === 1), df.filter(col("v") % 2 === 0)))
      .stage("odds", "merged")(identity)
      .also(b => b.stage("evens", "merged")(identity)) // second writer → fan-in
      .consumer("merged")(df => total = df.agg(sum("v")).head().getLong(0))
      .build().toOption.get
    val pipes = g.run(spark)
    odd = pipes("odds").agg(sum("v")).head().getLong(0)
    even = pipes("evens").agg(sum("v")).head().getLong(0)
    assert(odd == 25 && even == 30 && total == 55)
  }

  // --- branching inputs/producer (lib.rs:331-335, stage_tests.rs sums 45/90)

  test("branching producer: positional outputs reach their pipes (sums 45/90)") {
    var s1, s2 = 0L
    val g = PipeGraph.builder
      .branchingProducer(Seq("ones", "doubles")) { s =>
        import s.implicits._
        Seq((1 to 9).toDF("v"), (1 to 9).map(_ * 2).toDF("v"))
      }
      .consumer("ones")(df => s1 = df.agg(sum("v")).head().getLong(0))
      .consumer("doubles")(df => s2 = df.agg(sum("v")).head().getLong(0))
      .build().toOption.get
    g.run(spark)
    assert(s1 == 45 && s2 == 90)
  }

  test("a branching producer calls make once per run") {
    val calls = new AtomicInteger
    var s1, s2 = 0L
    val g = PipeGraph.builder
      .branchingProducer(Seq("ones", "doubles")) { s =>
        calls.incrementAndGet()
        import s.implicits._
        Seq((1 to 9).toDF("v"), (1 to 9).map(_ * 2).toDF("v"))
      }
      .consumer("ones")(df => s1 = df.agg(sum("v")).head().getLong(0))
      .consumer("doubles")(df => s2 = df.agg(sum("v")).head().getLong(0))
      .build().toOption.get
    g.run(spark)
    assert(calls.get == 1, s"make ran ${calls.get} times")
    assert(s1 == 45 && s2 == 90)
  }

  test("branching inputs: heterogeneous per-pipe schemas (branch_inputs! analog)") {
    var names: Seq[String] = Nil
    var nums: Seq[Int] = Nil
    val g = PipeGraph.builder
      .branchingInputs(Seq("names", "nums"), s => {
        import s.implicits._
        Seq(Seq("a", "b").toDF("name"), Seq(10, 20).toDF("n"))
      })
      .consumer("names")(df => names = df.collect().map(_.getString(0)).sorted.toSeq)
      .consumer("nums")(df => nums = df.collect().map(_.getInt(0)).sorted.toSeq)
      .build().toOption.get
    g.run(spark)
    assert(names == Seq("a", "b") && nums == Seq(10, 20))
  }

  test("ordered stage option (R15 single-task mode) yields one partition") {
    var parts = -1
    val g = PipeGraph.builder
      .inputs("in", seq(1 to 100))
      .stage("in", "out", PipeGraph.PipeOptions(ordered = true))(identity)
      .consumer("out")(df => parts = df.rdd.getNumPartitions)
      .build().toOption.get
    g.run(spark)
    assert(parts == 1)
  }

  // --- flattener (builder.rs:315-328: [[1,2],[3,4,5]] → sum 15)

  test("flattener explodes nested lists, sum = 15") {
    var result = 0L
    val g = PipeGraph.builder
      .inputs("nested", s => {
        import s.implicits._
        Seq(Seq(1, 2), Seq(3, 4, 5)).toDF("v")
      })
      .flattener("nested", "flat", "v")
      .consumer("flat")(df => result = df.agg(sum("v")).head().getLong(0))
      .build().toOption.get
    g.run(spark)
    assert(result == 15)
  }

  // --- cycle (pipeline_tests.rs:136-208 crawler shape): frontier loop

  test("cyclic pipeline: counter loop emits 1..10 then terminates") {
    val g = PipeGraph.builder
      .inputs("frontier", seq(Seq(1)))
      .branchingStage("frontier", Seq("frontier", "out"))(df =>
        Seq(
          df.filter(col("v") < 10).select((col("v") + 1).as("v")),
          df))
      .consumer("out")(_ => ())
      .build().toOption.get
    val pipes = g.run(spark)
    val seen = pipes("out").collect().map(_.getInt(0)).sorted.toSeq
    assert(seen == (1 to 10))
  }

  test("task failure propagates and aborts the pipeline (stage_tests.rs:166-180)") {
    val g = PipeGraph.builder
      .inputs("in", seq(Seq(1, 2, 3)))
      .stage("in", "out") { df =>
        val boom = org.apache.spark.sql.functions.udf((v: Int) =>
          if (v >= 0) throw new RuntimeException("task panicked") else v)
        df.select(boom(col("v")).as("v"))
      }
      .consumer("out")(df => { df.collect(); () })
      .build().toOption.get
    val e = intercept[Exception](g.run(spark))
    assert(e.getMessage.contains("task panicked") ||
      Option(e.getCause).exists(_.getMessage.contains("task panicked")))
  }

  // --- once per run: a pipe is a cache boundary, released when run ends

  /** Rows 0..n-1 from a Range (not a LocalRelation, whose projections the
    * optimizer folds on the driver).
    */
  private def range(n: Int)(s: org.apache.spark.sql.SparkSession): DataFrame =
    s.range(0, n, 1, 4).toDF("v")

  /** A stage op that counts its row evaluations in `evals`. */
  private def counted(evals: org.apache.spark.util.LongAccumulator)(
      df: DataFrame): DataFrame = {
    val bump = udf((v: Long) => { evals.add(1); v })
    df.select(bump(col("v")).as("v"))
  }

  private def persistentRddIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("each batch pipe is computed once per run and released after it") {
    val evals = spark.sparkContext.longAccumulator("pipe_evals")
    val before = persistentRddIds
    var odds, evens = 0L
    val g = PipeGraph.builder
      .producer("in")(range(100))
      .stage("in", "scored")(counted(evals))
      .branchingStage("scored", Seq("odds", "evens"))(df =>
        Seq(df.filter(col("v") % 2 === 1), df.filter(col("v") % 2 === 0)))
      .consumer("odds")(df => odds = df.orderBy("v").collect().length.toLong)
      .consumer("evens")(df => evens = df.count())
      .build().toOption.get
    val pipes = g.run(spark)
    assert(odds == 50 && evens == 50)
    // Without the cache boundary every sink job (and the orderBy sample
    // job) re-ran the stage: >= 2x.
    assert(evals.value == 100, s"stage evaluated ${evals.value} times")
    assert(pipes.values.forall(_.storageLevel == StorageLevel.NONE))
    assert(persistentRddIds.subsetOf(before))
    // the returned map is lazy: still readable, recomputed on demand
    assert(pipes("evens").count() == evens)
  }

  test("a failing run releases every pipe it persisted") {
    val before = persistentRddIds
    var seen = Vector.empty[DataFrame]
    val g = PipeGraph.builder
      .inputs("in", range(50))
      .stage("in", "out") { df =>
        seen :+= df
        val boom = udf((v: Long) =>
          if (v >= 40) throw new RuntimeException("task panicked") else v)
        df.select(boom(col("v")).as("v"))
      }
      .consumer("out")(df => { seen :+= df; df.collect(); () })
      .build().toOption.get
    intercept[Exception](g.run(spark))
    assert(seen.length == 2)
    assert(seen.forall(_.storageLevel == StorageLevel.NONE))
    assert(persistentRddIds.subsetOf(before))
  }

  test("a pipe the caller already cached is used as is and stays cached") {
    val evals = spark.sparkContext.longAccumulator("cached_evals")
    val cached = counted(evals)(range(40)(spark)).cache()
    try {
      assert(cached.count() == 40 && evals.value == 40)
      var total = 0L
      val g = PipeGraph.builder
        .producer("in")(_ => cached)
        .stage("in", "out")(df => df.filter(col("v") % 2 === 0))
        .consumer("out")(df => total = df.count())
        .build().toOption.get
      g.run(spark)
      assert(total == 20)
      assert(evals.value == 40, "the caller's cache was bypassed")
      assert(cached.storageLevel != StorageLevel.NONE)
      assert(cached.count() == 40 && evals.value == 40)
    } finally cached.unpersist(blocking = true)
  }

  // --- dataflow: a node starts once its input pipes are complete

  /** Counts `latch` down and waits, bounded, for the others: only nodes
    * running at the same time can all meet.
    */
  private def meet(latch: CountDownLatch, met: ConcurrentLinkedQueue[Boolean]): Unit = {
    latch.countDown()
    met.add(latch.await(60, TimeUnit.SECONDS))
  }

  private def allMet(met: ConcurrentLinkedQueue[Boolean], n: Int): Boolean =
    met.asScala.toSeq == Seq.fill(n)(true)

  test("independent consumers run at the same time") {
    val latch = new CountDownLatch(2)
    val met = new ConcurrentLinkedQueue[Boolean]()
    var odds, evens = 0L
    val g = PipeGraph.builder
      .inputs("nums", seq(1 to 10))
      .branchingStage("nums", Seq("odds", "evens"))(df =>
        Seq(df.filter(col("v") % 2 === 1), df.filter(col("v") % 2 === 0)))
      .consumer("odds") { df => meet(latch, met); odds = df.count() }
      .consumer("evens") { df => meet(latch, met); evens = df.count() }
      .build().toOption.get
    g.run(spark)
    assert(allMet(met, 2), "the consumers did not run at the same time")
    assert(odds == 5 && evens == 5)
  }

  test("a fan-in pipe's reader starts only after every writer finished") {
    val latch = new CountDownLatch(2)
    val met = new ConcurrentLinkedQueue[Boolean]()
    val finished = new AtomicInteger
    var finishedAtRead = -1
    var total = 0L
    val g = PipeGraph.builder
      .inputs("a", seq(1 to 4))
      .inputs("b", seq(5 to 6))
      .stage("a", "merged") { df => meet(latch, met); finished.incrementAndGet(); df }
      .stage("b", "merged") { df =>
        meet(latch, met)
        Thread.sleep(300) // the later writer
        finished.incrementAndGet()
        df
      }
      .consumer("merged") { df =>
        finishedAtRead = finished.get
        total = df.agg(sum("v")).head().getLong(0)
      }
      .build().toOption.get
    g.run(spark)
    assert(allMet(met, 2), "the writers did not run at the same time")
    assert(finishedAtRead == 2 && total == 21)
  }

  test("every job of a run carries the caller's job group and local properties") {
    val sc = spark.sparkContext
    val starts = new ConcurrentLinkedQueue[Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.add(e.properties)
    }
    val latch = new CountDownLatch(2)
    val met = new ConcurrentLinkedQueue[Boolean]()
    var odds, evens = 0L
    val g = PipeGraph.builder
      .producer("in")(range(100))
      .branchingStage("in", Seq("odds", "evens"))(df =>
        Seq(df.filter(col("v") % 2 === 1), df.filter(col("v") % 2 === 0)))
      .consumer("odds") { df => meet(latch, met); odds = df.orderBy("v").collect().length }
      .consumer("evens") { df => meet(latch, met); evens = df.count() }
      .build().toOption.get
    sc.setJobGroup("pipegraph-spec-group", "a dataflow run")
    sc.setLocalProperty("pipegraph.spec.tag", "tagged")
    sc.addSparkListener(listener)
    try g.run(spark)
    finally {
      sc.clearJobGroup()
      sc.setLocalProperty("pipegraph.spec.tag", null)
      GraftInternal.flushListenerBus(spark)
      sc.removeSparkListener(listener)
    }
    assert(allMet(met, 2), "the consumers did not run at the same time")
    assert(odds == 50 && evens == 50)
    val props = starts.asScala.toSeq
    assert(props.nonEmpty)
    assert(props.forall(p => p.getProperty("spark.jobGroup.id") == "pipegraph-spec-group" &&
      p.getProperty("pipegraph.spec.tag") == "tagged"))
  }

  test("a cycle next to an independent branch converges to the same rows") {
    val latch = new CountDownLatch(2)
    val met = new ConcurrentLinkedQueue[Boolean]()
    var side = 0L
    val g = PipeGraph.builder
      .inputs("frontier", seq(Seq(1)))
      .inputs("side", seq(1 to 5))
      .branchingStage("frontier", Seq("frontier", "out")) { df =>
        if (latch.getCount > 0) meet(latch, met) // first round only
        Seq(df.filter(col("v") < 10).select((col("v") + 1).as("v")), df)
      }
      .consumer("out")(_ => ())
      .consumer("side") { df => meet(latch, met); side = df.count() }
      .build().toOption.get
    val pipes = g.run(spark)
    assert(allMet(met, 2), "the cycle and the branch did not run at the same time")
    assert(pipes("out").collect().map(_.getInt(0)).sorted.toSeq == (1 to 10))
    assert(side == 5)
  }

  test("a failing branch starts no dependent, its sibling finishes, nothing runs after run") {
    val sc = spark.sparkContext
    val before = persistentRddIds
    val jobStarts = new ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add(e.time)
    }
    val failed = new CountDownLatch(1)
    var siblingSawFailure = false
    val dependentStarted = new AtomicBoolean(false)
    val boom = new RuntimeException("branch a failed")
    val g = PipeGraph.builder
      .producer("in")(range(100))
      .branchingStage("in", Seq("a", "b"))(df =>
        Seq(df.filter(col("v") < 50), df.filter(col("v") >= 50)))
      .stage("a", "a2") { df => df.count(); failed.countDown(); throw boom }
      .consumer("a2")(_ => dependentStarted.set(true))
      .stage("b", "b2") { df =>
        siblingSawFailure = failed.await(60, TimeUnit.SECONDS)
        Thread.sleep(200)
        df.count() // a job of the run, started after the failure
        df
      }
      .consumer("b2")(df => { df.count(); () })
      .build().toOption.get
    sc.addSparkListener(listener)
    val (e, returned) = try {
      val e = intercept[RuntimeException](g.run(spark))
      val returned = System.currentTimeMillis()
      Thread.sleep(300) // time for a straggling job to start
      GraftInternal.flushListenerBus(spark)
      (e, returned)
    } finally sc.removeSparkListener(listener)
    assert(e eq boom)
    assert(siblingSawFailure, "the sibling branch did not run while the failure happened")
    assert(!dependentStarted.get, "a node that depends on the failed branch started")
    assert(persistentRddIds.subsetOf(before))
    assert(jobStarts.size >= 3)
    assert(jobStarts.asScala.forall(_ <= returned), "a job of the run started after run returned")
  }

  test("cycle that never converges hits maxIterations") {
    val g = PipeGraph.builder
      .inputs("loop", seq(Seq(1)))
      .stage("loop", "loop")(df => df.select((col("v") + 1).as("v")))
      .build().toOption.get
    val e = intercept[IllegalStateException](g.run(spark, maxIterations = 5))
    assert(e.getMessage.contains("did not converge"))
  }
}
