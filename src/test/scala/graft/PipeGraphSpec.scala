package graft

import graft.pipeline.PipeGraph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

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

  test("cycle that never converges hits maxIterations") {
    val g = PipeGraph.builder
      .inputs("loop", seq(Seq(1)))
      .stage("loop", "loop")(df => df.select((col("v") + 1).as("v")))
      .build().toOption.get
    val e = intercept[IllegalStateException](g.run(spark, maxIterations = 5))
    assert(e.getMessage.contains("did not converge"))
  }
}
