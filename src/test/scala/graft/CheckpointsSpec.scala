package graft

import graft.operators.CoPurchaseGraph
import graft.pipeline.PipeGraph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** A checkpoint scope frees what was made inside it, on its own thread or
  * on threads started inside it, when its body returns or throws, and
  * nothing else: not what an enclosing scope or no scope made, nor the
  * shared co-purchase table.
  */
class CheckpointsSpec extends SparkSuite {

  private def cp(n: Long): DataFrame =
    Checkpoints.local(spark.range(n).toDF("id").filter(col("id") % 2 === 0))

  private def persisted(df: DataFrame): Boolean = {
    val ids = df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }
    assert(ids.nonEmpty, "not a checkpoint")
    ids.forall(spark.sparkContext.getPersistentRDDs.contains)
  }

  test("a scope frees its checkpoints when its body returns and when it throws") {
    var made = Vector.empty[DataFrame]
    val n = Checkpoints.scope {
      made :+= cp(10)
      assert(persisted(made.last))
      made.last.count()
    }
    assert(n == 5 && !persisted(made.last))
    intercept[IllegalStateException](Checkpoints.scope {
      made :+= cp(20)
      throw new IllegalStateException("query failed")
    })
    assert(made.length == 2 && made.forall(!persisted(_)))
  }

  test("a scope frees a checkpoint made on a PipeGraph pool thread inside it") {
    var made: DataFrame = null
    var thread = ""
    val g = PipeGraph.builder
      .producer("in")(s => s.range(10).toDF("id"))
      .stage("in", "out") { df =>
        thread = Thread.currentThread.getName
        made = Checkpoints.local(df.filter(col("id") > 3))
        made
      }
      .consumer("out")(_.count())
      .build().toOption.get
    Checkpoints.scope {
      g.run(spark)
      assert(persisted(made))
    }
    assert(thread.startsWith("pipegraph-"), thread)
    assert(!persisted(made))
  }

  test("a scope leaves a checkpoint made outside any scope, and the shared co-purchase table") {
    val outside = cp(10)
    // Drop the table so the scope below derives it afresh.
    Checkpoints.release(CoPurchaseGraph.pairWeights(spark, sfDir))
    val shared = Checkpoints.scope {
      outside.count()
      CoPurchaseGraph.pairWeights(spark, sfDir)
    }
    assert(persisted(outside) && persisted(shared))
    assert(CoPurchaseGraph.pairWeights(spark, sfDir) eq shared)
    Checkpoints.release(outside)
  }

  test("a nested scope frees only its own checkpoints") {
    val outer = Checkpoints.scope {
      val outer = cp(10)
      val inner = Checkpoints.scope(cp(12))
      assert(!persisted(inner) && persisted(outer))
      outer
    }
    assert(!persisted(outer))
  }

  test("local returns a checkpoint unchanged and materializes an RDD-backed frame") {
    val once = cp(10)
    assert(Checkpoints.local(once) eq once)
    val rddBacked = spark.createDataFrame(once.rdd, once.schema)
    val again = Checkpoints.local(rddBacked)
    assert(!(again eq rddBacked) && persisted(again))
    Seq(once, again).foreach(Checkpoints.release)
  }

  test("counted on an empty frame returns 0 in 1 job") {
    val ((empty, n), jobs) =
      jobsOf(Checkpoints.counted(spark.range(10).toDF("id").filter(col("id") < 0)))
    assert(n == 0L && jobs == 1, s"$n rows in $jobs jobs")
    assert(empty.count() == 0L)
    Checkpoints.release(empty)
  }
}
