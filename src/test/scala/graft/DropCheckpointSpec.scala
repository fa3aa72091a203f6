package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerUnpersistRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** `Checkpoints.release` frees each checkpointed RDD of a plan once,
  * however often the plan holds it, and a scope does not free a released
  * checkpoint again.
  */
class DropCheckpointSpec extends SparkSuite {

  private def rddId(cp: DataFrame): Int = {
    val Seq(id) = cp.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }
    id
  }

  /** The RDD ids `body` unpersists, one entry per removal. */
  private def removalsDuring(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val key = "graft.spec.unpersistTag"
    val tag = java.util.UUID.randomUUID().toString
    val removals = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
        removals.add(e.rddId)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag)) done.countDown()
    }
    sc.addSparkListener(listener)
    try {
      body
      // Delivered in order: once the sentinel job's start arrives, every
      // removal posted before it has arrived too.
      sc.setLocalProperty(key, tag)
      sc.parallelize(Seq(1), 1).count()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
    removals.toArray.toSeq.map(_.asInstanceOf[Int])
  }

  test("dropping a self-join of one checkpoint unpersists its RDD exactly once") {
    val cp = spark.range(10).toDF("id").localCheckpoint()
    val joined = cp.join(cp.select(col("id").as("id2")), col("id") === col("id2"))
    val n = removalsDuring(Checkpoints.release(joined)).count(_ == rddId(cp))
    assert(n == 1, s"RDD ${rddId(cp)} was unpersisted $n times")
  }

  test("a checkpoint released inside its scope is not unpersisted again when the scope closes") {
    var cp: DataFrame = null
    val removals = removalsDuring(Checkpoints.scope {
      cp = Checkpoints.local(spark.range(10).toDF("id").filter(col("id") > 2))
      Checkpoints.release(cp)
    })
    val n = removals.count(_ == rddId(cp))
    assert(n == 1, s"RDD ${rddId(cp)} was unpersisted $n times")
  }
}
