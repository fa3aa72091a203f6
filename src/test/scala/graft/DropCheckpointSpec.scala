package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerUnpersistRDD}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** `QueryDef.dropCheckpoint` frees each checkpointed RDD of a plan once,
  * however often the plan holds it.
  */
class DropCheckpointSpec extends SparkSuite {

  test("dropping a self-join of one checkpoint unpersists its RDD exactly once") {
    val cp = spark.range(10).toDF("id").localCheckpoint()
    val Seq(rddId) = cp.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }
    val joined = cp.join(cp.select(col("id").as("id2")), col("id") === col("id2"))
    val sc = spark.sparkContext
    val key = "graft.spec.unpersistTag"
    val tag = java.util.UUID.randomUUID().toString
    val removals = new java.util.concurrent.atomic.AtomicInteger
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
        if (e.rddId == rddId) removals.incrementAndGet()
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag)) done.countDown()
    }
    sc.addSparkListener(listener)
    try {
      QueryDef.dropCheckpoint(joined)
      // Delivered in order: once the sentinel job's start arrives, every
      // removal posted before it has arrived too.
      sc.setLocalProperty(key, tag)
      sc.parallelize(Seq(1), 1).count()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
    assert(removals.get == 1, s"RDD $rddId was unpersisted ${removals.get} times")
  }
}
