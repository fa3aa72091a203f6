package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-per-JVM SparkSession for all suites (sbt forks a single test
  * JVM; getOrCreate reuses the session across suites).
  */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Sessions.local(8)
  val sfDir = "/root/testdata/sf0.001"

  /** Runs `block` and counts the Spark jobs it starts on this thread: the
    * jobs carry a fresh local-property tag, which a listener counts.
    * Listener delivery is asynchronous but in order, so the count is read
    * once a sentinel job started after the block has been delivered.
    */
  def jobsOf[T](block: => T): (T, Int) = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobTag"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)).orNull match {
          case `tag` => jobs.incrementAndGet()
          case t if t == s"$tag-end" => done.countDown()
          case _ =>
        }
    }
    val prev = sc.getLocalProperty(key)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      val out = block
      sc.setLocalProperty(key, s"$tag-end")
      sc.parallelize(Seq(1), 1).count()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the sentinel job's start was never delivered")
      (out, jobs.get)
    } finally {
      sc.setLocalProperty(key, prev)
      sc.removeSparkListener(listener)
    }
  }
}
