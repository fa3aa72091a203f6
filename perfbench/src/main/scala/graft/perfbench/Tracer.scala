package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: workload, op (one request, drain or pipeline run),
  * or an op's `construct` (the library call that returns a DataFrame) and
  * `action` (the call that runs it). Times are epoch microseconds.
  */
final case class Span(id: Long, name: String, parent: Long, op: Long,
    start: Long, end: Long)

/** A Spark job seen by the listener, tagged with the op and phase the
  * benchmark set as local properties on the submitting thread.
  */
final case class JobRec(id: Int, op: Long, phase: String, start: Long,
    var end: Long, stages: Seq[Int])

/** Per-op sums of task metrics, plus per-stage task run times for skew. */
final class TaskAgg {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Where the benchmark's calls into the library are recorded. */
trait Spans {
  def span[A](name: String, isOp: Boolean = false)(body: => A): A
}

/** The timed runs: no spans, no listeners beyond the end-to-end ones. */
object NoTrace extends Spans {
  def span[A](name: String, isOp: Boolean)(body: => A): A = body
}

/** Microsecond wall clock with nanoTime resolution, comparable to the
  * millisecond timestamps Spark puts on listener events.
  */
object Clock {
  private val base = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def now(): Long = base + (System.nanoTime() - nano0) / 1000L
}

/** Span recorder and Spark-listener collector for the traced run.
  *
  * Spans are recorded by the benchmark around each call it makes into the
  * library; Spark jobs, stages and tasks below them are attributed to
  * their op through the `perfbench.op` / `perfbench.phase` local
  * properties, which Spark copies onto every job the thread submits (and
  * onto the threads a streaming query or a broadcast starts). Everything
  * is kept in memory and written out once, at exit.
  */
final class Tracer(val spark: SparkSession) extends Spans {
  private val nextId = new AtomicLong(1)
  private val current = new InheritableThreadLocal[List[Span]] { override def initialValue() = Nil }
  val spans = new ConcurrentLinkedQueue[Span]()

  val jobs = mutable.Map[Int, JobRec]()
  private val stageOp = mutable.Map[Int, Long]()
  val tasksByOp = mutable.Map[Long, TaskAgg]()
  val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  val rddsStored = mutable.Set[Int]()
  val planMs = new ConcurrentLinkedQueue[Double]()
  /** Nanoseconds spent in this tracer's own listener callbacks and span
    * bookkeeping: the tracing overhead, measured where it is spent.
    */
  val busyNs = new AtomicLong(0)
  private def charged[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally busyNs.addAndGet(System.nanoTime() - t0)
  }
  private def record(body: => Unit): Unit = charged(Tracer.this.synchronized(body))
  /** Block-manager MB held after each op. */
  val storageAfterOp = new ConcurrentLinkedQueue[Double]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = record {
      val p = Option(e.properties)
      val op = p.flatMap(x => Option(x.getProperty("perfbench.op"))).map(_.toLong).getOrElse(0L)
      val phase = p.flatMap(x => Option(x.getProperty("perfbench.phase"))).getOrElse("")
      jobs(e.jobId) = JobRec(e.jobId, op, phase, e.time * 1000L, e.time * 1000L, e.stageIds)
      e.stageIds.foreach(s => stageOp(s) = op)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = record {
      jobs.get(e.jobId).foreach(_.end = e.time * 1000L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = record {
      val m = e.taskMetrics
      if (m != null) {
        val a = tasksByOp.getOrElseUpdate(stageOp.getOrElse(e.stageId, 0L), new TaskAgg)
        val info = e.taskInfo
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRecords += m.inputMetrics.recordsRead
        a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += m.executorRunTime
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = record {
      val info = e.blockUpdatedInfo
      if (info.storageLevel.isValid) info.blockId.asRDDId.foreach(b => rddsStored += b.rddId)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      charged(planMs.add(Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs.toDouble).sum))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    org.apache.spark.sql.GraftInternal.flushListenerBus(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Records `body` as a span under the thread's current span. An op span
    * (parent = workload) tags the thread's jobs with its id; a phase span
    * tags them with its name.
    */
  def span[A](name: String, isOp: Boolean)(body: => A): A = {
    val t0 = System.nanoTime()
    val stack = current.get()
    val parent = stack.headOption
    val id = nextId.getAndIncrement()
    val op = if (isOp) id else parent.map(_.op).getOrElse(0L)
    val sc = spark.sparkContext
    val prevOp = sc.getLocalProperty("perfbench.op")
    val prevPhase = sc.getLocalProperty("perfbench.phase")
    sc.setLocalProperty("perfbench.op", op.toString)
    sc.setLocalProperty("perfbench.phase", if (isOp) "" else name)
    val open = Span(id, name, parent.map(_.id).getOrElse(0L), op, Clock.now(), 0L)
    current.set(open :: stack)
    busyNs.addAndGet(System.nanoTime() - t0)
    try body
    finally charged {
      current.set(stack)
      spans.add(open.copy(end = Clock.now()))
      if (isOp) storageAfterOp.add(Main.storageBytes(spark) / 1e6)
      sc.setLocalProperty("perfbench.op", prevOp)
      sc.setLocalProperty("perfbench.phase", prevPhase)
    }
  }

  /** Waits for queued listener events, so the collections above are final. */
  def flush(): Unit = org.apache.spark.sql.GraftInternal.flushListenerBus(spark)

  /** Spans, then jobs, as one JSON document. */
  def toJson: String = {
    val sb = new StringBuilder("{\"spans\":[")
    sb.append(spans.asScala.toSeq.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"request":${s.op},"start_us":${s.start},"end_us":${s.end}}"""
    }.mkString(","))
    sb.append("],\"jobs\":[")
    sb.append(synchronized(jobs.values.toSeq).sortBy(_.id).map { j =>
      s"""{"job":${j.id},"request":${j.op},"phase":${Json.str(j.phase)},"start_us":${j.start},"end_us":${j.end},"stages":[${j.stages.mkString(",")}]}"""
    }.mkString(","))
    sb.append("]}")
    sb.toString
  }
}

/** Just enough JSON writing for the result and trace files. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}
