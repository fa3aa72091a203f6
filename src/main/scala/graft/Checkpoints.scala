package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.storage.StorageLevel

/** Every materialization in the library, and the one rule for when its
  * blocks are freed.
  *
  * [[local]] makes an eager local checkpoint. One made inside [[scope]]
  * is freed when the scope's body returns or throws, also when it was
  * made on a thread started inside the scope (PipeGraph's pool, a
  * stream's execution thread): the open scope is an inheritable
  * thread-local. A query run opens one scope around the query's
  * construction and its action (Bench, Verify, PlanDump), so a query's
  * scratch never outlives it, while a structure shared across a run
  * ([[shared]]: the co-purchase table) stays alive for the run. A
  * checkpoint made outside any scope (library use) is freed by
  * [[release]] or with its context. [[release]] also frees a frame's
  * checkpoints before its scope ends; no RDD is unpersisted twice.
  *
  * `Dataset.unpersist()` clears only `persist()`ed frames, never the
  * blocks of a checkpoint: those go through here.
  */
private[graft] object Checkpoints {

  /** The RDDs checkpointed while a [[scope]] is open. A closed scope
    * takes no more: a thread that outlives its scope checkpoints as if
    * outside any scope.
    */
  private final class Scope(val outer: Scope) {
    private var rdds = Set.empty[RDD[_]]
    def add(r: RDD[_]): Unit = synchronized { if (rdds != null) rdds += r }
    def remove(r: RDD[_]): Unit = synchronized { if (rdds != null) rdds -= r }
    def close(): Set[RDD[_]] = synchronized { val all = rdds; rdds = null; all }
  }

  private val open = new InheritableThreadLocal[Scope]

  /** `df` materialized once as an eager local checkpoint, registered in
    * the open scope. A frame that already is a checkpoint is returned
    * unchanged.
    */
  def local(df: DataFrame): DataFrame = df.queryExecution.logical match {
    case r: LogicalRDD if r.rdd.isCheckpointed => df
    case _ =>
      val cp = df.localCheckpoint()
      Option(open.get).foreach(s => rdds(cp).foreach(s.add))
      cp
  }

  /** [[local]] plus its row count, observed in the checkpoint's own job
    * (a `count()` afterwards would run two more).
    */
  def counted(df: DataFrame): (DataFrame, Long) = {
    val rows = Observation()
    val cp = local(df.observe(rows, count(lit(1)).as("n")))
    (cp, rows.get("n").asInstanceOf[Long])
  }

  /** A checkpoint no scope frees: a table shared by the queries of a run. */
  def shared(df: DataFrame): DataFrame = df.localCheckpoint()

  /** Frees every checkpoint `df`'s plan reads, now, and takes it out of
    * its scope. Non-blocking; a no-op on a frame with no checkpoint.
    */
  def release(df: DataFrame): Unit = rdds(df).foreach { r =>
    Iterator.iterate(open.get)(_.outer).takeWhile(_ != null).foreach(_.remove(r))
    free(r)
  }

  /** Runs `body` and frees the checkpoints made inside it, on this thread
    * or on threads started inside it, when `body` returns or throws.
    */
  def scope[T](body: => T): T = {
    val outer = open.get
    val s = new Scope(outer)
    open.set(s)
    try body
    finally {
      open.set(outer)
      s.close().foreach(free)
    }
  }

  /** Whether every checkpoint `df`'s plan reads still holds its blocks. */
  def held(df: DataFrame): Boolean = {
    val rs = rdds(df)
    rs.nonEmpty && rs.forall(_.getStorageLevel != StorageLevel.NONE)
  }

  /** Each distinct checkpointed RDD of the plan, however often it occurs
    * (a self-join of one checkpoint holds it twice).
    */
  private def rdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }.distinct

  /** Unpersists `r` once: a second non-blocking removal of the same RDD
    * can race the first in the block manager.
    */
  private def free(r: RDD[_]): Unit = synchronized {
    if (!r.context.isStopped && r.getStorageLevel != StorageLevel.NONE)
      r.unpersist(blocking = false)
  }
}
