package graft.pipeline

import graft.Checkpoints
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.explode
import org.apache.spark.storage.StorageLevel

import java.util.concurrent.{Executors, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.immutable.SortedMap
import scala.collection.mutable

/** The reference's public API surface re-expressed over DataFrames:
  * named pipes + producer/stage/branching-stage/flattener/consumer nodes
  * (`/root/reference/src/pipeline/builder.rs:31-408`), with the same
  * build-time validation semantics (`builder.rs:419-517`,
  * `mod.rs:399-421`):
  *
  *  - at least one producer      → "pipeline must have at least one producer"
  *  - one reader per pipe        → "reader was already used"
  *  - every written pipe is read → "pipeline has open-ended pipe: '<name>'"
  *
  * Semantics mapping (SURVEY.md §1.4): a pipe is a named DataFrame edge;
  * multiple writers to one pipe fan-in as UNION ALL (bag semantics,
  * `builder.rs:523-525`); a stage is a DataFrame transform (its Option-drop
  * filtering is just... a filter); cycles (`README.md:56-108`) run as a
  * driver-side fixpoint loop with per-iteration localCheckpoint to cut
  * lineage — Spark DAGs are acyclic, so iteration is the only rendering
  * (Pregel pattern). The reference's concurrent tasks, each working once
  * its pipe holds a value, become a dataflow on the driver: `run` starts
  * each node (or whole cycle) on its own thread once every node writing
  * a pipe it reads has finished, so independent branches and sinks
  * submit their jobs at the same time. Concurrency within a node is
  * Spark's (its partitions, the reference's `max_task_count`); between
  * nodes it is the graph's own width, so there is no knob for it.
  *
  * Where the reference erases types to `BoxedAnySend` and downcast-panics
  * at runtime (`mod.rs:445-453`), each pipe here carries a concrete schema
  * checked at analysis time — strictly stronger.
  *
  * Scale: each node's op is the same declarative plan you'd write by
  * hand, so pushdown/pruning/broadcast apply *within* a node. A pipe
  * boundary is a cache boundary: `run` materializes each batch pipe once
  * per run, the first time a node reads it (`persist`, which keeps
  * lineage), so sinks, sort-sample jobs and construction-time
  * checkpoints downstream read it instead of re-running the upstream
  * graph — the reference's "every value passes each stage once". The
  * price is that no filter or column pruning crosses a pipe: a consumer's
  * predicate applies to the materialized pipe, not to the upstream scan.
  * Every pipe the run persisted is released when it ends. The fixpoint
  * loop keeps per-iteration frontiers as checkpointed DataFrames —
  * cluster-sized frontiers are fine; only the empty-check is an action.
  */
object PipeGraph {
  def builder: Builder = new Builder(Vector.empty)

  /** Names the threads `run` starts. */
  private val threadIds = new AtomicInteger

  /** R15 `WorkerOptions` analog: concurrency knobs per stage.
    * `ordered` ≈ `default_single_task()` (sequential FIFO);
    * `maxParallelism` ≈ `max_task_count` (caps concurrent tasks);
    * `maxBatchFiles` ≈ `pipe_buffer_size` (`mod.rs:25,52-55`) — the
    * backpressure bound on how much an unbounded producer may push into
    * one microbatch, mapped to the streaming source's `maxFilesPerTrigger`
    * (see `StreamingOps.eventsStream`; a rate/offset source would map it
    * to `maxOffsetsPerTrigger` the same way).
    */
  final case class PipeOptions(
      ordered: Boolean = false, maxParallelism: Option[Int] = None,
      maxBatchFiles: Option[Int] = None) {
    private[pipeline] def apply(df: DataFrame): DataFrame =
      if (ordered) df.coalesce(1)
      else maxParallelism.map(df.coalesce).getOrElse(df)
  }

  private[pipeline] sealed trait Node {
    def reads: Option[String]
    def writes: Seq[String]
    def isProducer: Boolean = reads.isEmpty && writes.nonEmpty
  }
  /** A source: `make` runs once per run and yields one DataFrame per
    * output pipe, in order (the reference's one tuple per producer call).
    */
  private[pipeline] final case class Producer(
      outs: Seq[String], make: SparkSession => Seq[DataFrame]) extends Node {
    val reads: Option[String] = None
    val writes: Seq[String] = outs
  }
  private[pipeline] final case class Transform(
      in: String, outs: Seq[String],
      op: DataFrame => Seq[DataFrame]) extends Node {
    val reads: Option[String] = Some(in)
    val writes: Seq[String] = outs
  }
  private[pipeline] final case class Consumer(
      in: String, sink: DataFrame => Unit) extends Node {
    val reads: Option[String] = Some(in)
    val writes: Seq[String] = Seq.empty
  }

  /** A multi-output node's frames, checked against its pipe count. */
  private def outputs(node: String, pipes: Seq[String])(dfs: Seq[DataFrame]): Seq[DataFrame] = {
    require(dfs.length == pipes.length,
      s"$node returned ${dfs.length} outputs for ${pipes.length} pipes")
    dfs
  }

  /** Immutable builder, mirroring `PipelineBuilder`'s `with_*` surface. */
  final class Builder private[pipeline] (nodes: Vector[Node]) {
    private def add(n: Node) = new Builder(nodes :+ n)

    /** R1 `with_inputs`: static literal source. */
    def inputs(pipe: String, make: SparkSession => DataFrame): Builder =
      add(Producer(Seq(pipe), s => Seq(make(s))))

    /** R3 `with_producer`: dynamic source (any DataFrame-yielding fn). */
    def producer(pipe: String)(make: SparkSession => DataFrame): Builder =
      add(Producer(Seq(pipe), s => Seq(make(s))))

    /** R2 `with_branching_inputs` / R14 `branch_inputs!`: static multi-
      * output source — the i-th DataFrame feeds the i-th pipe (the
      * reference boxes tuple positions; here each position is a typed DF).
      */
    def branchingInputs(pipes: Seq[String],
        make: SparkSession => Seq[DataFrame]): Builder =
      branchingProducer(pipes)(make)

    /** R4 `with_branching_producer`: dynamic multi-output source; a `None`
      * slot in the reference skips a pipe — here an empty DataFrame is the
      * equivalent (bag semantics make them identical downstream).
      */
    def branchingProducer(pipes: Seq[String])(
        make: SparkSession => Seq[DataFrame]): Builder =
      add(Producer(pipes, s => outputs("branching producer", pipes)(make(s))))

    /** R5 `with_stage`: 1-in/1-out map+filter (Option-drop ≡ filter). */
    def stage(in: String, out: String)(op: DataFrame => DataFrame): Builder =
      add(Transform(in, Seq(out), df => Seq(op(df))))

    /** R5 + R15 `WorkerOptions`: `opts.ordered` renders the reference's
      * single-task FIFO mode (`default_single_task`, mod.rs:67-74) as
      * coalesce(1) — one sequential task; `opts.maxParallelism` caps the
      * partition count like `max_task_count` caps concurrent tasks.
      */
    def stage(in: String, out: String, opts: PipeOptions)(
        op: DataFrame => DataFrame): Builder =
      add(Transform(in, Seq(out), df => Seq(op(opts(df)))))

    /** R6 `with_branching_stage`: 1-in/N-out router; one DataFrame per
      * output pipe (each with its own schema — the reference's per-branch
      * `BoxedAnySend` heterogeneity, `builder.rs:241-245`).
      */
    def branchingStage(in: String, outs: Seq[String])(
        op: DataFrame => Seq[DataFrame]): Builder =
      add(Transform(in, outs, df => outputs("branching stage", outs)(op(df))))

    /** R8 `with_flattener`: explode an array column. */
    def flattener(in: String, out: String, column: String): Builder =
      add(Transform(in, Seq(out),
        df => Seq(df.withColumn(column, explode(df(column))))))

    /** R8 `with_flattener`, generic form: the reference flattens any
      * `IntoIterator` VALUE (`builder.rs:336-364`), not just a named
      * array column — the typed analog is a pipe of `Seq[T]` rows
      * flattened to a pipe of `T` rows (`Dataset[Seq[T]] → Dataset[T]`).
      * Lowered as the same generator (explode) the column form uses, so
      * it stays a narrow codegen'd operator, not a lambda flatMap.
      */
    def flattenerSeq[T](in: String, out: String)(
        implicit enc: org.apache.spark.sql.Encoder[T],
        seqEnc: org.apache.spark.sql.Encoder[Seq[T]]): Builder =
      add(Transform(in, Seq(out),
        df => Seq(df.as[Seq[T]](seqEnc).flatMap(identity)(enc).toDF())))

    /** R7 `with_consumer`: terminal sink. */
    def consumer(pipe: String)(sink: DataFrame => Unit): Builder =
      add(Consumer(pipe, sink))

    /** R9 `also`: fragment composition. */
    def also(f: Builder => Builder): Builder = f(this)

    /** Build-time validation (R20), mirroring the reference's errors. */
    def build(): Either[String, PipeGraph] = {
      if (!nodes.exists(_.isProducer))
        return Left("pipeline must have at least one producer")
      val readers = nodes.flatMap(_.reads)
      readers.diff(readers.distinct).distinct.headOption match {
        case Some(_) => return Left("reader was already used")
        case None =>
      }
      val readSet = readers.toSet
      nodes.flatMap(_.writes).find(p => !readSet.contains(p)) match {
        case Some(p) => return Left(s"pipeline has open-ended pipe: '$p'")
        case None =>
      }
      Right(new PipeGraph(nodes))
    }
  }
}

/** A validated pipeline; `run` executes it (≈ `Pipeline::wait`,
  * `/root/reference/src/pipeline/mod.rs:357-396` — in batch, Spark's DAG
  * completion replaces the reference's counter-based quiescence detection).
  */
final class PipeGraph private[pipeline] (nodes: Vector[PipeGraph.Node]) {
  import PipeGraph._

  /** Stage-level strongly connected components (Tarjan), so cyclic regions
    * can be iterated as a block while the acyclic rest lowers directly.
    */
  private def sccs: Vector[Vector[Int]] = {
    val n = nodes.length
    // edge i -> j if a pipe written by i is read by j
    val adj = Array.tabulate(n) { i =>
      (0 until n).filter(j => nodes(i).writes.exists(nodes(j).reads.contains(_)))
    }
    val index = Array.fill(n)(-1)
    val low = Array.fill(n)(0)
    val onStack = Array.fill(n)(false)
    val stack = mutable.Stack[Int]()
    var counter = 0
    val out = mutable.ArrayBuffer[Vector[Int]]()
    def strongconnect(v: Int): Unit = {
      index(v) = counter; low(v) = counter; counter += 1
      stack.push(v); onStack(v) = true
      adj(v).foreach { w =>
        if (index(w) == -1) { strongconnect(w); low(v) = math.min(low(v), low(w)) }
        else if (onStack(w)) low(v) = math.min(low(v), index(w))
      }
      if (low(v) == index(v)) {
        val comp = mutable.ArrayBuffer[Int]()
        var w = -1
        while (w != v) { w = stack.pop(); onStack(w) = false; comp += w }
        out += comp.toVector
      }
    }
    (0 until n).foreach(v => if (index(v) == -1) strongconnect(v))
    out.toVector // reverse-topological order
  }

  /** Runs the graph as a dataflow over its strongly connected components:
    * a component starts as soon as every other component that writes a
    * pipe it reads has finished, so independent branches and sinks run at
    * the same time — the reference runs each stage as its own task, which
    * works once its pipe holds a value. A component is one producer,
    * transform or consumer, or a cycle that iterates to a fixpoint (at
    * most `maxIterations` rounds).
    *
    * Threads: the components run on a pool this call creates and shuts
    * down, with one thread per component at most — the graph's own width,
    * so there is nothing to size. Every thread is started from the calling
    * thread, so it inherits the caller's Spark local properties (job
    * group, scheduler pool, any tag the caller set) and active session:
    * each job of the run carries them.
    *
    * Failure: once a component throws, no further component starts, so
    * none of its dependents does. The components already running finish,
    * every pipe the run persisted is released, and then the first failure
    * is rethrown; no job of the run starts after `run` returns.
    *
    * Fan-in: a pipe with several writers is the UNION ALL of their writes
    * in topological order, whichever writer finished first.
    *
    * Each batch pipe is materialized once per run: it is persisted the
    * first time a stage or consumer reads it — before the node's op, so
    * construction-time jobs inside the op read it too — and every pipe
    * the run persisted is unpersisted (blocking) when the run ends,
    * whether it succeeds or throws. Streaming pipes, pipes the caller had
    * already cached (left cached), and the pipes inside a cycle (which
    * keep their per-iteration `localCheckpoint`) are not persisted.
    *
    * Returns the final content of every pipe (for asserts — the
    * consume-and-assert style of the reference's tests). The map is lazy:
    * its DataFrames were released with the run, so reading one recomputes
    * it from its sources.
    */
  def run(spark: SparkSession, maxIterations: Int = 100): Map[String, DataFrame] = {
    val comps = sccs.reverse // topological order: a component's rank
    val writers = comps.indices
      .flatMap(c => comps(c).flatMap(nodes(_).writes).map(_ -> c))
      .groupMap(_._1)(_._2)
    val deps = comps.indices.map(c =>
      comps(c).flatMap(nodes(_).reads).flatMap(writers.getOrElse(_, Nil)).toSet - c)
    val waiting = deps.map(_.size).toArray
    val state = new RunState
    val pool = Executors.newFixedThreadPool(comps.length, (r: Runnable) => {
      val t = new Thread(r, s"pipegraph-${threadIds.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
    // Components report here when they end; only this thread starts one.
    val ended = new LinkedBlockingQueue[(Int, Option[Throwable])]()
    var running = 0
    var failure = Option.empty[Throwable]
    def start(c: Int): Unit = {
      running += 1
      pool.execute(() => ended.put(c -> (
        try { runComponent(spark, c, comps(c), state, maxIterations); None }
        catch { case t: Throwable => Some(t) })))
    }
    try {
      comps.indices.filter(waiting(_) == 0).foreach(start)
      while (running > 0) {
        val (c, err) = ended.take()
        running -= 1
        if (failure.isEmpty) {
          failure = err
          if (err.isEmpty) comps.indices.filter(deps(_)(c)).foreach { d =>
            waiting(d) -= 1
            if (waiting(d) == 0) start(d)
          }
        }
      }
    } finally {
      // Every started component ends before the pipes are released, also
      // when this thread was interrupted while waiting.
      pool.shutdown()
      var interrupted = false
      while (!pool.isTerminated)
        try pool.awaitTermination(1, TimeUnit.MINUTES)
        catch { case _: InterruptedException => interrupted = true }
      state.release()
      if (interrupted) Thread.currentThread.interrupt()
    }
    failure.foreach(throw _)
    state.pipes
  }

  private def runComponent(spark: SparkSession, rank: Int, comp: Vector[Int],
      state: RunState, maxIterations: Int): Unit = {
    val isCycle = comp.length > 1 || {
      val i = comp.head
      nodes(i).writes.exists(nodes(i).reads.contains(_))
    }
    def emit(outs: Seq[String], dfs: Seq[DataFrame]): Unit =
      outs.zip(dfs).foreach { case (p, o) => state.write(p, rank, o) }
    if (!isCycle) nodes(comp.head) match {
      case Producer(outs, make) => emit(outs, make(spark))
      case Transform(in, outs, op) => state.read(in).foreach(df => emit(outs, op(df)))
      case Consumer(in, sink) => state.read(in).foreach(sink)
    }
    else runCycle(comp, rank, state, maxIterations)
  }

  /** Fixpoint execution of one cyclic component: seed each in-cycle pipe
    * with its external contributions, then repeatedly apply the cycle's
    * stages to the current frontier until every frontier pipe is empty.
    * localCheckpoint per iteration cuts lineage (otherwise the plan grows
    * linearly with iteration count and the driver OOMs — SURVEY §7.4).
    * Emissions to pipes *outside* the cycle accumulate as ordinary writes.
    */
  private def runCycle(comp: Vector[Int], rank: Int, state: RunState,
      maxIterations: Int): Unit = {
    val cyclePipes = comp.flatMap(i => nodes(i).reads).toSet
    // frontier: per-pipe current batch (starts as the externally-seeded content)
    var frontier: Map[String, DataFrame] =
      cyclePipes.iterator.flatMap(p => state.content(p).map(p -> _)).toMap

    var iter = 0
    while (frontier.nonEmpty && iter < maxIterations) {
      val next = mutable.Map[String, DataFrame]()
      comp.foreach { i =>
        nodes(i) match {
          case Transform(in, outs, op) =>
            frontier.get(in).foreach { df =>
              outs.zip(op(df)).foreach { case (p, o) =>
                if (cyclePipes.contains(p)) {
                  val chk = Checkpoints.local(o)
                  next(p) = next.get(p).map(_.union(chk)).getOrElse(chk)
                } else state.write(p, rank, Checkpoints.local(o))
              }
            }
          case _ =>
        }
      }
      frontier = next.filter { case (_, df) => !df.isEmpty }.toMap
      // record the full accumulated content of the cycle's pipes
      frontier.foreach { case (p, df) => state.write(p, rank, df) }
      iter += 1
    }
    if (frontier.nonEmpty)
      throw new IllegalStateException(
        s"cycle did not converge within $maxIterations iterations")
  }
}

/** One run's pipe contents and the pipes it persisted, shared by the
  * threads of its components. A pipe's content is the UNION ALL of its
  * writes in writer rank (topological) order; reading it collapses them
  * into one frame, so every later read sees that same frame.
  */
private final class RunState {
  private val writes = mutable.Map[String, SortedMap[Int, DataFrame]]()
  private val persisted = mutable.ArrayBuffer[DataFrame]()

  def write(pipe: String, rank: Int, df: DataFrame): Unit = synchronized {
    val w = writes.getOrElse(pipe, SortedMap.empty[Int, DataFrame])
    writes(pipe) = w.updated(rank, w.get(rank).map(_.union(df)).getOrElse(df))
  }

  def content(pipe: String): Option[DataFrame] = synchronized {
    writes.get(pipe).map { w =>
      val df = w.values.reduceLeft(_.union(_))
      writes(pipe) = SortedMap(w.lastKey -> df)
      df
    }
  }

  /** A stage's or consumer's read: persists a batch pipe on its first read
    * (a pipe the caller already cached, or one whose plan equals an
    * earlier pipe's, is used as is).
    */
  def read(pipe: String): Option[DataFrame] = synchronized {
    content(pipe).map { df =>
      if (!df.isStreaming && df.storageLevel == StorageLevel.NONE) persisted += df.persist()
      df
    }
  }

  def release(): Unit = synchronized {
    persisted.reverseIterator.foreach(_.unpersist(blocking = true))
  }

  def pipes: Map[String, DataFrame] = synchronized {
    writes.keys.toSeq.flatMap(p => content(p).map(p -> _)).toMap
  }
}
