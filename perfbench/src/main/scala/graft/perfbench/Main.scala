package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What the benchmark passes to a workload: the session, the run's own
  * directories, and the input directory of the current set-up.
  */
final class Ctx(val runDir: Path, val inputs: Path, val seed: Long) {
  var spark: SparkSession = _
  var dir: String = inputs.toString
  var warehouse: Path = runDir
  val checkDir: Path = runDir.resolve("check")
  val outDir: Path = runDir.resolve("out")
  /** Declared queries whose results are compared with their oracles. */
  val oracleQueries = mutable.LinkedHashSet[String]()
  /** Row count of each input table, taken in set-up. */
  val inputRows = mutable.Map[String, Long]()
}

/** One finished op, as the end-to-end metrics see it. */
final case class OpRec(kind: String, startUs: Long, endUs: Long, ok: Boolean) {
  def ms: Double = (endUs - startUs) / 1000.0
}

/** A metric as printed: value and unit. */
final case class M(value: Double, unit: String)

trait Workload {
  def name: String
  /** Input tables the workload reads, loaded (and row-counted) in set-up. */
  def tables: Seq[String]
  /** Index builds over a fresh input directory; returns the seconds each
    * named step took.
    */
  def build(ctx: Ctx): Map[String, Double]
  /** Untimed requests that let code generation and the JIT settle. */
  def warmup(ctx: Ctx): Unit = ()
  /** Runs ops until `seconds` have passed, in whole units of work. */
  def window(ctx: Ctx, spans: Spans, seconds: Double): Seq[OpRec]
  /** Input rows the window's ops consumed, per second of op time. */
  def rowsPerS(ctx: Ctx, ops: Seq[OpRec], wallS: Double): Double
  /** Mean share of the exact answer the window's ops returned. */
  def answerRecall(ctx: Ctx): Double = 1.0
  /** Output checks outside the timed window: (attempted, failed). */
  def check(ctx: Ctx): (Int, Int)
  /** Traced-run probes and per-layer numbers only this workload has. */
  def layers(ctx: Ctx, tracer: Tracer, ops: Seq[OpRec]): Map[String, M]
}

/** The benchmark's JVM side: set up (several times), run one timed window
  * (traced or not), check outputs, write `result.json` into the run dir.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <inputs> <runDir>
  */
object Main {
  val Cores = 4
  val SetupReps = 3

  /** Per-layer metrics a workload reports only when it exercises the
    * layer; the other workload reads 0 (the "should not move" side).
    */
  val LayerUnits: Seq[(String, String)] = Seq(
    "PipeGraph.run_s" -> "s", "PipeGraph.jobs" -> "count", "PipeGraph.rows_written" -> "rows",
    "TextOps.tokens_s" -> "s", "TextOps.shingles_s" -> "s", "TextAnalysis.quality_s" -> "s",
    "Dedup.lsh_s" -> "s", "Dedup.cluster_s" -> "s", "Dedup.candidates" -> "count",
    "Dedup.pairs" -> "count", "Dedup.candidate_yield" -> "fraction",
    "IncrementalDedup.drain_s" -> "s",
    "Similarity.exact_ms" -> "ms", "Similarity.lsh_ms" -> "ms", "Similarity.ivf_ms" -> "ms",
    "Similarity.quantized_ms" -> "ms", "Similarity.recall_lsh" -> "fraction",
    "Similarity.recall_ivf" -> "fraction", "Similarity.recall_quantized" -> "fraction",
    "Similarity.jobs_per_request" -> "count", "Similarity.rows_scanned_per_request" -> "rows",
    "Sessions.start_s" -> "s", "StoredTables.build_s" -> "s",
    "StreamingOps.batches" -> "count", "StreamingOps.microbatch_p50_ms" -> "ms",
    "StreamingOps.microbatch_tail_ms" -> "ms", "StreamingOps.add_batch_ms" -> "ms",
    "StreamingOps.planning_ms" -> "ms", "StreamingOps.get_batch_ms" -> "ms",
    "StreamingOps.latest_offset_ms" -> "ms", "StreamingOps.wal_commit_ms" -> "ms",
    "StreamingOps.commit_offsets_ms" -> "ms")

  private val started = System.nanoTime()
  /** A progress line on stderr (the run's log), with seconds since start. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.1fs $msg")

  /** A fresh local[4] session whose warehouse and local dirs live in `dir`. */
  def session(dir: Path): SparkSession = {
    val s = graft.Sessions.builder(s"local[$Cores]", Cores)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toUri.toString)
      .config("spark.local.dir", dir.resolve("local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val Array(wname, seedS, secondsS, traceS, inputsS, runS) = args
    val ctx = new Ctx(Paths.get(runS), Paths.get(inputsS), seedS.toLong)
    val w: Workload = wname match {
      case "corpus_batch" => new CorpusBatch
      case "vector_serve" => new VectorServe
      case other => sys.error(s"unknown workload $other")
    }
    try run(ctx, w, secondsS.toDouble, traceS == "1")
    finally if (ctx.spark != null) ctx.spark.stop()
  }

  private def run(ctx: Ctx, w: Workload, seconds: Double, traced: Boolean): Unit = {
    // Set-up, several times, each from scratch: a new session with its own
    // warehouse and local dirs, the inputs copied into a fresh directory
    // and loaded, then the workload's index builds. Nothing one repetition
    // built can be adopted by the next.
    val setups = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      if (ctx.spark != null) ctx.spark.stop()
      val repDir = ctx.runDir.resolve(s"setup_$rep")
      ctx.spark = session(repDir)
      ctx.warehouse = repDir.resolve("warehouse")
      val sessionS = (System.nanoTime() - t0) / 1e9
      val dir = repDir.resolve("inputs")
      Files.createDirectories(dir)
      w.tables.foreach { t =>
        Files.copy(ctx.inputs.resolve(s"$t.parquet"), dir.resolve(s"$t.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      }
      ctx.dir = dir.toString
      w.tables.foreach(t => ctx.inputRows(t) = graft.Tables.table(ctx.spark, ctx.dir, t).count())
      val steps = w.build(ctx) + ("Sessions.start_s" -> sessionS)
      ((System.nanoTime() - t0) / 1e9, steps)
    }
    note(s"setups ${setups.map(_._1).mkString(" ")}")
    val setupS = median(setups.map(_._1))
    val steps = setups.flatMap(_._2.keys).distinct.map { k =>
      k -> median(setups.flatMap(_._2.get(k)))
    }.toMap
    w.warmup(ctx)
    note("warm")

    val tracer = if (traced) Some(new Tracer(ctx.spark)) else None
    tracer.foreach(_.start())
    val spans: Spans = tracer.getOrElse(NoTrace)
    val (ops, wallS) = timed(spans.span("workload")(w.window(ctx, spans, seconds)))
    ops.groupBy(_.kind).foreach { case (k, os) =>
      note(s"$k n=${os.size} median_ms=${median(os.map(_.ms))}") }

    val metrics: Map[String, M] = tracer match {
      case None =>
        // Let the context cleaner drop what nothing references any more, so
        // what stays is what the library still holds.
        (1 to 2).foreach { _ => System.gc(); Thread.sleep(250) }
        val ms = ops.filter(_.ok).map(_.ms)
        Map(
          "setup_s" -> M(setupS, "s"),
          "retained_storage_mb" -> M(retainedBytes(ctx) / 1e6, "MB"),
          "op_p50_ms" -> M(percentile(ms, 50), "ms"),
          "op_tail_ms" -> M(percentile(ms, tailPercentile(ms.size)), "ms"),
          "ops_per_s" -> M(ms.size / wallS, "1/s"),
          "rows_per_s" -> M(w.rowsPerS(ctx, ops, wallS), "rows/s"),
          "answer_recall" -> M(w.answerRecall(ctx), "fraction"))
      case Some(t) =>
        t.flush()
        val engine = sparkLayers(t, ops, wallS, ctx.inputRows.values.sum)
        t.stop()
        Files.writeString(ctx.runDir.resolve("trace.json"), t.toJson)
        LayerUnits.map { case (k, u) => k -> M(0.0, u) }.toMap ++
          steps.map { case (k, v) => k -> M(v, "s") } ++ engine ++ w.layers(ctx, t, ops)
    }
    note("measured")
    val (attempted, failed) = w.check(ctx)
    writeOracleSql(ctx)
    note("checked")
    val body = metrics.toSeq.sortBy(_._1).map { case (k, m) =>
      s"${Json.str(k)}:{\"value\":${Json.num(m.value)},\"unit\":${Json.str(m.unit)}}"
    }.mkString(",")
    val n = ops.count(_.ok)
    Files.writeString(ctx.runDir.resolve("result.json"),
      s"""{"workload":${Json.str(w.name)},"attempted":${ops.size + attempted},""" +
        s""""failed":${ops.count(!_.ok) + failed},"ops":$n,""" +
        s""""tail_percentile":${tailPercentile(n)},"metrics":{$body}}""")
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest of these percentiles with at least ten samples beyond it;
    * below 20 samples, the maximum.
    */
  def tailPercentile(n: Int): Int =
    Seq(99, 90, 75, 50).find(p => n * (100 - p) / 100.0 >= 10).getOrElse(100)

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Int): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  /** Bytes of the regular files under `dir` whose top-level entry `keep`s. */
  def dirBytes(dir: Path, keep: String => Boolean = _ => true): Long =
    if (!Files.isDirectory(dir)) 0L else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter { p =>
        Files.isRegularFile(p) && keep(dir.relativize(p).getName(0).toString)
      }.map(Files.size).sum
      finally s.close()
    }

  /** Bytes the block manager still holds (memory + disk), summed over RDDs. */
  def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  /** Storage the run holds after its last op: block-manager bytes, the
    * live session's warehouse (persisted indexes), what the library left in
    * java.io.tmpdir (staged streams, drain state, stream checkpoints), and
    * the outputs the workload wrote.
    */
  def retainedBytes(ctx: Ctx): Long =
    storageBytes(ctx.spark) + dirBytes(ctx.warehouse) + dirBytes(ctx.outDir) +
      dirBytes(ctx.checkDir) + dirBytes(Paths.get(sys.props("java.io.tmpdir")),
        n => n.startsWith("graft_") || n.startsWith("temporary-"))

  private def writeOracleSql(ctx: Ctx): Unit = {
    val sqls = graft.SparkEntry.oracleSql
    val body = ctx.oracleQueries.toSeq.map(n => s"${Json.str(n)}:${Json.str(sqls(n))}")
    Files.createDirectories(ctx.checkDir)
    Files.writeString(ctx.checkDir.resolve("oracle_sql.json"), body.mkString("{", ",", "}"))
  }

  /** Per-layer numbers of the `spark.*` and `Tables` layers, per op, and
    * the tracer's own cost.
    */
  private def sparkLayers(t: Tracer, ops: Seq[OpRec], wallS: Double,
      inputRows: Long): Map[String, M] = {
    val n = math.max(1, ops.size).toDouble
    val spans = t.spans.asScala.toSeq
    val opSpans = spans.filter(s => s.op == s.id)
    val (jobs, aggs, stageMs, rdds) = t.synchronized(
      (t.jobs.values.toSeq, t.tasksByOp.values.toSeq, t.stageTaskMs.values.map(_.toSeq).toSeq,
        t.rddsStored.size))
    def sum(f: TaskAgg => Double) = aggs.map(f).sum
    // Length of the union of job intervals inside [s, e).
    def covered(js: Seq[JobRec], s: Long, e: Long): Long = {
      var total = 0L
      var cur = s
      js.map(j => (math.max(j.start, s), math.min(j.end, e))).filter(x => x._1 < x._2)
        .sortBy(_._1).foreach { case (a, b) =>
          if (b > cur) { total += b - math.max(a, cur); cur = b }
        }
      total
    }
    val jobsByOp = jobs.groupBy(_.op)
    val gapUs = opSpans.map(s =>
      (s.end - s.start) - covered(jobsByOp.getOrElse(s.id, Nil), s.start, s.end)).sum
    def phaseSpans(p: String) = spans.filter(s => s.name == p && s.op != s.id)
    def phaseS(p: String) = phaseSpans(p).map(s => s.end - s.start).sum / 1e6 / n
    // Self time: a phase span minus the part its own jobs cover.
    def selfS(p: String) = phaseSpans(p).map { s =>
      (s.end - s.start) - covered(jobsByOp.getOrElse(s.op, Nil).filter(_.phase == p), s.start, s.end)
    }.sum / 1e6 / n
    val opSelfS = opSpans.map { o =>
      (o.end - o.start) - spans.filter(_.parent == o.id).map(k => k.end - k.start).sum
    }.sum / 1e6 / n
    val skew = stageMs.filter(_.size >= 2).map { ms =>
      val med = median(ms.map(_.toDouble))
      if (med > 0) ms.max / med else 1.0
    }.foldLeft(1.0)(math.max)
    val tasks = math.max(1.0, sum(_.tasks.toDouble))
    val MB = 1e6
    Map(
      "Tables.mb_read" -> M(sum(_.inputBytes.toDouble) / MB / n, "MB"),
      "Tables.rows_read" -> M(sum(_.inputRecords.toDouble) / n, "rows"),
      "Tables.reread_ratio" -> M(sum(_.inputRecords.toDouble) / n / math.max(1L, inputRows), "ratio"),
      "spark.jobs" -> M(jobs.size / n, "count"),
      "spark.construct_jobs" -> M(jobs.count(_.phase == "construct") / n, "count"),
      "spark.construct_s" -> M(phaseS("construct"), "s"),
      "spark.action_s" -> M(phaseS("action"), "s"),
      "spark.driver_gap_s" -> M(gapUs / 1e6 / n, "s"),
      "spark.plan_ms" -> M(t.planMs.asScala.sum / n, "ms"),
      "spark.scheduler_delay_ms" -> M(sum(_.schedDelayMs.toDouble) / tasks, "ms"),
      "spark.core_busy_frac" -> M(sum(_.runMs.toDouble) / 1000.0 / (wallS * Cores), "fraction"),
      "spark.task_run_s" -> M(sum(_.runMs.toDouble) / 1000.0 / n, "s"),
      "spark.task_cpu_s" -> M(sum(_.cpuNs.toDouble) / 1e9 / n, "s"),
      "spark.gc_s" -> M(sum(_.gcMs.toDouble) / 1000.0 / n, "s"),
      "spark.shuffle_write_mb" -> M(sum(_.shuffleWriteBytes.toDouble) / MB / n, "MB"),
      "spark.shuffle_read_mb" -> M(sum(_.shuffleReadBytes.toDouble) / MB / n, "MB"),
      "spark.spill_mb" -> M(sum(_.spillBytes.toDouble) / MB / n, "MB"),
      "spark.task_skew" -> M(skew, "ratio"),
      "spark.checkpoints_made" -> M(rdds / n, "count"),
      "spark.storage_mb" -> M(mean(t.storageAfterOp.asScala.toSeq), "MB"),
      "self.op_s" -> M(opSelfS, "s"),
      "self.construct_s" -> M(selfS("construct"), "s"),
      "self.action_s" -> M(selfS("action"), "s"),
      "trace.op_p50_ms" -> M(percentile(ops.filter(_.ok).map(_.ms), 50), "ms"),
      "trace.overhead_frac" -> M(t.busyNs.get / 1e9 / wallS, "fraction"))
  }
}
