package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.{SparkEntry, Tables}
import graft.examples.LlmDataPipeline
import graft.operators.{Dedup, Similarity, TextAnalysis, TextOps}
import graft.perfbench.Main.{median, mean, percentile, tailPercentile, timed}

object Ops {
  /** One op: `construct` is the library call that returns a DataFrame (or
    * pipeline), `action` the call that runs it. A throw counts as a failed
    * op and is reported on stderr.
    */
  def run[A, B](spans: Spans, kind: String)(construct: => A)(action: A => B)
      : (OpRec, Option[B]) = {
    val s = Clock.now()
    val r = try Some(spans.span(kind, isOp = true) {
      val a = spans.span("construct")(construct)
      spans.span("action")(action(a))
    }) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $kind failed: $e")
        None
    }
    (OpRec(kind, s, Clock.now(), r.isDefined), r)
  }

  def deadline(seconds: Double): Long = Clock.now() + (seconds * 1e6).toLong

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** Traced-run probes of the text substrate and dedup, each timed from the
  * outside around one public call on the workload's own documents.
  */
object TextProbes {
  def apply(ctx: Ctx): Map[String, M] = {
    val spark = ctx.spark
    val docs = Tables.documents(spark, ctx.dir)
    def secs(body: => Unit): Double = timed(body)._2
    val pairsPath = ctx.runDir.resolve("probe_pairs").toString
    val lshS = secs(Dedup.minhashLshPairs(docs, 0.8).write.mode("overwrite").parquet(pairsPath))
    val sigs = Dedup.bandSignatures(docs)
    val candidates = sigs.as("x").join(sigs.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    val nCand = candidates.count()
    val nPairs = Dedup.verifyCandidates(docs, candidates, 0.8).count()
    Map(
      "TextOps.tokens_s" -> M(secs(Ops.noop(TextOps.tokens(docs))), "s"),
      "TextOps.shingles_s" -> M(secs(Ops.noop(TextOps.shingles(docs))), "s"),
      "TextAnalysis.quality_s" -> M(secs(Ops.noop(TextAnalysis.qualityScore(docs))), "s"),
      "Dedup.lsh_s" -> M(lshS, "s"),
      "Dedup.cluster_s" -> M(secs(Ops.noop(Dedup.dedupClusters(spark.read.parquet(pairsPath)))), "s"),
      "Dedup.candidates" -> M(nCand.toDouble, "count"),
      "Dedup.pairs" -> M(nPairs.toDouble, "count"),
      "Dedup.candidate_yield" -> M(if (nCand == 0) 0.0 else nPairs.toDouble / nCand, "fraction"))
  }
}

/** Records every microbatch's progress. */
final class ProgressLog extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** One client, whole passes over the seeded corpus: the LLM data pipeline
  * as a PipeGraph run (enrich, gate, exact + LSH dedup, decontaminate,
  * split, BPE; five parquet sinks under out/pipeline, which run.py checks).
  * The traced run adds probes of the layers below, among them one
  * x43_dedup_clusters run and one x251 drain (incremental dedup of the
  * corpus as a document stream), both compared with their oracles.
  */
final class CorpusBatch extends Workload {
  val name = "corpus_batch"
  val tables = Seq("documents")
  private val probes = Seq("x43_dedup_clusters", "x251_stream_incremental_dedup")
  private val sinks = Seq("train", "holdout", "rejected", "sequences", "merges")
  private val log = new ProgressLog
  private val probeOps = mutable.ArrayBuffer[OpRec]()

  /** Nothing to build; the progress log joins each new session. */
  def build(ctx: Ctx): Map[String, Double] = {
    ctx.spark.streams.addListener(log)
    Map.empty
  }

  private def pipelineDir(ctx: Ctx) = ctx.outDir.resolve("pipeline").toString

  def window(ctx: Ctx, spans: Spans, seconds: Double): Seq[OpRec] = {
    val end = Ops.deadline(seconds)
    val ops = mutable.ArrayBuffer[OpRec]()
    do {
      ops += Ops.run(spans, "pipeline")(LlmDataPipeline.build(ctx.dir, pipelineDir(ctx)))(
        _.run(ctx.spark))._1
    } while (Clock.now() < end)
    ops.toSeq
  }

  /** Corpus documents per second of pipeline run. */
  def rowsPerS(ctx: Ctx, ops: Seq[OpRec], wallS: Double): Double =
    ctx.inputRows("documents") / median(ops.map(_.ms / 1000))

  /** The traced run's probe queries count as ops; the sinks are checked
    * by run.py.
    */
  def check(ctx: Ctx): (Int, Int) = (probeOps.size, probeOps.count(!_.ok))

  def layers(ctx: Ctx, tracer: Tracer, ops: Seq[OpRec]): Map[String, M] = {
    val pipe = ops.filter(_.kind == "pipeline")
    val pipeSpans = tracer.spans.asScala.filter(s => s.name == "pipeline" && s.op == s.id)
      .map(_.id).toSet
    val pipeJobs = tracer.synchronized(tracer.jobs.values.count(j => pipeSpans(j.op)))
    log.events.clear()
    val Seq(_, drainOp) = probes.map { q =>
      val (op, _) = Ops.run(NoTrace, q)(SparkEntry.queries(q)(ctx.spark, ctx.dir))(
        _.write.mode("overwrite").parquet(ctx.checkDir.resolve(q).toString))
      if (op.ok) ctx.oracleQueries += q
      probeOps += op
      op
    }
    org.apache.spark.sql.GraftInternal.flushListenerBus(ctx.spark)
    val batches = log.events.asScala.toSeq
    def phase(k: String) = batches.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
    val trig = phase("triggerExecution")
    TextProbes(ctx) ++ Map(
      "PipeGraph.run_s" -> M(median(pipe.map(_.ms / 1000)), "s"),
      "PipeGraph.jobs" -> M(pipeJobs.toDouble / math.max(1, pipe.size), "count"),
      "PipeGraph.rows_written" -> M(sinks.map(s =>
        ctx.spark.read.parquet(s"${pipelineDir(ctx)}/$s").count()).sum.toDouble, "rows"),
      "IncrementalDedup.drain_s" -> M(drainOp.ms / 1000, "s"),
      "StreamingOps.batches" -> M(batches.size.toDouble, "count"),
      "StreamingOps.microbatch_p50_ms" -> M(percentile(trig, 50), "ms"),
      "StreamingOps.microbatch_tail_ms" -> M(percentile(trig, tailPercentile(trig.size)), "ms"),
      "StreamingOps.add_batch_ms" -> M(median(phase("addBatch")), "ms"),
      "StreamingOps.planning_ms" -> M(median(phase("queryPlanning")), "ms"),
      "StreamingOps.get_batch_ms" -> M(median(phase("getBatch")), "ms"),
      "StreamingOps.latest_offset_ms" -> M(median(phase("latestOffset")), "ms"),
      "StreamingOps.wal_commit_ms" -> M(median(phase("walCommit")), "ms"),
      "StreamingOps.commit_offsets_ms" -> M(median(phase("commitOffsets")), "ms"))
  }
}

/** Two clients in a closed loop, each sending its next top-k request when
  * the previous one returns. Requests are an even, seeded mix of exact and
  * the three approximate routes on seeded query ids; the stored indexes
  * are built in set-up.
  */
final class VectorServe extends Workload {
  val name = "vector_serve"
  val tables = Seq("embeddings")
  val Clients = 2
  val K = 10
  private val methods = Seq("exact", "lsh", "ivf", "quantized")
  private val results = new ConcurrentLinkedQueue[(String, Long, Seq[Long])]()

  /** Query ids are drawn from the first `Pool` vectors, whose exact top-k
    * answers one batched pass computes as the recall reference.
    */
  val Pool = 64
  private def request(ctx: Ctx, method: String, qid: Long): DataFrame = {
    val spark = ctx.spark
    val emb = Tables.embeddings(spark, ctx.dir)
    method match {
      case "exact" => Similarity.cosineTopK(emb, qid, K)
      case "lsh" => Similarity.annTopKBandedStored(spark, emb, ctx.dir, qid, K)
      case "ivf" => Similarity.ivfTopKStored(spark, emb, ctx.dir, qid, K)
      case "quantized" => Similarity.quantizedTopK(spark, emb, qid, K)
    }
  }

  private def ids(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).toSeq

  /** Builds both persisted indexes (x252's signature table, x254's IVF
    * tables) by asking each stored route once.
    */
  def build(ctx: Ctx): Map[String, Double] =
    Map("StoredTables.build_s" -> timed {
      request(ctx, "lsh", 0L)
      request(ctx, "ivf", 0L)
    }._2)

  /** Exact answers for the whole query pool in one batched pass (the
    * recall reference), then one request of each route.
    */
  override def warmup(ctx: Ctx): Unit = {
    Similarity.batchCosineTopK(Tables.embeddings(ctx.spark, ctx.dir), Pool, K).collect()
      .groupBy(_.getLong(0)).foreach { case (q, rows) =>
        exact(q) = rows.sortBy(r => (-r.getDouble(2), r.getLong(1))).map(_.getLong(1)).toSeq
      }
    methods.foreach(m => ids(request(ctx, m, 0L)))
  }

  def window(ctx: Ctx, spans: Spans, seconds: Double): Seq[OpRec] = {
    val end = Ops.deadline(seconds)
    val recs = new ConcurrentLinkedQueue[OpRec]()
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        val rng = new scala.util.Random(ctx.seed * 1000003L + c)
        // Every method once per block of four, in a seeded order, so each
        // run serves the same mix.
        val mix = Iterator.continually(rng.shuffle(methods)).flatten
        while (Clock.now() < end) {
          val m = mix.next()
          val q = rng.nextInt(Pool).toLong
          val (rec, out) = Ops.run(spans, m)(request(ctx, m, q))(ids)
          recs.add(rec)
          out.foreach(r => results.add((m, q, r)))
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    recs.asScala.toSeq.sortBy(_.startUs)
  }

  private val exact = mutable.Map[Long, Seq[Long]]()

  /** Mean recall@k against exact top-k of the answers whose method `keep`s. */
  private def recall(keep: String => Boolean): Double =
    mean(results.asScala.toSeq.collect { case (m, q, got) if keep(m) =>
      got.toSet.intersect(exact(q).toSet).size.toDouble / K })

  /** Embedding rows searched per second: each request serves the table. */
  def rowsPerS(ctx: Ctx, ops: Seq[OpRec], wallS: Double): Double =
    ops.count(_.ok) * ctx.inputRows("embeddings") / wallS

  /** Recall@k of every answer, exact ones included. */
  override def answerRecall(ctx: Ctx): Double = recall(_ => true)

  /** The declared exact and stored-index queries go to the oracle compare
    * (x252/x254's oracles replay the approximate routes bit for bit); every
    * exact answer a client received must equal the batched exact answer,
    * and every answer must hold k distinct ids. x27_quantized_topk is not
    * compared: its oracle is the exact top-k, which the int8 candidate
    * stage does not reach on clustered vectors; its recall is measured
    * instead.
    */
  def check(ctx: Ctx): (Int, Int) = {
    val declared = Seq("q18_similarity_topk", "x252_ann_stored_index",
      "x254_ivf_stored_cells")
    declared.foreach { q =>
      SparkEntry.queries(q)(ctx.spark, ctx.dir).coalesce(1).write.mode("overwrite")
        .parquet(ctx.checkDir.resolve(q).toString)
    }
    ctx.oracleQueries ++= declared
    val rs = results.asScala.toSeq
    val bad = rs.count { case (m, q, got) =>
      got.distinct.size != K || (m == "exact" && got != exact(q))
    }
    if (bad > 0) System.err.println(s"[perfbench] $bad answers failed the exact/shape check")
    (rs.size, bad)
  }

  def layers(ctx: Ctx, tracer: Tracer, ops: Seq[OpRec]): Map[String, M] = {
    val byMethod = methods.map(m => m -> median(ops.filter(_.kind == m).map(_.ms))).toMap
    val n = math.max(1, ops.size).toDouble
    val (jobs, rows) = tracer.synchronized(
      (tracer.jobs.size, tracer.tasksByOp.values.map(_.inputRecords).sum))
    Map(
      "Similarity.jobs_per_request" -> M(jobs / n, "count"),
      "Similarity.rows_scanned_per_request" -> M(rows / n, "rows"),
      "Similarity.exact_ms" -> M(byMethod("exact"), "ms"),
      "Similarity.lsh_ms" -> M(byMethod("lsh"), "ms"),
      "Similarity.ivf_ms" -> M(byMethod("ivf"), "ms"),
      "Similarity.quantized_ms" -> M(byMethod("quantized"), "ms"),
      "Similarity.recall_lsh" -> M(recall(_ == "lsh"), "fraction"),
      "Similarity.recall_ivf" -> M(recall(_ == "ivf"), "fraction"),
      "Similarity.recall_quantized" -> M(recall(_ == "quantized"), "fraction"))
  }
}

