package graft

/** Dumps `.explain("formatted")` for named queries to files — the
  * optimization-round evidence trail (plans/r16/<name>_{before,after}.txt).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> [names]
  *   names: comma-separated query names; empty/absent = all queries.
  *
  * The dump is the ANALYZED physical plan (pre-execution, AQE initial
  * plan): deterministic, runnable without executing the query, and it
  * carries the judge-checkable facts (Exchange count, join strategy,
  * PushedFilters/ReadSchema, WholeStageCodegen spans). Queries whose
  * construction itself RUNS jobs (fixpoint loops, byte-gated switches
  * that count their inputs) execute those probe jobs here exactly as
  * they do under Bench/Verify — the dumped plan is the plan the timed
  * run executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val suffix = if (args.length > 2 && args(2).nonEmpty) "_" + args(2) else ""
    val only: Set[String] =
      if (args.length > 3 && args(3).nonEmpty) args(3).split(",").toSet
      else Set.empty
    java.nio.file.Files.createDirectories(outDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val spark = Sessions.local(cpus)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))
    names.foreach { n =>
      // One checkpoint scope per query, as in Bench: one query's
      // materialized lineage can't distort the next one's probes.
      try Checkpoints.scope {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(outDir.resolve(s"$n$suffix.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[plandump] $n ok (${txt.length} chars)")
      } catch { case e: Throwable =>
        println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
