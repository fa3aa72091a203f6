package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession bootstrap so Verify, Bench, and tests agree on the
  * configs that affect correctness and scale behavior.
  */
object Sessions {

  /** Configs applied to every session this library creates.
    *
    * Scale rationale:
    *  - AQE on: runtime shuffle coalescing + skew-join splitting — the
    *    100 TB insurance policy for skewed keys.
    *  - shuffle.partitions matches local core count here; on a real cluster
    *    AQE's coalesce makes the initial number mostly irrelevant.
    *  - UTC: deterministic timestamp semantics. (nanosAsLong is kept for
    *    ad-hoc `spark.read` of a legacy nanos events parquet;
    *    [[Tables.events]] itself probes the footer encoding and reads
    *    session-independently — its instant-typed branch converts through
    *    convert_timezone so even a non-UTC session gets UTC wall time.)
    *  - inSetSwitchThreshold 0: an integral `InSet` compiles to a hash-set
    *    lookup, never to a `switch` over its values written into the Java
    *    source, so a plan that tests per-request values
    *    (`GraftFunctions.inSet`) compiles once, not once per value set.
    */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.optimizer.inSetSwitchThreshold", "0")
      .config("spark.ui.enabled", "false")

  def local(cpus: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
