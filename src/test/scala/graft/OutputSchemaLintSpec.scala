package graft

import org.apache.spark.sql.types.{ArrayType, DecimalType, MapType, StructType}

/** Mechanical enforcement of the §7.4 output-typing regime (r12 verdict
  * #2a): walk EVERY declared query's output schema and fail on any type
  * the driver's pandas gate mishandles, so the x239 class (a green
  * tri-scale sweep hiding a driver-red row) cannot recur.
  *
  *  - DecimalType, ANY width: r12's x239 emitted a DECIMAL(38,0) sum
  *    (~2.9×10²¹) — rows/schema green, hash red, because DuckDB→pandas
  *    coerces decimals to float64 while Spark's parquet side arrives as
  *    exact Decimal objects. Measured basis for banning the whole type
  *    rather than just the float64-unsafe widths: as of this round ZERO
  *    query outputs carry a decimal — the suite's §7.4 regime already
  *    routes every unbounded rational through scaled integers (permille,
  *    micro-nats, mod-2⁶³ fingerprints) and every bounded one through a
  *    single rounded double (dsum), so a decimal output is always a
  *    mistake, never a need. Decimals remain the right tool INSIDE plans.
  *  - Array/Map/Struct: the driver's pandas harness crashes sorting them
  *    (r3 shipped 3 red rows this way; compare.py also rejects them, but
  *    a spec fails at build time, before a sweep is ever run) —
  *    stringify with array_join/to_json instead.
  *
  * Cost note: constructing the DataFrame is lazy for batch queries, but
  * streaming twins drain and localCheckpoint()ed intermediates
  * materialize eagerly — this spec is effectively a full sf0.001
  * construction sweep, which is also what makes it a smoke gate: any
  * query whose CONSTRUCTION throws fails here by name. It is also the
  * leak gate: after each construction's checkpoint scope closes, no RDD
  * may stay persisted that was not persisted before it (the shared
  * co-purchase table is derived before the first query).
  */
class OutputSchemaLintSpec extends SparkSuite {

  test("every query output schema is driver-gate-safe (no decimals, no nested types)") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // The one table meant to outlive a query: derived up front, so it is
    // in every query's `before` set.
    graft.operators.CoPurchaseGraph.pairWeights(spark, sfDir)
    val leaks = Seq.newBuilder[String]
    val offenders = SparkEntry.defs.flatMap { d =>
      // Each construction runs in its own checkpoint scope (the Bench.run
      // discipline), so 275 constructions leave nothing behind in the
      // shared test JVM.
      val before = persisted
      val fields =
        try Checkpoints.scope(d.spark(spark, sfDir).schema.fields.toSeq)
        catch {
          case e: Throwable =>
            fail(s"${d.name}: query construction threw: ${e.getMessage}")
        }
      val left = persisted -- before
      if (left.nonEmpty) leaks += s"${d.name}: RDDs ${left.toSeq.sorted.mkString(", ")}"
      fields.flatMap { f =>
        f.dataType match {
          case dt: DecimalType =>
            Some(s"${d.name}.${f.name}: $dt (unbounded-rational output — " +
              "emit scaled integers or a rounded double, §7.4)")
          case dt @ (_: ArrayType | _: MapType | _: StructType) =>
            Some(s"${d.name}.${f.name}: $dt (driver's pandas gate cannot " +
              "sort nested values — stringify)")
          case _ => None
        }
      }
    }
    assert(offenders.isEmpty,
      s"\n${offenders.size} driver-gate-unsafe output column(s):\n  " +
        offenders.mkString("\n  "))
    val leaked = leaks.result()
    assert(leaked.isEmpty,
      s"\n${leaked.size} queries left persisted RDDs behind:\n  " +
        leaked.mkString("\n  "))
  }
}
