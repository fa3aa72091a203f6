package graft

import org.apache.spark.sql.functions._

/** Round-19 (r13 verdict #2b): the x245 ANN bitext twin's PRUNING claim,
  * measured instead of argued. The sf fixtures' embeddings are
  * near-uniform, so radius-2 admission there is ~99 % of the cross
  * product (honestly documented at `Similarity.bitextAnnScored`); the
  * Scaladoc's counter-claim — that on CLUSTERED bitext embeddings the
  * identical plan admits a small fraction at radius ≤ 1 with the mutual
  * set intact — was until now a data-properties argument. This spec
  * builds that clustered regime deterministically and pins both halves.
  *
  * Fixture construction (fully content-derived — replays identically on
  * every run/JVM): candidate directions come from the SAME
  * `planeComponent` integer-hash chain the production hyperplanes use;
  * each direction's 16-bit signature is computed against the production
  * planes, and a greedy pass keeps only directions whose signatures are
  * ≥ 2 hamming bits apart in EVERY 4-bit band from every kept one — so
  * by construction no cross-direction pair can be admitted at radius 1,
  * while each kept direction hosts exactly one (en, fr) parallel pair
  * (fr = en + a small deterministic perturbation, cos ≈ 1).
  */
class Round19Spec extends SparkSuite {

  private val Planes = 16
  private val Dim = 64
  private val Bands = 4
  private val BandBits = 4

  private def hp: Array[Array[Double]] =
    Array.tabulate(Planes, Dim)((p, d) =>
      graft.operators.Similarity.planeComponent(p.toLong * Dim + d))

  private def sig(v: Array[Double], planes: Array[Array[Double]]): Int = {
    var s = 0
    for (p <- 0 until Planes) {
      var acc = 0.0
      var d = 0
      while (d < Dim) { acc += planes(p)(d) * v(d); d += 1 }
      if (acc > 0) s |= (1 << p)
    }
    s
  }

  private def bandVals(s: Int): Seq[Int] =
    (0 until Bands).map(b => (s >> (b * BandBits)) & ((1 << BandBits) - 1))

  private def everyBandFar(a: Int, b: Int): Boolean =
    bandVals(a).zip(bandVals(b)).forall { case (x, y) =>
      Integer.bitCount(x ^ y) >= 2
    }

  test("x245 clustered regime: radius-1 admission strictly sub-50%, mutual set preserved") {
    val planes = hp
    def perturb(c: Int): Array[Double] =
      Array.tabulate(Dim)(d =>
        graft.operators.Similarity.planeComponent(2000003L + c.toLong * Dim + d))

    // Target signatures: the 8 even-weight codewords of F₂⁴ (pairwise
    // hamming ≥ 2), repeated in all four bands — the LARGEST possible
    // per-band-distance-≥2 signature code (each band projection must
    // itself be a distance-2 code in a 16-value space, so ≤ 8), which is
    // exactly the property that makes cross-direction admission at
    // radius 1 impossible.
    val codewords = (0 until 16).filter(w => Integer.bitCount(w) % 2 == 0)
    val targets = codewords.map(cw => cw | (cw << 4) | (cw << 8) | (cw << 12))

    // Synthesize a direction hitting each target signature: start from
    // the signed plane sum and run a deterministic margin loop (add the
    // misclassified/low-margin plane back with its sign) until every
    // plane's projection clears ±0.5 — a perceptron with 16 constraints
    // in 64 dims, converges in a handful of rounds.
    def synth(target: Int): Array[Double] = {
      val v = Array.fill(Dim)(0.0)
      def sgn(p: Int): Double = if (((target >> p) & 1) == 1) 1.0 else -1.0
      for (p <- 0 until Planes; d <- 0 until Dim) v(d) += sgn(p) * planes(p)(d)
      var it = 0
      var done = false
      while (!done && it < 200) {
        done = true
        for (p <- 0 until Planes) {
          var acc = 0.0
          var d = 0
          while (d < Dim) { acc += planes(p)(d) * v(d); d += 1 }
          if (acc * sgn(p) < 0.5) {
            done = false
            var d2 = 0
            while (d2 < Dim) { v(d2) += sgn(p) * planes(p)(d2); d2 += 1 }
          }
        }
        it += 1
      }
      v
    }
    val kept = targets.map(t => (synth(t), t))
    kept.foreach { case (v, t) =>
      assert(sig(v, planes) == t,
        "margin loop failed to hit its target signature — fixture degenerate")
    }
    kept.combinations(2).foreach { case Seq((_, a), (_, b)) =>
      assert(everyBandFar(a, b),
        "signature code violates per-band distance 2 — fixture degenerate")
    }
    val K = kept.size
    assert(K == 8, s"expected the full 8-codeword fixture, got $K")

    // One (en, fr) parallel pair per direction. The fr twin is the en
    // vector plus a small deterministic perturbation — cos ≈ 1, and the
    // perturbation is small enough that at most a bit or two of the
    // signature can flip (radius 1 absorbs a 1-bit band flip).
    val enRows = kept.zipWithIndex.map { case ((v, _), i) =>
      (i.toLong, v.toSeq)
    }.toSeq
    val frRows = kept.zipWithIndex.map { case ((v, _), i) =>
      val p = perturb(i)
      (1000L + i, v.indices.map(d => v(d) + 0.05 * p(d)))
    }.toSeq
    import spark.implicits._
    val emb = (enRows ++ frRows).toDF("vec_id", "embedding")
    val docs = (enRows.map(r => (r._1, "en")) ++ frRows.map(r => (r._1, "fr")))
      .toDF("doc_id", "lang")

    val scored = graft.operators.Similarity
      .bitextAnnScored(spark, docs, emb, radius = 1)
      .localCheckpoint()
    val admitted = scored.count()
    val cross = K.toLong * K
    assert(admitted >= K,
      s"only $admitted candidates for $K parallel pairs — the index lost pairs")
    assert(admitted * 2 < cross,
      s"radius-1 admitted $admitted of $cross — not strictly sub-50%; " +
        "the clustered-regime pruning claim fails")

    // Recall: the ANN mutual-best set must equal the brute-force one.
    val en = emb.join(docs.filter(col("lang") === "en")
        .select(col("doc_id").as("vec_id")), "vec_id")
      .select(col("vec_id").as("en_id"), col("embedding").as("ev"))
    val fr = emb.join(docs.filter(col("lang") === "fr")
        .select(col("doc_id").as("vec_id")), "vec_id")
      .select(col("vec_id").as("fr_id"), col("embedding").as("fv"))
    graft.functions.GraftFunctions.register(spark)
    val bruteScored = en.crossJoin(fr).select(col("en_id"), col("fr_id"),
      round(call_function("graft_cosine",
        transform(col("ev"), (x: org.apache.spark.sql.Column) => x.cast("double")),
        transform(col("fv"), (x: org.apache.spark.sql.Column) => x.cast("double"))), 6)
        .as("cos"))
    val annMutual = graft.operators.Similarity.mutualBestPairs(scored)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val bruteMutual = graft.operators.Similarity.mutualBestPairs(bruteScored)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(bruteMutual.size == K,
      s"brute-force mutual set has ${bruteMutual.size} pairs, expected $K — " +
        "the parallel-pair construction drifted")
    assert(annMutual == bruteMutual,
      "radius-1 ANN mutual set diverges from the brute-force mutual set " +
        "on the clustered fixture — a true pair escaped the candidate set")
  }

  test("x250: pipeline ledger conserves the corpus stage by stage") {
    val docs = Tables.documents(spark, sfDir)
    val rows = SparkEntry.queries("x250_corpus_pipeline")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    def stage(n: Long): Map[String, Long] =
      rows.filter(_._1 == n).map(r => r._3 -> r._4).toMap
    val (a0, a1, a2, a3, a4) = (stage(0), stage(1), stage(2), stage(3), stage(4))
    assert(a0("all") == docs.count(), "stage-0 input row must equal |corpus|")
    assert(a1.values.sum == a0("all"),
      "stage-1 filter classes must partition the corpus")
    assert(a1.getOrElse("keep", 0L) > 0, "filter kept nothing — vacuous")
    assert(a1.keys.exists(_ != "keep"),
      "filter dropped nothing — the audit has no live drop reason")
    assert(a2.values.sum == a1("keep"),
      "stage-2 dedup classes must partition stage-1 survivors")
    assert(a3.values.sum == a2("keep"),
      "stage-3 apportion classes must partition stage-2 survivors")
    // Hamilton exactness: the selection is EXACTLY the 2/5 integer budget
    // (quotas sum to the budget; capping preserves the sum by
    // re-apportionment — the x187 invariant, preserved through composition).
    assert(a3.getOrElse("keep", 0L) == a2("keep") * 2 / 5,
      s"apportioned ${a3.getOrElse("keep", 0L)} != exact budget " +
        s"${a2("keep") * 2 / 5} of ${a2("keep")} docs")
    assert(a4.getOrElse("packed", -1L) == a3.getOrElse("keep", 0L),
      "stage-4 must pack exactly the stage-3 selection")
    assert(a4.getOrElse("sequences", 0L) >= 1,
      "packing produced no sequences")
    // The dedup stage must be live at this SF (the fixture plants near
    // dups): a pipeline whose dedup drops zero docs proves nothing.
    assert(a2.getOrElse("near_dup", 0L) > 0,
      "no near-dups dropped — stage 2 is vacuous on this fixture")
  }

  test("x250: apportionment fixpoint stays within the oracle's 4-round unroll") {
    // The composed pipeline re-runs x187's cascade over the POST-DEDUP
    // corpus; the oracle unrolls 4 rounds (trailing rounds are no-ops).
    // If the filtered source distribution ever needs more, the oracle
    // would silently diverge — pin it here instead.
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir)
    val fr = graft.queries.Round6bQueries.filterReport(spark, sfDir)
    val kept1 = fr.filter(col("reason") === "keep").select("doc_id")
    val docs1 = docs.join(kept1, "doc_id")
    val clusters = graft.operators.Dedup.dedupClusters(
      graft.operators.Dedup.minhashLshPairs(docs1, 0.8))
    val cj = clusters.join(graft.operators.TextAnalysis.qualityScore(docs1)
      .select("doc_id", "quality"), "doc_id")
    val m = cj.groupBy("cluster_id").agg(max(col("quality")).as("bq"))
    val canon = cj.join(m, "cluster_id")
      .filter(col("quality") === col("bq"))
      .groupBy("cluster_id").agg(min(col("doc_id")).as("canonical"))
    val dropped2 = clusters.join(canon, "cluster_id")
      .filter(col("doc_id") =!= col("canonical")).select("doc_id")
    val docs2 = docs1.join(dropped2, Seq("doc_id"), "left_anti")
    val ps = docs2.groupBy("source").agg(count(lit(1)).as("n_src"))
      .withColumn("w",
        when(col("source") === "src0", lit(40L))
          .otherwise((pmod(ascii(expr("substr(source, length(source), 1)")),
            lit(5)) + 1).cast("long")))
    val nt = docs2.agg(expr("count(1) * 2 DIV 5").as("n_budget"))
    val (_, rounds) = graft.queries.Round10Queries.cappedHamilton(ps, nt)
    assert(rounds <= 4,
      s"capped-Hamilton needed $rounds rounds post-dedup — the x250 oracle " +
        "unrolls only 4; raise the unroll")
  }

  /** The WARN messages `logger` logs while `body` runs. */
  private def warnsOf[T](logger: String)(body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("warnsOf", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val log = LoggerContext.getContext(false).getLogger(logger)
    log.addAppender(capture)
    try {
      val out = body
      (out, seen.toArray(Array.empty[String]).toSeq)
    } finally {
      log.removeAppender(capture)
      capture.stop()
    }
  }

  test("x251: drained streaming state equals the batch rebuild; >= 2 microbatches ran") {
    // The store reads list their b<i> directories: a glob path makes
    // FileStreamSink.hasMetadata log a WARN with a stack trace per read.
    val (drain, sinkWarns) = warnsOf(
        "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink") {
      graft.streaming.StreamingOps.streamingIncrementalDedupWithStats(spark, sfDir)
    }
    assert(sinkWarns.isEmpty, s"${sinkWarns.size} FileStreamSink WARN(s) " +
      s"during the drain, first: ${sinkWarns.take(1).mkString}")
    val streamed = drain.survivors.collect().map(_.getLong(0)).toSeq
    assert(drain.batches >= 2,
      s"only ${drain.batches} microbatch(es) — the incremental state " +
        "machine was never exercised across batches")
    val scratch = graft.operators.IncrementalDedup
      .scratchSurvivors(Tables.documents(spark, sfDir), 0.8)
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(streamed.nonEmpty, "no survivors — vacuous fixture")
    assert(streamed == scratch,
      s"drained survivors (${streamed.size}) differ from the from-scratch " +
        s"rebuild (${scratch.size})")
    // r14 verdict #5: the compacted corpus text store is bounded by the
    // CURRENT winners. (The sf fixture has no exact dups, so revocation
    // itself is exercised by the planted-dup test below.)
    assert(drain.compactedDocs == drain.winners,
      s"compacted docs store has ${drain.compactedDocs} rows for " +
        s"${drain.winners} winners — compaction kept revoked docs' text")
  }

  test("x251 revocation: compaction drops a later-revoked doc's text from the store") {
    // Planted-dup corpus: 24 distinct-text docs plus 8 exact-dup pairs
    // (i, 1000+i) — texts are deterministic word sequences with disjoint
    // vocabularies, so the ONLY dedup signal is the exact fingerprint.
    // The stager hash-splits doc ids over 4 files, so across 8 pairs some
    // pair lands with the LARGER id in an earlier microbatch — its kept
    // text is revoked when the smaller id arrives, which is exactly the
    // store-growth case compaction exists for; `kept > winners` WITNESSES
    // that it happened (deterministic: the staging is content-keyed).
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    // Regenerated UNCONDITIONALLY (r15 advice #4): an exists-check kept
    // testing a stale parquet across generator edits until a clean. It's
    // 32 tiny rows — overwrite every run.
    val fixDir = Paths.get("target", "graft_x251_fixture")
    locally {
      def text(seed: Long): String =
        (0 until 30).map(w => s"w${seed}x$w").mkString(" ")
      val base = (0L until 24L).map(i => (i, text(i)))
      val dups = (0L until 8L).map(i => (1000L + i, text(i * 3)))
      val rows = (base ++ dups).map { case (id, t) =>
        (id, t, "en", s"src${id % 3}", t.length.toLong)
      }
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite")
        .parquet(fixDir.resolve("documents.parquet").toString)
    }
    val drain = graft.streaming.StreamingOps
      .streamingIncrementalDedupWithStats(spark, fixDir.toString)
    assert(drain.batches >= 2, s"only ${drain.batches} microbatch(es)")
    assert(drain.winners == 24 && drain.arrivals == 32,
      s"expected 24 winners of 32 arrivals, got ${drain.winners} of " +
        s"${drain.arrivals} — exact dedup broke on the planted fixture")
    assert(drain.kept > drain.winners,
      s"kept (${drain.kept}) == winners (${drain.winners}) — no doc was " +
        "revoked after arrival; the fixture failed to exercise revocation")
    assert(drain.compactedDocs == drain.winners,
      s"compacted store has ${drain.compactedDocs} rows for " +
        s"${drain.winners} winners — revoked docs' text survived compaction")
    val survivors = drain.survivors.collect().map(_.getLong(0)).toSeq
    assert(survivors == (0L until 24L),
      s"survivors $survivors != the 24 base docs — a dup pair's winner " +
        "was mis-elected or a distinct doc was dropped")
  }

  test("x252: stored bucketed index answers == in-memory route; bucket pruning live") {
    val emb = Tables.embeddings(spark, sfDir)
    val stored = graft.operators.Similarity
      .annTopKBandedStored(spark, emb, sfDir, 0L, 10)
    val got = stored.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val mem = graft.operators.Similarity
      .annTopKBanded(spark, emb, 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.nonEmpty && got == mem,
      "stored-index route diverges from the in-memory route")
    val plan = stored.queryExecution.executedPlan.toString
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"no bucket pruning in the stored-index plan:\n$plan")
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
      s"bucket pruning selected all buckets: ${m.get.group(0)}")
    assert(!plan.contains("Exchange hashpartitioning(bv"),
      "the stored index side was shuffled — the bucketed layout was ignored")

    // The multiprobe stored route (x253) must equal ITS in-memory twin
    // too — same index table, wider probe fanout only.
    val storedM = graft.operators.Similarity
      .annTopKMultiprobeStored(spark, emb, sfDir, 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val memM = graft.operators.Similarity
      .annTopKMultiprobe(spark, emb, 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(storedM.nonEmpty && storedM == memM,
      "stored-index multiprobe route diverges from the in-memory route")
  }

  test("x254: stored IVF cells == in-memory route; cell-table pruning live by both mechanisms") {
    val emb = Tables.embeddings(spark, sfDir)
    val stored = graft.operators.Similarity
      .ivfTopKStored(spark, emb, sfDir, 0L, 10)
    val got = stored.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val mem = graft.operators.Similarity
      .ivfTopK(spark, emb, 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.nonEmpty && got == mem,
      "stored-IVF route diverges from the in-memory route")
    // Default planner: no distribution-requiring operator downstream, so
    // DisableUnnecessaryBucketedScan picks the plain reader — the pushed
    // In(cid, …) filter must still reach the scan (row-group pruning on
    // the cid-sorted bucket files).
    val plan = stored.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(cid"),
      s"cid probe filter not pushed to the cell-table scan:\n$plan")
    // Bucketed reading forced: the SAME plan must prune whole buckets.
    val prev = spark.conf
      .get("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    try {
      spark.conf
        .set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val bucketed = graft.operators.Similarity
        .ivfTopKStored(spark, emb, sfDir, 0L, 10)
      val gotB = bucketed.collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(gotB == mem, "bucketed-scan route diverges")
      val bPlan = bucketed.queryExecution.executedPlan.toString
      val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(bPlan)
      assert(m.isDefined,
        s"no bucket pruning with bucketed scan forced:\n$bPlan")
      assert(m.get.group(1).toInt < m.get.group(2).toInt,
        s"IVF probe scanned all cells: ${m.get.group(0)}")
    } finally spark.conf
      .set("spark.sql.sources.bucketing.autoBucketedScan.enabled", prev)
  }

  test("x245 byte gate: over-the-bar fr side falls back to plain equi-joins, same result") {
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val gatedOut =
      try {
        // force fallback: a 1-byte threshold scales the bar down to 6 bytes
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
        graft.operators.Similarity.bitextMineAnn(spark, docs, emb)
          .collect().map(_.toSeq).toSeq
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    val broadcastOut = graft.operators.Similarity.bitextMineAnn(spark, docs, emb)
      .collect().map(_.toSeq).toSeq
    assert(gatedOut.nonEmpty, "fallback path mined no pairs")
    assert(gatedOut == broadcastOut,
      "the co-partitioned fallback diverges from the broadcast path")
  }
}
