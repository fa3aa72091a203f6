package graft

/** Benchmark main (driver-run per round → BENCH_r{N}.json).
  *
  * Forces FULL evaluation of every query via the `noop` sink (count() alone
  * would let Catalyst prune projections and skip most of the work — that
  * would be benchmarking nothing). One warmup pass primes the JVM/codegen
  * caches so the timed pass measures the engine, not JIT.
  *
  * Wall-clock budget (r14 verdict #1 — BENCH_r14.json rc=124: the driver's
  * bench TIMED OUT and the round landed no record): the whole run now
  * works against a deadline (`SPARK_GRAFT_BENCH_DEADLINE_SEC`, default
  * 1260 s — well under the driver's observed ~30-min ceiling including sbt
  * compile). Degradation order, least-informative work first:
  *   1. remaining warmup runs are skipped once 40% of the budget is spent
  *      (min-of-2 absorbs most of the cold-start noise for the tail);
  *   2. the second timed pass stops when < 18% of the budget remains
  *      (pass-1 values stand — a complete single-pass record beats a
  *      truncated two-pass one);
  *   3. isolated re-runs are skipped per-entry when the entry's estimated
  *      cost (3× its in-suite time) no longer fits.
  * The per-query map is NEVER truncated by the deadline: pass 1 runs
  * unconditionally, and a SIGTERM mid-run triggers a shutdown hook that
  * writes/prints a parseable partial record ("partial":true) — a timeout
  * now yields data instead of error spam against a stopped SparkContext.
  *
  * Cheap-tail fast path (r14 verdict #2): ~200 of 273 queries run
  * sub-second; spending 3 executions each to measure noise is what
  * outgrew the driver window. Queries whose basis time (or, absent a
  * basis entry, their own pass-1 time) is < 1 s get warmup + ONE timed
  * run; the ≥ 1 s tail keeps the full warmup + min-of-2 protocol. The
  * drift gate compares SUMS, which sub-second jitter barely moves
  * (protocol change recorded in PERF.md round-15).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val wall0 = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - wall0) / 1e9
    val deadlineSec = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_DEADLINE_SEC", "1260").toDouble
    def remainingSec: Double = deadlineSec - elapsedSec

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    // var: the isolated-adjudication phase replaces the suite session with
    // a fresh one (see below) so its measurements escape accumulated JVM/
    // block-manager state.
    var spark = Sessions.local(cpus)

    def run(name: String): Double = {
      val t0 = System.nanoTime()
      // One checkpoint scope per run: the checkpoints a query makes
      // (shingle index, label propagation) are freed when it ends, so they
      // cannot pile up across queries and passes into storage-memory
      // pressure that slows LATER runs (x02: 2.0s isolated vs 5.5s
      // in-suite in r3). The shared co-purchase table is made outside any
      // scope and serves every graph query of the run (r11 verdict #4).
      try Checkpoints.scope(SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save())
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // --- host-noise calibration (r13 verdict #3): two fixed ~1 s probes
    // timed BEFORE the suite — a CPU row (range+hash aggregate, no I/O:
    // scheduler/CPU co-tenancy) and an IO row (one full lineitem scan:
    // page-cache/disk co-tenancy). Same warmup + min-of-2 protocol as
    // every other number. When either reads > 1.3x its committed
    // quiet-window reference the whole record is tagged "noisy": the
    // drift gate then knows this round's basis is inflated, and the
    // NEXT round's prior selection skips noisy records (r13's close
    // committed a 369.5 s host-co-tenancy artifact as the gate's prior —
    // a genuine ~13% regression next round would have read as flat).
    def timeCal(body: => Unit): Double = {
      body // warmup
      def once: Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      math.min(once, once)
    }
    def calibrate(): (Double, Double, Double) = {
      val cpu = timeCal {
        spark.range(0L, 1500000000L, 1L, cpus)
          .selectExpr("bit_xor(xxhash64(id)) AS s")
          .write.mode("overwrite").format("noop").save()
      }
      val io = timeCal {
        Tables.lineitem(spark, sfDir)
          .selectExpr("bit_xor(xxhash64(l_orderkey, l_extendedprice, l_returnflag)) AS s")
          .write.mode("overwrite").format("noop").save()
      }
      // WRITE probe (added after the r15 first official-shaped run): a
      // ~60 MB parquet write + commit. The cpu probe and the PAGE-CACHED
      // read probe are both blind to disk-WRITE contention — the r15 run
      // read quiet on both while fsync-heavy streaming state commits
      // inflated 10-19x and the batch tail 1.3-1.5x (sum 2.12x). This is
      // the co-tenancy mode that actually hits the suite hardest (every
      // microbatch commit, every shuffle spill, every stored-index build
      // writes), so the noisy tag must see it.
      val wrDir = java.nio.file.Files
        .createTempDirectory("graft_calwr_").toString
      val wr = timeCal {
        spark.range(0L, 4000000L, 1L, cpus)
          .selectExpr("id", "cast(id % 9973 as string) AS s",
            "id * 2654435761 AS h")
          .write.mode("overwrite").parquet(wrDir)
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wrDir))
      (cpu, io, wr)
    }
    val (calCpu, calIo, calWr) = calibrate()
    // Quiet-window references, measured on this host (min-of-2 after
    // warmup, idle box, r14); env-OVERRIDABLE (r14 advice #4) so a
    // hardware/image change doesn't freeze the basis forever — and a
    // stale-reference warning below fires when the host reads far BELOW
    // both references (the symmetric staleness signal: refs measured on
    // slower hardware never tag anything). sf-dependent IO reference:
    // only the official sf0.1 run is gated — other SFs record the probes
    // but never tag (their records are local smokes, not the round basis).
    val CalRefCpu = sys.env.get("SPARK_GRAFT_CAL_REF_CPU")
      .map(_.toDouble).getOrElse(0.55)
    val CalRefIo = sys.env.get("SPARK_GRAFT_CAL_REF_IO")
      .map(_.toDouble).getOrElse(0.42)
    // Write-probe reference: measured on this host right after the
    // contended window that motivated the probe had passed (r15:
    // min-of-2 readings 0.42-0.52 s with cpu/io both under their quiet
    // refs). Env-overridable like the other two.
    val CalRefWr = sys.env.get("SPARK_GRAFT_CAL_REF_WR")
      .map(_.toDouble).getOrElse(0.50)
    val isOfficialSf = new java.io.File(sfDir).getName == "sf0.1"
    def hot(cpu: Double, io: Double, wr: Double): Boolean =
      cpu > 1.3 * CalRefCpu || io > 1.3 * CalRefIo || wr > 1.3 * CalRefWr
    // Stale-ref warning covers ALL THREE probes (r15 verdict #7: a
    // hardware change read only off cpu/io could silently blind the new
    // write instrument): any two probes far below their refs is the
    // hardware-got-faster signal.
    val staleProbes = Seq(
      ("cpu", calCpu, CalRefCpu), ("io", calIo, CalRefIo),
      ("wr", calWr, CalRefWr)).filter { case (_, v, ref) => v < 0.6 * ref }
    if (isOfficialSf && staleProbes.size >= 2)
      System.err.println(f"[bench] WARNING calibration refs look STALE: " +
        staleProbes.map { case (n, v, ref) =>
          f"$n $v%.2fs (ref $ref%.2f)" }.mkString(", ") +
        " read far below refs — re-measure the quiet-window refs " +
        "(SPARK_GRAFT_CAL_REF_{CPU,IO,WR}) for this host")

    // Optional comma-separated name filter — local isolation experiments
    // only (the driver never sets it, so per-round numbers stay full-set).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))

    def ms(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    // Per-query: DECIsecond precision and zero-stripped ids ("q1",
    // "x5", "x116" — the driver contract's own example key style). r6's
    // centisecond encoding overflowed the driver's 2000-char stdout tail
    // at 176 queries and elided 20; one decimal (~10.5 B/query) keeps all
    // ~178 queries visible in the official record (r6 verdict task 9 —
    // full 3-decimal precision is always in target/bench.json).
    // Integral deciseconds drop the redundant ".0" ("2.0" → "2", still a
    // valid JSON number of seconds) — ~9 entries per run, and those ~18
    // bytes are what keeps the 180-query map inside the tail cap.
    def cs(v: Double): String = {
      val s = BigDecimal(v).setScale(1, BigDecimal.RoundingMode.HALF_UP)
      if (s.isWhole) s.toBigInt.toString else s.toString
    }
    def sid(k: String): String = {
      val id = k.takeWhile(_ != '_')
      val digits = id.tail.dropWhile(_ == '0')
      s"${id.head}${if (digits.isEmpty) "0" else digits}"
    }
    // Stdout-line id: the x prefix carries no information ("165" can only
    // be x165 — q-ids keep their q), and dropping it buys ~165 bytes of
    // the 1910-byte stdout budget — the difference between a complete
    // 187-query map and an elided one. q-ids keep the prefix so the
    // driver-contract example key "q1" stays literal.
    def outId(k: String): String = {
      val s = sid(k)
      if (s.head == 'x') s.tail else s
    }
    // Two queries may never collapse onto one short id ("x05" and a future
    // "x5" would silently merge their timings in the JSON map).
    require(names.map(outId).distinct.size == names.size,
      "zero-stripped bench ids must be unique")

    // Prior times (parsed BEFORE the suite: they now also drive the
    // cheap-tail fast path). Quiet-basis preference (r13 verdict #3):
    // BENCH_BASIS.json — the most recent full sf0.1 run whose calibration
    // row read quiet, self-maintained below — beats the newest driver
    // record, because the newest record can be a host-co-tenancy artifact
    // (r13's committed close was 369.5 s vs same-code quiet-window
    // 321.4 s; with it as basis a real ~13% regression would read as
    // flat). Among driver records, skip any tagged "noisy".
    val priorTimes: Map[String, Double] = {
      def parse(f: java.io.File): Map[String, Double] = {
        val txt = new String(java.nio.file.Files.readAllBytes(f.toPath),
          java.nio.charset.StandardCharsets.UTF_8)
        // Value may be integral ("x152":7) since the .0-stripping change —
        // the decimal part is optional or the whole-decisecond entries
        // vanish from next round's drift adjudication.
        // Accepts both the pre-r9 x-prefixed ids and the bare-digit ids
        // the stdout line now carries.
        val pairRe = """\\?"([qx]?\d+)\\?":(\d+(?:\.\d+)?)""".r
        pairRe.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap // last wins
      }
      val basis = new java.io.File("BENCH_BASIS.json")
      if (basis.isFile) parse(basis)
      else {
        val dir = new java.io.File(".")
        val benchRe = "BENCH_r(\\d+)\\.json".r
        val files = Option(dir.listFiles()).getOrElse(Array.empty)
          .flatMap(f => f.getName match {
            case benchRe(n) => Some(n.toInt -> f)
            case _ => None
          })
        val quiet = files.sortBy(-_._1).find { case (_, f) =>
          !new String(java.nio.file.Files.readAllBytes(f.toPath),
            java.nio.charset.StandardCharsets.UTF_8).contains("\"noisy\":true")
        }
        quiet.orElse(files.sortBy(_._1).lastOption)
          .map { case (_, f) => parse(f) }.getOrElse(Map.empty)
      }
    }
    def basisTime(n: String): Option[Double] =
      priorTimes.get(outId(n)).orElse(priorTimes.get(sid(n)))

    // ---- state shared with the SIGTERM shutdown hook -------------------
    // Best-so-far per query (pass-1 value, improved by pass 2); concurrent
    // map + volatiles because the hook reads them from another thread.
    val timings = new scala.collection.concurrent.TrieMap[String, Double]()
    val isolatedAcc =
      new scala.collection.concurrent.TrieMap[String, (Double, Boolean)]()
    // Names whose warmup was deadline-skipped — their pass-1 number ran
    // COLD and may carry one-time JIT/codegen cost (r15 verdict #3: a
    // reader must be able to tell "156x because first-ever execution"
    // from "156x regression" without the basis map).
    val coldNames = new scala.collection.concurrent.TrieMap[String, Unit]()
    @volatile var calEndOpt: Option[(Double, Double, Double)] = None
    @volatile var prebuildSec = 0.0
    @volatile var warmupSkipped = 0
    @volatile var pass2Skipped = 0
    @volatile var isoSkipped = 0
    @volatile var driftedSampledNote = ""
    @volatile var done = false
    def merge(n: String, v: Double): Unit = timings.updateWith(n) {
      case Some(old) =>
        // One failed execution must not erase a successful one (max picks
        // the success); two successes keep the minimum (the protocol).
        Some(if (old < 0 || v < 0) math.max(old, v) else math.min(old, v))
      case None => Some(v)
    }

    // ---- record emission (shared by the normal path and the hook) ------
    def emitRecord(partial: Boolean): Unit = {
      val results: Seq[(String, Double)] =
        names.filter(timings.contains).map(n => n -> timings(n))
      if (results.isEmpty) { println("""{"metric":"total","value":-1,"unit":"sec","queries":{},"partial":true}"""); return }
      val isolated: Seq[(String, Double, Boolean)] =
        isolatedAcc.toSeq.sortBy(_._1)
          .map { case (n, (v, adj)) => (n, v, adj) }
      val noisy = isOfficialSf && (hot(calCpu, calIo, calWr) ||
        calEndOpt.exists { case (c, i, w) => hot(c, i, w) })
      if (noisy && !partial)
        System.err.println(f"[bench] WARNING calibration noisy: start cpu " +
          f"$calCpu%.2fs io $calIo%.2fs wr $calWr%.2fs, end " +
          calEndOpt.map { case (c, i, w) =>
            f"cpu $c%.2fs io $i%.2fs wr $w%.2fs" }
            .getOrElse("(not run)") +
          f" (refs $CalRefCpu%.2f/$CalRefIo%.2f/$CalRefWr%.2f, bar 1.3x)" +
          " — record tagged; drift basis for next rounds should skip it")
      val total = results.map(_._2).filter(_ >= 0).sum

      // --- suite-level drift gate (r11 verdict #5): the common-query sum
      // vs the prior round's record; flags at 1.25x. Same-SF only.
      val commonDrift: Option[String] =
        if (only.nonEmpty || priorTimes.isEmpty ||
            new java.io.File(sfDir).getName != "sf0.1") None
        else {
          val common = results.filter { case (n, v) =>
            v >= 0 && priorTimes.contains(outId(n))
          }
          if (common.isEmpty) None
          else {
            val prior = common.map(c => priorTimes(outId(c._1))).sum
            val now = common.map(_._2).sum
            val alarm = prior > 0 && now > 1.25 * prior
            if (alarm && !partial)
              System.err.println(f"[bench] WARNING common-query drift: " +
                f"${common.size} shared queries $now%.1fs vs prior " +
                f"$prior%.1fs (> 1.25x) — adjudication required")
            Some(s""""common_drift":{"n":${common.size},"prior":${ms(prior)},"now":${ms(now)},"alarm":$alarm}""")
          }
        }
      val qs = results
        .map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val isoFull = isolated
        .map { case (k, v, _) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val driftFull = commonDrift.map("," + _).getOrElse("")
      val calEndStr = calEndOpt
        .map { case (c, i, w) =>
          s""","cpu_end":${ms(c)},"io_end":${ms(i)},"wr_end":${ms(w)}""" }
        .getOrElse("")
      val calFull =
        s""","calibration":{"cpu":${ms(calCpu)},"io":${ms(calIo)},"wr":${ms(calWr)}$calEndStr,"ref_cpu":$CalRefCpu,"ref_io":$CalRefIo,"ref_wr":$CalRefWr,"noisy":$noisy}"""
      // Budget accounting rides the full record so a truncated round is
      // diagnosable from the committed JSON alone. "cold" names the
      // queries whose timed pass ran without warmup (r15 verdict #3) —
      // full record only; the stdout line carries warmup_skipped.
      val coldFull =
        if (coldNames.isEmpty) ""
        else coldNames.keys.toSeq.sorted
          .map(n => "\"" + outId(n) + "\"").mkString(""","cold":[""", ",", "]")
      val budgetFull =
        s""","budget":{"deadline":${deadlineSec.toInt},"elapsed":${ms(elapsedSec)},"prebuild":${ms(prebuildSec)},"warmup_skipped":$warmupSkipped,"pass2_skipped":$pass2Skipped,"iso_skipped":$isoSkipped${if (driftedSampledNote.nonEmpty) s""","drifted_sampled":"$driftedSampledNote"""" else ""}$coldFull}"""
      val partialFull = if (partial) ""","partial":true""" else ""
      val json =
        s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"isolated":$isoFull$driftFull$calFull$budgetFull$partialFull,"sf":"$sfDir"}"""
      java.nio.file.Files.write(java.nio.file.Paths.get("target/bench.json"),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // The complete official record is the committed file; stdout is the
      // at-a-glance summary. FULL official-SF runs only — a partial,
      // filtered, or off-SF run must never overwrite the official record
      // (r9 advice + the same defect class for SF).
      if (only.isEmpty && isOfficialSf && !partial) {
        java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LOCAL.json"),
          json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // Self-maintained quiet basis (r13 verdict #3): a full official-SF
        // run whose calibration read QUIET, whose common-query drift did
        // not alarm, AND whose drift was NEAR-FLAT (common sum <= 1.05x
        // the basis — the r14-measured ratchet guard: three same-night
        // runs at 321 -> 376 -> 425 s each individually adjudicated clean
        // and compounded +32% basis inflation; a <=5% step cannot
        // compound past the alarm bar before a genuinely quiet run resets
        // it) becomes the next drift-gate basis. SHORT-id keys on purpose
        // — priorTimes' pair regex parses only the compact `"x90":0.93`
        // form (full names carry underscores).
        val alarmed = commonDrift.exists(_.contains("\"alarm\":true"))
        val nearFlat = commonDrift.forall { d =>
          val re = """"prior":([0-9.]+),"now":([0-9.]+)""".r
          re.findFirstMatchIn(d).forall { m =>
            m.group(2).toDouble <= 1.05 * m.group(1).toDouble
          }
        }
        val stamp = java.time.Instant.now().toString
        def writeBasis(entries: Seq[(String, Double)], note: String): Unit = {
          val basisQs = entries
            .map { case (k, v) => "\"" + k + "\":" + ms(v) }
            .mkString("{", ",", "}")
          val tot = ms(entries.map(_._2).sum)
          val basisJson =
            s"""{"metric":"total","value":$tot,"unit":"sec","basis_note":"$note","queries":$basisQs$calFull,"sf":"sf0.1"}"""
          java.nio.file.Files.write(
            java.nio.file.Paths.get("BENCH_BASIS.json"),
            basisJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        val okEntries = results.filter(_._2 >= 0)
          .map { case (k, v) => outId(k) -> v }
        if (!noisy && !alarmed && nearFlat)
          writeBasis(okEntries, s"full quiet run $stamp")
        else if (!noisy && !alarmed) {
          // Quiet probes, no alarm, but not near-flat (1.05-1.25x band):
          // the existing basis entries stand (the r14-measured ratchet
          // guard), but BASIS-BLIND queries get SEEDED from this run —
          // r15 verdict #2: x250-x256 stayed basis-blind for two rounds,
          // which blinded the warmup estimator and made their driver-
          // record numbers unadjudicable. A mildly-inflated seed beats
          // no seed and is replaced by the next genuinely-flat run.
          val missing = okEntries.filterNot { case (k, _) =>
            priorTimes.contains(k) }
          if (missing.nonEmpty)
            writeBasis(priorTimes.toSeq.sortBy(_._1) ++ missing,
              s"merged ${missing.size} new-query entries from run $stamp")
        }
      }
      def shortLine(rs: Seq[(String, Double)], note: String,
          withIso: Boolean): String = {
        val qs = rs.map { case (k, v) => "\"" + outId(k) + "\":" + cs(v) }
          .mkString("{", ",", "}")
        // Stdout carries the INFORMATIVE isolated entries: every
        // drift/pin-triggered adjudication (its number is a verdict
        // either way — "confirmed regression" vs "co-tenancy artifact"),
        // plus any routine top-N entry whose isolated time actually
        // differs from the in-suite time (>20% and >0.5 s). The FULL
        // isolated map is always in target/bench.json.
        val informative = isolated.filter { case (k, v, adjudicating) =>
          val suite = timings.getOrElse(k, v)
          adjudicating || math.abs(v - suite) > math.max(0.5, 0.2 * suite)
        }
        val iso =
          if (!withIso || informative.isEmpty) ""
          else informative
            .map { case (k, v, _) => "\"" + outId(k) + "\":" + cs(v) }
            .mkString(""","isolated":{""", ",", "}")
        val sfShort = new java.io.File(sfDir).getName
        s"""{"metric":"total","value":${cs(total)},"unit":"sec"$note$iso,"queries":$qs,"sf":"$sfShort"}"""
      }
      // Keep the stdout line inside the driver's 2 KB stdout tail: the
      // overhead sharing that tail is sbt's "[info] " prefix (7 B), the
      // trailing "[success] Total time: …" line (~77 B) and two newlines —
      // measured ~90 B, so cap at 1910. Priority order (r7 lesson — the
      // isolated map crowded out 30 per-query times from the official
      // record): (1) complete queries map + isolated map; (2) complete
      // queries map, isolated only in target/bench.json; (3) elide the
      // FEWEST fastest queries that make it fit (step of 1, not 10) with
      // an elided count — a truncated-but-parseable line beats an
      // overflowing complete one.
      val lineCap = 1910
      val truncated = warmupSkipped + pass2Skipped + isoSkipped > 0
      val driftNote =
        (if (partial) ""","partial":true""" else "") +
          (if (truncated) ""","trunc":true""" else "") +
          (if (commonDrift.exists(_.contains("\"alarm\":true")))
            ""","drift_alarm":true""" else "") +
          s""","cal":{"cpu":${cs(calCpu)},"io":${cs(calIo)},"wr":${cs(calWr)}}""" +
          (if (noisy) ""","noisy":true""" else "")
      val withIsoLine = shortLine(results, driftNote, withIso = true)
      val noIsoLine = shortLine(results, driftNote, withIso = false)
      val compact =
        if (withIsoLine.length <= lineCap) withIsoLine
        else if (noIsoLine.length <= lineCap) noIsoLine
        else {
          val bySlow = results.sortBy(-_._2)
          var keep = bySlow.length
          var line = noIsoLine
          while (line.length > lineCap && keep > 1) {
            keep -= 1
            line = shortLine(bySlow.take(keep).sortBy(_._1),
              s""","elided":${results.length - keep}$driftNote""",
              withIso = false)
          }
          line
        }
      println(compact)
    }

    // SIGTERM / timeout safety net (r14 verdict #1c): even a kill mid-run
    // yields a parseable partial record — the hook reads the concurrent
    // state and emits; it never touches the (possibly stopping) session.
    val hook = new Thread(() => if (!done) emitRecord(partial = true))
    Runtime.getRuntime.addShutdownHook(hook)

    // ---- phase 1: warmup (JIT + codegen caches). Deadline-skippable:
    // min-of-2 absorbs most cold-start noise for whatever tail goes
    // unwarmed, and a complete timed record outranks warm numbers.
    // MOST-EXPENSIVE-FIRST (post-r15-run-2): under truncation the
    // alphabetical order left the late-name stored-index queries cold,
    // so their timed pass recorded one-time BUILD cost (x255 read 21.9 s
    // where the warm probe is sub-second) — a plan distortion, not a
    // timing one. Expensive-first makes truncation cost the SUB-SECOND
    // tail its warmup (+0.2-0.5 s each, bounded), never a build.
    // Basis-blind (new) queries warm FIRST: unknown cost may include a
    // one-time index build, exactly what must not slip into pass 1.
    // Besides the fixed 40%-of-budget cap, warmup also stops when the
    // PROJECTED pass-1 cost (suite basis sum × the inflation this very
    // warmup is observing, discounted by warmup's inherent ~1.25
    // cold-start factor) no longer fits the remaining budget — under the
    // r15 2.3× write-contention runs this trades ~2 min of tail warmup
    // for pass 1 landing inside the deadline; on a quiet host the
    // projection never binds (pass-1 projection ≈ 380 s against a
    // ~840 s remainder at the point it could first fire).
    // The inflation estimate accumulates over basis-KNOWN queries only:
    // basis-blind (new) queries warm first and may pay one-time index
    // builds — crediting them 1 s of basis while `spent` carries their
    // 10-20 s builds drove the estimate to the cap on r15 run 3 and
    // killed ALL remaining warmup (warmup_skipped=266) on a host the
    // isolated column read as merely ~1.4x contended.
    // ---- phase 0: PREBUILD (r15 verdict #5) — one-time staged fixtures,
    // persisted index builds, and the shared graph derivation run as
    // SETUP, counted in the budget's own field, so a deadline-truncated
    // warmup can no longer leave a one-time build riding a timed pass-1
    // number (r15's driver record read x255 at 21.9 s, warm probe <1 s).
    // Idempotent + content-keyed: with the cross-JVM adoption in
    // StoredTables this costs seconds after the first-ever run.
    if (only.isEmpty) prebuildSec = Prebuild.run(spark, sfDir)

    val basisSumAll = names.map(n => basisTime(n).getOrElse(1.0)).sum
    var warmedBasis = 0.0
    var warmedSpent = 0.0
    names.sortBy(n => -basisTime(n).getOrElse(1e9)).foreach { n =>
      val infl =
        if (warmedBasis < 15) 1.0
        else math.min(4.0, math.max(1.0, warmedSpent / warmedBasis / 1.25))
      if (remainingSec < 0.60 * deadlineSec ||
          remainingSec < 1.1 * basisSumAll * infl) {
        warmupSkipped += 1
        coldNames.put(n, ())
      }
      else {
        val t0 = elapsedSec
        run(n)
        basisTime(n).foreach { bt =>
          warmedBasis += bt
          warmedSpent += elapsedSec - t0
        }
      }
    }
    // ---- phase 2: timed pass 1 — unconditional: the official per-query
    // map must be complete (a record missing queries fails the round no
    // matter how fast it ran).
    names.foreach(n => merge(n, run(n)))
    // ---- phase 3: timed pass 2 — min-of-2 for the ≥1 s tail only (the
    // cheap-tail fast path, r14 verdict #2); single-pass numbers showed
    // up to 6x noise on first post-warmup execution for SLOW queries
    // (GC/compilation stragglers), which is what min-of-2 exists for.
    // Sub-second queries keep their pass-1 number. Failures always get
    // the retry. Isolation experiments (ONLY set) keep full min-of-2.
    // ---- isolated-adjudication FLOOR (r15 verdict #4): in the r15
    // driver run the adjudication column vanished exactly when needed
    // (iso_skipped 15, isolated {}) because pass 2 spent the budget
    // first and each entry's cost estimate — 3x its co-tenancy-INFLATED
    // in-suite time — priced every entry out. The floor is the pins plus
    // the top-2 drifted-by-ratio queries (≤3 entries), costed from their
    // BASIS time; pass 2 degrades BEFORE it, and floor entries get a
    // bounded overrun allowance past the deadline.
    val pinnedIsolated = Set("x137_incremental_dedup")
    val floorNames: Vector[String] = if (only.nonEmpty) Vector.empty else {
      val driftedByRatio = names.collect {
        case n if timings.get(n).exists(v => basisTime(n).exists(p =>
          p >= 0.05 && v > 1.5 * p && v - p > 0.1)) =>
          n -> (timings(n) / basisTime(n).get)
      }.sortBy(-_._2).map(_._1)
      (names.filter(pinnedIsolated) ++
        driftedByRatio.filterNot(pinnedIsolated)).take(3).toVector
    }
    def isoEst(n: String): Double =
      3 * math.max(0.0,
        basisTime(n).getOrElse(timings.getOrElse(n, 1.0))) + 5
    val floorCost =
      if (floorNames.isEmpty) 0.0 else floorNames.map(isoEst).sum + 50
    // 300 s: measured r16 run 1 — pass 1 alone overran the deadline by
    // 133 s under 3x start-of-run write contention, so a 180 s allowance
    // still skipped the pins; the SIGTERM hook backstops a driver kill
    // mid-floor with a partial record either way.
    val isoFloorOverrun = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_ISO_FLOOR_OVERRUN", "300").toDouble

    val tail1s = names.filter { n =>
      val p1 = timings.getOrElse(n, -1.0)
      p1 < 0 || only.nonEmpty || basisTime(n).getOrElse(p1) >= 1.0
    }
    // Cold cheap-tail retry (r16): a warmup-skipped sub-second query
    // keeps a SINGLE pass-1 number that carries its JIT/codegen cold
    // start — ~200 such queries × 0.2-0.5 s inflates the drift sum by
    // 40-100 s in a truncated run with no regression anywhere. When
    // budget remains after the ≥1 s tail's pass 2, cold cheap queries
    // get their min-of-2 back (warm this time). Ordered AFTER the tail
    // so the informative retries happen first; degrades to nothing
    // under the same budget gate.
    val tail1sSet = tail1s.toSet
    val coldCheap = names.filter(n => coldNames.contains(n) &&
      !tail1sSet(n) && timings.getOrElse(n, -1.0) >= 0)
    (tail1s ++ coldCheap).foreach { n =>
      if (remainingSec < math.max(0.18 * deadlineSec, floorCost)) {
        // Optional cold retries don't count against pass2_skipped — that
        // field means "a ≥1 s query lost its min-of-2", which stays
        // comparable across rounds.
        if (tail1sSet(n)) pass2Skipped += 1
      }
      else {
        merge(n, run(n))
        // A retried query is no longer cold (min-of-2 absorbed the cold
        // start) — drop it from the record's cold list so the tag keeps
        // meaning "this number may carry one-time cold-start cost".
        coldNames.remove(n)
      }
    }
    // END-of-suite calibration (r14): the start probe alone missed a
    // co-tenant that RAMPED during the run — probing again at suite end
    // makes a mid-run environment shift visible in the record itself;
    // either reading above the bar tags the record noisy.
    calEndOpt = Some(calibrate())

    // ---- phase 4: isolated adjudication, CAPPED at 16 entries (r14
    // verdict #1b — the drift trigger fires per-query, so uniform host
    // inflation, the exact condition the column adjudicates, used to
    // trigger dozens of isolated re-runs; 68 entries x 3 executions is
    // what pushed r14 over the driver budget). Composition: adjudicating
    // pins first, then a deterministic SAMPLE of drifted queries (when
    // >cap drift uniformly, that IS the co-tenancy verdict — the sample
    // carries it), then the top-10 in-suite costs (r8 verdict #7 / r13
    // verdict #7). Ordered most-informative-first so a deadline skip
    // loses the least.
    val results1 = names.filter(timings.contains).map(n => n -> timings(n))
    // x137 is pinned (pinnedIsolated, defined before pass 2 where the
    // floor is computed): its r6 in-suite time (28.1 s) was 4x its
    // isolated time and the verdict asked for the gap to be pinned down
    // IN the official record each round, not presumed co-tenancy.
    val topIsolated = results1.sortBy(-_._2).take(10).map(_._1)
    val drifted = results1.collect {
      case (n, v) if basisTime(n).exists(p =>
        p >= 0.05 && v > 1.5 * p && v - p > 0.1) => n
    }
    val isoCap = 16
    val pins = names.filter(pinnedIsolated).toVector
    val driftedOnly = drifted.filterNot(pinnedIsolated).sorted.toVector
    val driftSpace = math.max(0, isoCap - pins.size - topIsolated.size)
    val driftedSample =
      if (driftedOnly.size <= driftSpace) driftedOnly
      else if (driftSpace == 0) Vector.empty
      else {
        driftedSampledNote = s"$driftSpace/${driftedOnly.size}"
        // Evenly spaced over the name-sorted list: deterministic, and it
        // spans the suite's families instead of clustering at one prefix.
        Vector.tabulate(driftSpace)(i =>
          driftedOnly((i * driftedOnly.size) / driftSpace))
      }
    if (driftedOnly.size > driftSpace)
      System.err.println(s"[bench] drifted=${driftedOnly.size} exceeds the " +
        s"isolated budget; sampling $driftSpace (uniform drift IS the " +
        "co-tenancy verdict — the sample carries it)")
    // FLOOR entries lead (r15 verdict #4): they were budget-reserved
    // ahead of pass 2 and carry a bounded overrun allowance below.
    val toIsolate: Seq[(String, Boolean)] =
      if (only.nonEmpty) Seq.empty // isolation experiments: skip adjudication
      else (floorNames.map(n => n -> true) ++
        (pins ++ driftedSample).filterNot(floorNames.contains)
          .map(n => n -> true) ++
        topIsolated.filterNot(n => pinnedIsolated(n) ||
          driftedSample.contains(n) || floorNames.contains(n))
          .map(n => n -> false)).take(isoCap)
    // The isolated re-runs happen in a FRESH SparkSession after a full GC:
    // r11's record showed the end-of-suite re-runs reading HIGHER than
    // in-suite for five of eight entries — after 246 queries x 3 passes
    // the accumulated session/JVM state dominated the measurement and the
    // column INVERTED its purpose. Stopping the suite session drops the
    // block manager, broadcast blocks, and listener queues; the JIT and
    // the JVM-global codegen cache survive, so the fresh session still
    // measures warm code (min-of-2 absorbs the rest).
    // Don't pay the ~10-15 s fresh-session restart when no entry can fit
    // the remaining budget anyway (r15 run 2 restarted at -90 s).
    if (toIsolate.nonEmpty && (remainingSec > 60 ||
        (floorNames.nonEmpty && remainingSec + isoFloorOverrun > floorCost))) {
      spark.stop()
      System.gc()
      spark = Sessions.local(cpus)
      toIsolate.foreach { case (n, adjudicating) =>
        // Per-entry deadline gate (same protocol: one UNTIMED warmup run
        // — r12 verdict #3: the columns must measure the same thing to
        // adjudicate co-tenancy — then min-of-2 timed) plus slack for
        // the emission tail. The estimate comes from the BASIS time when
        // known (r15 verdict #4: 3x a co-tenancy-inflated in-suite time
        // priced adjudication out exactly when it was needed); FLOOR
        // entries additionally get a bounded overrun allowance past the
        // deadline — pass 2 already degraded in their favor.
        val est = isoEst(n)
        val slack = if (floorNames.contains(n)) -isoFloorOverrun else 45
        if (remainingSec < est + slack) isoSkipped += 1
        else {
          run(n)
          isolatedAcc.put(n, (math.min(run(n), run(n)), adjudicating))
        }
      }
    } else isoSkipped += toIsolate.size
    if (isoSkipped > 0)
      System.err.println(s"[bench] deadline: skipped $isoSkipped isolated " +
        s"entries (${ms(remainingSec)}s of budget left)")
    // Sanity check on the protocol itself (r11 verdict #2): a CONFIRMING
    // isolated number materially above in-suite means the fresh-session
    // reset failed to remove the co-tenancy — surface it loudly (stderr,
    // not a crash: the full-suite record must still land for the round).
    // Guard: both numbers must be SUCCESSES — a query that failed in-suite
    // (-1.0, e.g. pinned x137 under a broken build) but succeeds isolated
    // would make the comparison trivially true and print a nonsense
    // warning (r12 advice #2).
    isolatedAcc.foreach { case (n, (iso, _)) =>
      val suite = timings.getOrElse(n, iso)
      if (suite >= 0 && iso >= 0 && iso > 1.5 * suite && iso - suite > 1.0)
        System.err.println(f"[bench] WARNING isolated inversion: $n " +
          f"isolated $iso%.1fs > 1.5x in-suite $suite%.1fs")
    }

    // Printed ONCE, after stop: the driver keeps only the LAST 2000 stdout
    // chars, and r6's belt-and-braces double print cost the tail window a
    // full copy of the line — the single post-stop print leaves room for
    // the whole query map plus sbt's trailing [success] line.
    done = true
    Runtime.getRuntime.removeShutdownHook(hook)
    spark.stop()
    emitRecord(partial = false)
  }
}
