package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators over the `documents` table — the north-star
  * LLM-pipeline ops (BASELINE.json). Four families:
  *
  *  - exact (hash groupBy)            → q17 / x01
  *  - exact n-gram Jaccard pairs      → x02 (inverted shingle index join)
  *  - MinHash + LSH banded candidates → x03 (verified → same output as x02)
  *  - SimHash banded hamming pairs    → x04
  *
  * Scale design: everything is join/groupBy on content-derived keys —
  * shuffles partition by shingle / band signature / simhash chunk, never by
  * document, so 1000 executors each see a slice of the inverted index. The
  * known 100 TB hazard is ultra-frequent shingles (boilerplate) exploding
  * the shingle-join; the mitigation (drop shingles with document frequency
  * above a cap — they carry no discriminative signal) is noted inline.
  */
object Dedup {

  /** Exact-dedup survivor set: keep the smallest doc_id per normalized text.
    * Pure hash aggregation — the canonical exact dedup at any scale.
    */
  def exactKeepFirst(docs: DataFrame): DataFrame =
    docs.groupBy(lower(col("text")).as("norm"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")

  /** Exact all-pairs n-gram Jaccard via an inverted shingle index:
    * shingle → docs, self-join on shingle, count common shingles per pair,
    * J = common / (|A| + |B| - common).
    *
    * At 100 TB: the self-join shuffles by shingle (good: uniform-ish keys);
    * add a document-frequency cap filter on `sh` (e.g. df < 10^4) before the
    * join to neutralize boilerplate-shingle skew. With a cap, Jaccard is
    * computed consistently over the RETAINED shingle space (numerator and
    * denominator both exclude dropped hot shingles) — an exact similarity on
    * the discriminative shingles, at the cost of ignoring shared boilerplate.
    */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double,
      maxDocFreq: Option[Long] = None): DataFrame = {
    // The shingle set is referenced 3× (join sides + sizes); without
    // materialization the scan→tokenize→window pipeline re-runs for each
    // reference (5 FileScans, 7 Window ops observed). localCheckpoint
    // computes it once; at warehouse scale this would be a persisted
    // shingle index table instead — that path is
    // [[ngramJaccardPairsFromShingles]] (BucketingSpec proves the bucketed
    // index self-joins with no exchange).
    ngramJaccardPairsFromShingles(
      TextOps.shingles(docs).localCheckpoint(), threshold, maxDocFreq)
  }

  /** The inverted-index core over an ALREADY MATERIALIZED `(doc_id,
    * shingle)` set — at 100 TB this input is a persisted table bucketed by
    * `shingle`, so the self-join below is co-located (no exchange on the
    * fact-sized side; only the (a,b) pair aggregation shuffles).
    */
  def ngramJaccardPairsFromShingles(shingles: DataFrame, threshold: Double,
      maxDocFreq: Option[Long] = None): DataFrame = {
    val shAll = shingles
    // Skew guard for the inverted-index join: a boilerplate shingle
    // appearing in d documents contributes d² join rows. Dropping shingles
    // with document frequency > maxDocFreq caps the worst key's fan-out;
    // they carry no discriminative signal. Sizes are computed from the SAME
    // capped set as the common counts, so the reported value is the exact
    // Jaccard over retained shingles (numerator and denominator agree) —
    // mixing a capped numerator with full-set denominators would silently
    // underestimate pairs that share dropped hot shingles.
    val sh = maxDocFreq match {
      case None => shAll
      case Some(cap) =>
        val hot = shAll.groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("shingle")
        shAll.join(broadcast(hot), Seq("shingle"), "left_anti")
    }
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val common = sh.as("x").join(sh.as("y"),
        col("x.shingle") === col("y.shingle") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("c"))
    common
      .join(sizes.as("sa"), col("a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("b") === col("sb.doc_id"))
      .select(col("a"), col("b"),
        round(col("c") / (col("sa.n") + col("sb.n") - col("c")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** PPJoin-style prefix-filtered exact Jaccard join (Bayardo All-Pairs /
    * Xiao PPJoin): order each doc's shingles by ASCENDING global document
    * frequency (rarest first, shingle text as tiebreak — a global total
    * order) and index only the first `n − ⌈t·n⌉ + 1` of them. Candidates
    * are prefix(x) ⋈ PREFIX(y) — both sides pruned — further cut by the
    * LENGTH filter `min(|x|,|y|) ≥ t·max(|x|,|y|)` inside the join
    * condition.
    *
    * Completeness (so the output EXACTLY equals x02's and shares its
    * oracle — the hash gate is the proof on real data):
    *  - jac(x,y) ≥ t ⇒ |x∩y| ≥ t/(1+t)·(|x|+|y|) ≥ t·max(|x|,|y|), which
    *    also forces min ≥ t·max (the length filter; the −1e-9 slack keeps
    *    boundary pairs where t·n is exact in ℚ but not in binary).
    *  - smallest-common-token lemma: let w be the first shared shingle in
    *    the global order; every earlier shingle of x is non-shared and x
    *    has ≤ |x| − ⌈t·|x|⌉ of those, so w sits inside x's prefix — and
    *    symmetrically inside y's. Prefix ⋈ prefix therefore finds every
    *    qualifying pair.
    *
    * Scale: this is the semantics-preserving answer to the inverted-index
    * skew that x52 caps away — the cap changes the measure (Jaccard over
    * retained shingles); the prefix filter keeps EXACT Jaccard while
    * collapsing the worst-key fan-out, because a prefix prefers each
    * doc's RAREST shingles: a boilerplate shingle shared by d docs costs
    * the naive join d² rows but ranks LAST in every prefix, so it never
    * even enters the candidate join here (measured on the x134 skewed
    * fixture vs its naive twin x133). The prefix⋈prefix index side is
    * (1−t)·|shingles| per side — at t=0.8, a 25× smaller join than the
    * full self-join before the first filter fires. The verify join
    * shuffles on candidate doc ids, not the shingle.
    */
  def prefixFilteredJaccardPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val sh = TextOps.shingles(docs).localCheckpoint() // see ngramJaccardPairs
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pref = sh.join(dfreq, "shingle").join(sizes, "doc_id")
      .withColumn("rnk", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy("doc_id").orderBy(col("df"), col("shingle"))))
      .filter(col("rnk") <= col("n") - ceil(col("n") * lit(threshold)) + 1)
      .select(col("doc_id"), col("shingle"), col("n"))
    val cand = pref.as("px")
      .join(pref.as("py"),
        col("px.shingle") === col("py.shingle") &&
          col("px.doc_id") < col("py.doc_id") &&
          least(col("px.n"), col("py.n")) >=
            lit(threshold) * greatest(col("px.n"), col("py.n")) - lit(1e-9))
      .select(col("px.doc_id").as("a"), col("py.doc_id").as("b"))
      .distinct()
    val common = cand
      .join(sh.as("x"), col("a") === col("x.doc_id"))
      .join(sh.as("y"),
        col("b") === col("y.doc_id") && col("x.shingle") === col("y.shingle"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
    common
      .join(sizes.as("sa"), col("a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("b") === col("sb.doc_id"))
      .select(col("a"), col("b"),
        round(col("c") / (col("sa.n") + col("sb.n") - col("c")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Oracle-side rendering of [[ngramJaccardPairs]]. */
  def ngramJaccardPairsSql(threshold: Double): String =
    s"""SELECT a, b, jaccard FROM (
       |  SELECT x.doc_id AS a, y.doc_id AS b,
       |         round(count(*) / (any_value(sa.n) + any_value(sb.n) - count(*)), 6) AS jaccard
       |  FROM (${TextOps.shinglesSql}) x
       |  JOIN (${TextOps.shinglesSql}) y
       |    ON x.shingle = y.shingle AND x.doc_id < y.doc_id
       |  JOIN (SELECT doc_id, count(*) AS n FROM (${TextOps.shinglesSql}) s GROUP BY 1) sa
       |    ON x.doc_id = sa.doc_id
       |  JOIN (SELECT doc_id, count(*) AS n FROM (${TextOps.shinglesSql}) s GROUP BY 1) sb
       |    ON y.doc_id = sb.doc_id
       |  GROUP BY 1, 2) p
       |WHERE jaccard >= $threshold ORDER BY a, b""".stripMargin

  /** Oracle-side rendering of [[ngramJaccardPairs]] WITH the
    * document-frequency skew cap: shingles appearing in more than `cap`
    * docs are dropped before the join on BOTH the pair counts and the
    * sizes (capped Jaccard over the retained shingle space — numerator
    * and denominator agree, see [[ngramJaccardPairs]]).
    */
  def ngramJaccardPairsCappedSql(threshold: Double, cap: Long): String =
    s"""WITH capped AS (
       |  SELECT s.doc_id, s.shingle FROM (${TextOps.shinglesSql}) s
       |  JOIN (SELECT shingle FROM (${TextOps.shinglesSql}) d
       |        GROUP BY 1 HAVING count(*) <= $cap) keep
       |    ON s.shingle = keep.shingle),
       | sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY 1)
       |SELECT a, b, jaccard FROM (
       |  SELECT x.doc_id AS a, y.doc_id AS b,
       |         round(count(*) / (any_value(sa.n) + any_value(sb.n) - count(*)), 6) AS jaccard
       |  FROM capped x JOIN capped y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
       |  JOIN sizes sa ON x.doc_id = sa.doc_id
       |  JOIN sizes sb ON y.doc_id = sb.doc_id
       |  GROUP BY 1, 2) p
       |WHERE jaccard >= $threshold ORDER BY a, b""".stripMargin

  /** MinHash signatures + banded LSH candidates + exact verification.
    *
    * numPerm minhashes from xxhash64(permIndex, shingle); bands of `rows`
    * hashes each; docs sharing any band signature become candidate pairs;
    * candidates are then verified with the exact Jaccard (computed only on
    * candidate docs' shingles). With 16 bands × 2 rows, a pair at the 0.8
    * threshold is missed with prob (1-0.8²)^16 ≈ 3e-7 — and the planted
    * near-dups in this data sit at J≈0.98 (miss prob ~1e-26), so the output
    * equals the exact x02 result and shares its oracle.
    *
    * At 100 TB this is THE scalable near-dup path: signature computation is
    * a single groupBy(doc) pass; the candidate join shuffles on (band, sig)
    * — tiny keys, uniformly distributed by construction.
    */
  /** The LSH INDEX rows for a doc set: (doc_id, band, sig) — `bands`
    * band signatures per doc, each an xxhash64 of its `rows` minhashes.
    * This is the id-sized state an incremental pipeline persists between
    * snapshots ([[IncrementalDedup]]): new docs join their signatures
    * against the stored index, and the old corpus text is never
    * re-shingled.
    */
  def bandSignatures(docs: DataFrame, bands: Int = 16, rows: Int = 2): DataFrame = {
    val numPerm = bands * rows
    val sh = TextOps.shingles(docs)
    val minhashes = sh.groupBy("doc_id").agg(
      min(xxhash64(lit(0), col("shingle"))).as("h0"),
      (1 until numPerm).map(i => min(xxhash64(lit(i), col("shingle"))).as(s"h$i")): _*)
    val bandCols = (0 until bands).map { b =>
      val rowCols = (0 until rows).map(r => col(s"h${b * rows + r}"))
      struct(lit(b).as("band"), xxhash64(rowCols: _*).as("sig"))
    }
    minhashes
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Exact-Jaccard verification of candidate (a, b) pairs: only the
    * candidate DOCS' text is shingled (left-semi on the pair ids), so at
    * scale this is point lookups into the corpus, not a rescan.
    *
    * EAGER at construction (ADVICE r16, accepted under the repo's
    * construction-runs-jobs convention): the candidate plan — typically
    * the LSH bucket join — is localCheckpointed and counted here, so
    * candidate generation executes before any plan is returned; callers
    * that only want the physical plan (audits, explain tooling) pay that
    * execution, and a candidate-side failure surfaces at construction
    * time. The count itself reads the already-checkpointed blocks, not
    * the lineage.
    */
  def verifyCandidates(docs: DataFrame, candidates0: DataFrame,
      threshold: Double): DataFrame = {
    // Materialize the candidate pairs once (r16): they feed THREE plan
    // arms (the id keep-list + the common-count join + implicitly the
    // output), so a lazy candidate plan — typically the LSH bucket join —
    // used to re-execute per arm; and the measured pair count byte-gates
    // a broadcast of the keep-list so the corpus-sized `docs` side
    // STREAMS through the semi-join instead of being exchanged (with its
    // text column — the fattest bytes in the pipeline, guide §2.3/§2.4)
    // to meet a pair-sized list. Past the gate: the former shuffle plan.
    val candidates = candidates0.localCheckpoint()
    val pairBytes = candidates.count() * 16L
    val bar = effectiveBroadcastBar(docs.sparkSession)
    def gated(d: DataFrame) = gatedBroadcast(d, pairBytes, bar)
    val ids = candidates.select(col("a").as("doc_id"))
      .union(candidates.select(col("b").as("doc_id"))).distinct()
    val sh = TextOps.shingles(
        docs.join(gated(ids), Seq("doc_id"), "left_semi"))
      .localCheckpoint() // feeds sizes + both sides of the common-count join
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val common = gated(candidates)
      .join(sh.as("sx"), col("a") === col("sx.doc_id"))
      .join(sh.as("sy"),
        col("b") === col("sy.doc_id") && col("sx.shingle") === col("sy.shingle"))
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
    common
      .join(sizes.as("sa"), col("a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("b") === col("sb.doc_id"))
      .select(col("a"), col("b"),
        round(col("c") / (col("sa.n") + col("sb.n") - col("c")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** LSH pairs from PRECOMPUTED band signatures — the incremental path
    * ([[IncrementalDedup]]), where signatures live in a persisted index
    * and re-deriving them would re-shingle the whole corpus. Identical
    * output to [[minhashLshPairs]] over the same docs: the candidate
    * self-join and the exact verification are the same, only the
    * signature pass is skipped.
    */
  def minhashLshPairsFromSignatures(docs: DataFrame, sigs: DataFrame,
      threshold: Double): DataFrame = {
    val candidates = sigs.as("x").join(sigs.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    verifyCandidates(docs, candidates, threshold)
  }

  def minhashLshPairs(docs: DataFrame, threshold: Double,
      bands: Int = 16, rows: Int = 2): DataFrame = {
    val numPerm = bands * rows
    val sh = TextOps.shingles(docs).localCheckpoint() // see ngramJaccardPairs

    // One minhash column per permutation, in a single aggregation pass.
    val minhashes = sh.groupBy("doc_id").agg(
      min(xxhash64(lit(0), col("shingle"))).as("h0"),
      (1 until numPerm).map(i => min(xxhash64(lit(i), col("shingle"))).as(s"h$i")): _*)

    // Band signatures: hash the band's row-hashes together, explode.
    val bandCols = (0 until bands).map { b =>
      val rowCols = (0 until rows).map(r => col(s"h${b * rows + r}"))
      struct(lit(b).as("band"), xxhash64(rowCols: _*).as("sig"))
    }
    val banded = minhashes
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))

    val candidates = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()

    // Exact verification restricted to candidate pairs: count common
    // shingles by joining each side's shingle set. (r16 note: a
    // semi-filter of `sh` down to candidate docs — verifyCandidates'
    // shape — was tried here and MEASURED ~0.3 s slower warm at sf0.1:
    // the extra eager materializations cost more than the ~1M-row
    // shingle exchanges they remove. At index scale the persisted-
    // signature path minhashLshPairsFromSignatures/verifyCandidates is
    // the one that runs, and it does carry the semi-filter.)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val common = candidates
      .join(sh.as("sx"), col("a") === col("sx.doc_id"))
      .join(sh.as("sy"),
        col("b") === col("sy.doc_id") && col("sx.shingle") === col("sy.shingle"))
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
    common
      .join(sizes.as("sa"), col("a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("b") === col("sb.doc_id"))
      .select(col("a"), col("b"),
        round(col("c") / (col("sa.n") + col("sb.n") - col("c")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** 64-bit SimHash per doc + banded hamming-distance pairs.
    *
    * fingerprint bit i = sign of sum over tokens of (+1 if token-hash bit i
    * set else -1). Banded search: split the fingerprint into `chunks` equal
    * slices; by pigeonhole any pair with hamming <= chunks-1 shares at least
    * one exact chunk, so joining on (chunkIdx, chunkVal) finds ALL pairs
    * within the radius — no brute-force O(n²) scan. Scale: the join
    * shuffles on 8-bit chunk values + index; for 100 TB corpora widen to
    * 16-bit chunks to keep bucket sizes down.
    */
  /** 64-bit SimHash fingerprint per doc: bit i = sign of the sum over
    * tokens of (+1 if token-hash bit i set else -1).
    */
  def simhashFingerprints(docs: DataFrame): DataFrame =
    simhashFingerprintsNarrow(docs, TextOps.tokenArray(col("text")))

  /** Character n-gram units (doc_id, w): every `n`-char sliding window of
    * the lowercased text. The tokenization-robust feature source production
    * near-dup pipelines use when whitespace/token boundaries are noisy
    * (CJK, code, boilerplate with drifting punctuation): two texts that
    * differ only in tokenization share almost all char-grams but few word
    * tokens. Lowercasing matches the word-token path (TextOps.tokens), so
    * the variant tolerates case drift — the same class of superficial
    * difference it exists to absorb. Texts shorter than `n` chars yield
    * zero units (the sequence-descending guard — Spark's `sequence(1, 0)`
    * is [1, 0], not empty).
    */
  /** The sliding-window gram array over an ALREADY-PROJECTED lowered-text
    * attribute. `t` must be a plain column reference, not an expression:
    * the lambda body evaluates its subtree once PER ELEMENT, so an
    * inlined `lower(text)` re-lowercases the whole string for every gram
    * — O(len²) per doc (measured: the whole residual 4.7 s of x158 at
    * sf0.1; the narrow fps path dropped to ~1 s once the lowering was
    * hoisted into its own projection).
    */
  def charGramArray(t: Column, n: Int = 4): Column =
    when(length(t) >= n,
      transform(sequence(lit(1), length(t) - (n - 1)),
        i => t.substr(i, lit(n))))
      .otherwise(array().cast("array<string>"))

  private def withLoweredText(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), lower(col("text")).as("lt"))

  def charGramUnits(docs: DataFrame, n: Int = 4): DataFrame =
    withLoweredText(docs)
      .select(col("doc_id"), explode(charGramArray(col("lt"), n)).as("w"))

  /** The 64-bit majority-vote fold (order-independent: a sum per bit). */
  private val simhashUdf = udf { (hashes: Seq[Long]) =>
    val acc = new Array[Int](64)
    hashes.foreach { h =>
      var i = 0
      while (i < 64) { acc(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1); i += 1 }
    }
    var fp = 0L
    var i = 0
    while (i < 64) { if (acc(i) > 0) fp |= (1L << i); i += 1 }
    fp
  }

  /** SimHash fold over a PER-DOC unit array — shared by the word-token
    * (x04) and char-gram (x158) fingerprint paths.
    *
    * Fingerprinting is per-doc-local (hash each unit, majority-vote the
    * bits), so it needs NO shuffle at all: hash inside `transform`, fold
    * in one narrow projection. The previous rendering exploded units to
    * rows and re-grouped by the same doc_id — a corpus-sized exchange
    * (~|grams| longs) purchasing nothing; retiring it took x158's char
    * path from 4.7 s to the cost of the scan + vote (r8 verdict #6 — the
    * sampled brute certificate alone had not closed the gap because the
    * fingerprint exchange, not the certificate, was the residual cost).
    * A declarative twin (64 per-bit conditional sums) was also measured
    * in r6 and lost to the UDF fold on CPU; with the exchange gone the
    * comparison is moot — both are narrow now.
    */
  private def simhashFingerprintsNarrow(docs: DataFrame,
      units: Column): DataFrame =
    docs.select(col("doc_id"),
      simhashUdf(transform(units, w => xxhash64(w))).as("fp"))

  /** Banded hamming pairs from precomputed fingerprints (see
    * [[simhashPairs]] for the pigeonhole argument).
    */
  def simhashBandedPairs(fps: DataFrame, maxHamming: Int = 3, chunks: Int = 8): DataFrame = {
    require(maxHamming < chunks, "banded search needs chunks > maxHamming")
    val width = 64 / chunks
    val chunkCols = (0 until chunks).map { i =>
      struct(lit(i).as("ci"),
        shiftrightunsigned(col("fp"), i * width)
          .bitwiseAND(lit((1L << width) - 1)).as("cv"))
    }
    val chunked = fps.select(col("doc_id"), col("fp"),
      explode(array(chunkCols: _*)).as("ch"))
      .select(col("doc_id"), col("fp"), col("ch.ci").as("ci"), col("ch.cv").as("cv"))

    chunked.as("x").join(chunked.as("y"),
        col("x.ci") === col("y.ci") && col("x.cv") === col("y.cv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.fp").bitwiseXOR(col("y.fp"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Per-pair simhash search, fingerprints computed inline. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3, chunks: Int = 8): DataFrame =
    simhashBandedPairs(simhashFingerprints(docs), maxHamming, chunks)

  /** Driver-checkable completeness invariant for the banded simhash search:
    * TRUE iff the banded (chunk-join) pair set contains EVERY pair an
    * exhaustive hamming self-join finds within the radius — i.e. the
    * pigeonhole argument ("hamming <= chunks-1 implies one identical
    * chunk") holds on real data, not just in a comment. `found_pairs`
    * guards against a vacuous pass. The fingerprints are engine-specific
    * (xxhash64), so per-pair output can't be oracle-hashed; this boolean
    * reduction is what CAN be, and the oracle asserts both columns true.
    * The brute-force side is itself distributed (a Catalyst-planned
    * self-join on bit_count(xor) — quadratic, which is exactly why the
    * banded path exists; here it is the audit, not the plan).
    */
  def simhashBandedComplete(docs: DataFrame, maxHamming: Int = 3,
      chunks: Int = 8): DataFrame =
    simhashBandedCompleteFromFps(simhashFingerprints(docs), maxHamming, chunks)

  /** x158: the same completeness invariant over CHAR-GRAM fingerprints
    * ([[charGramUnits]]) — the tokenization-robust near-dup variant. The
    * banded kernel, pigeonhole argument, and oracle shape are identical to
    * x04; only the unit source differs, which is the point: the SimHash
    * machinery is feature-agnostic.
    *
    * The brute-force certificate runs on a DETERMINISTIC md5 half-sample
    * of the fingerprints (the x71 idiom): the pigeonhole argument is
    * per-pair, so a sampled certificate is a legitimate audit — and the
    * quadratic brute side was the whole 4.5 s of the full-corpus check
    * (r8 verdict #6) while the BANDED side, which is the production
    * plan, still runs over the full corpus. `found_pairs` additionally
    * guards the sampled side against vacuity (sampling that dropped
    * every in-radius pair would certify nothing).
    */
  /** Char-gram SimHash fingerprints (narrow, zero-shuffle). */
  def simhashCharGramFps(docs: DataFrame): DataFrame =
    simhashFingerprintsNarrow(withLoweredText(docs),
      charGramArray(col("lt")))

  def simhashCharGramComplete(docs: DataFrame, maxHamming: Int = 3,
      chunks: Int = 8): DataFrame =
    simhashBandedCompleteFromFps(
      simhashCharGramFps(docs), maxHamming, chunks,
      bruteSampleHexLt = Some("80"))

  /** @param bruteSampleHexLt when set, the quadratic brute-force audit
    *   side is restricted to fingerprints whose md5(doc_id) 2-hex prefix
    *   is below this bound (deterministic, content-derived — task retries
    *   and engines resample identically); the banded side always covers
    *   the full corpus.
    */
  private def simhashBandedCompleteFromFps(fps0: DataFrame, maxHamming: Int,
      chunks: Int, bruteSampleHexLt: Option[String] = None): DataFrame = {
    val fps = fps0.localCheckpoint()
    // Both pair sets feed TWO consumers (the anti-join and their own
    // count aggregate); without materialization the banded chunk
    // self-join + DISTINCT and the quadratic brute join each run twice —
    // measured as half of x158's residual cost after the fingerprint
    // path went narrow. Pair sets are near-dup-sized (output-bounded),
    // so the checkpoint is small.
    val banded = simhashBandedPairs(fps, maxHamming, chunks).localCheckpoint()
    val bfps = bruteSampleHexLt.fold(fps)(bound => fps.filter(
      substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2) < bound))
    val brute = bfps.as("x").join(bfps.as("y"),
        col("x.doc_id") < col("y.doc_id") &&
          bit_count(col("x.fp").bitwiseXOR(col("y.fp"))) <= maxHamming)
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .localCheckpoint()
    val missing = brute.join(banded, Seq("a", "b"), "left_anti")
    banded.agg(count(lit(1)).as("n_banded"))
      .crossJoin(missing.agg(count(lit(1)).as("n_missing")))
      .crossJoin(brute.agg(count(lit(1)).as("n_brute")))
      .select((col("n_missing") === 0).as("banded_complete"),
        (col("n_banded") > 0 && col("n_brute") > 0).as("found_pairs"))
  }

  /** Ascending-index double dot product — the accumulation order DuckDB's
    * list_dot_product uses, so cosines hash-match the oracle bit-for-bit.
    */
  private def dotP(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Spark-style HALF_UP rounding at 6dp (matches round(x, 6)). */
  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Embedding-cosine near-duplicate pairs (brute-force block join).
    *
    * Exact at this scale; the 100 TB path is [[embeddingNearDupPairsDist]]
    * — same output, no driver collect.
    */
  def embeddingNearDupPairs(emb: DataFrame, threshold: Double): DataFrame = {
    // Broadcast block-nested-loop: one side collected as primitive
    // double[][] and broadcast; each partition streams its rows against the
    // broadcast block in tight while-loops — every pair's dot computed
    // exactly once, no per-pair boxing. (A declarative self-join here makes
    // Catalyst evaluate the interpreted cosine TWICE per pair — once in the
    // join condition, once in the projection — ~60s vs ~2s at 2000².)
    //
    // Arithmetic mirrors the DuckDB oracle bit-for-bit: ascending-index
    // double accumulation, dot/(sqrt(na)*sqrt(nb)), then Spark-style
    // HALF_UP rounding at 6dp.
    //
    // Driver memory is O(n·d) — fine for a query-set-sized side, a
    // scale-killer for a full corpus; [[embeddingNearDupPairsDist]] is the
    // collect-free rendering of the same computation.
    val spark = emb.sparkSession
    import spark.implicits._

    val vecs = emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
    val block = vecs.collect().sortBy(_._1)
    val ids = block.map(_._1)
    val mat = block.map(_._2.map(_.toDouble))
    val norms = mat.map(v => math.sqrt(dotP(v, v)))
    val bc = spark.sparkContext.broadcast((ids, mat, norms))

    vecs.mapPartitions { it =>
      val (ids, mat, norms) = bc.value
      it.flatMap { case (aId, aF) =>
        val a = aF.map(_.toDouble)
        val na = math.sqrt(dotP(a, a))
        val out = Seq.newBuilder[(Long, Long, Double)]
        var j = 0
        while (j < ids.length) {
          if (ids(j) > aId) {
            val c = round6(dotP(a, mat(j)) / (na * norms(j)))
            if (c >= threshold) out += ((aId, ids(j), c))
          }
          j += 1
        }
        out.result()
      }
    }.toDF("a", "b", "cos_sim")
  }

  /** Distributed exact embedding near-dup: triangle block-pair join — the
    * 100 TB rendering of [[embeddingNearDupPairs]], byte-identical output,
    * ZERO driver-side collection.
    *
    * Each vector lands in block `vec_id % B`; every unordered block pair
    * (i,j), i <= j, becomes one shuffle group, and a vector is routed to
    * the B groups it participates in. Inside a group a tight while-loop
    * computes each pair's cosine exactly once (same-block groups take the
    * id-ordered triangle; cross-block groups take the full bipartite
    * rectangle, so no unordered pair is ever seen twice across groups).
    *
    * Scale accounting: shuffle volume is n·B rows (pick B ≈ sqrt(n·d·8 /
    * executor-memory-budget) so a group's two blocks fit in one task's
    * heap); compute is the unavoidable exact O(n²/2) dots, spread over
    * B(B+1)/2 independent tasks — 1000 executors each take a slice, and
    * the driver never sees a vector.
    */
  def embeddingNearDupPairsDist(emb: DataFrame, threshold: Double,
      numBlocks: Int = 8): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val b = numBlocks
    val routed = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, vF) =>
        val v = vF.map(_.toDouble)
        val blk = (id % b).toInt
        (0 until b).map { o =>
          val key = if (blk <= o) blk * b + o else o * b + blk
          (key, blk, id, v)
        }
      }
    routed.groupByKey(_._1).flatMapGroups { (key: Int, it: Iterator[(Int, Int, Long, Array[Double])]) =>
      val i = key / b
      val j = key % b
      val rows = it.toArray.sortBy(_._3)
      val norms = rows.map(r => math.sqrt(dotP(r._4, r._4)))
      val out = Seq.newBuilder[(Long, Long, Double)]
      var x = 0
      while (x < rows.length) {
        val (_, bx, idx, vx) = rows(x)
        var y = x + 1
        while (y < rows.length) {
          val (_, by, idy, vy) = rows(y)
          // same-block group: every id-ordered pair; cross-block group:
          // only pairs spanning the two blocks (one endpoint each).
          if (i == j || bx != by) {
            val c = round6(dotP(vx, vy) / (norms(x) * norms(y)))
            if (c >= threshold) out += ((idx, idy, c))
          }
          y += 1
        }
        x += 1
      }
      out.result()
    }.toDF("a", "b", "cos_sim")
  }

  /** Exact embedding near-dup with the same broadcast-vs-distributed
    * decision Spark itself makes for joins: the block-nested-loop
    * ([[embeddingNearDupPairs]]) collects one side to the driver, which is
    * only legitimate when that side would qualify for a broadcast join —
    * so gate it on `spark.sql.autoBroadcastJoinThreshold` and fall back to
    * the collect-free triangle join ([[embeddingNearDupPairsDist]])
    * otherwise. The decision statistic is one cheap aggregate (row count ×
    * dims × 8 bytes), never vector data; both branches are byte-identical
    * (they share the x05 oracle), so the switch changes plans, not answers.
    */
  def embeddingNearDupPairsAuto(emb: DataFrame, threshold: Double): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (n, d) = emb.agg(count(lit(1)), max(size(col("embedding"))))
      .as[(Long, Int)].head()
    val bytes = n * d * 8L
    val limit = broadcastLimitBytes(spark)
    if (limit > 0 && bytes <= limit) embeddingNearDupPairs(emb, threshold)
    else embeddingNearDupPairsDist(emb, threshold)
  }

  /** `spark.sql.autoBroadcastJoinThreshold` in bytes — the bar every
    * "collect/broadcast one side" decision in this library is gated on.
    * Accepts both size strings ("10MB") and plain byte counts incl. the
    * -1 disable sentinel, which byteStringAsBytes rejects.
    */
  private[graft] def broadcastLimitBytes(spark: org.apache.spark.sql.SparkSession): Long = {
    val raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    raw.toLongOption.getOrElse(
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw))
  }

  /** A broadcast hash relation occupies ~2-4x its raw key/value bytes
    * once UnsafeRow framing and the hash table are built (ADVICE r16);
    * gates charge the conservative end.
    */
  private[graft] val RelationOverhead = 4L

  private val DefaultAutoBar = 10L << 20 // Spark's autoBroadcastJoinThreshold default

  /** Raw-bytes bar of every byte gate ([[gatedBroadcast]]): a built
    * relation of at most 256 MB, charged at [[RelationOverhead]]× its raw
    * bytes, so 64 MB of raw bytes at Spark's default threshold. A session
    * that LOWERS `spark.sql.autoBroadcastJoinThreshold` below its 10 MB
    * default is asking for smaller broadcasts, so the bar scales down in
    * proportion (raising the threshold does not raise it). Returns 0 when
    * auto-broadcast is disabled (<= 0): every gate then takes its exact
    * fallback shuffle plan.
    */
  private[graft] def effectiveBroadcastBar(
      spark: org.apache.spark.sql.SparkSession): Long = {
    val autoBar = broadcastLimitBytes(spark)
    if (autoBar <= 0) 0L
    else math.max(1L, ((256L << 20) / RelationOverhead) *
      math.min(autoBar, DefaultAutoBar) / DefaultAutoBar)
  }

  /** The byte gate of every forced broadcast: `d` broadcast when its
    * measured `bytes` fit under `bar` (from [[effectiveBroadcastBar]]),
    * else `d` unchanged — the exact shuffle plan. A bar of 0
    * (broadcasting disabled) never broadcasts, not even a 0-byte estimate.
    */
  private[graft] def gatedBroadcast(d: DataFrame, bytes: Long, bar: Long): DataFrame =
    if (bar > 0 && bytes <= bar) broadcast(d) else d

  /** Connected components over the near-dup pair graph — the cluster step
    * a dedup pipeline runs after pair generation (keep one doc per
    * component). Iterative min-label propagation: every node adopts the
    * minimum label in its neighborhood until fixpoint; converges in
    * O(graph diameter) rounds (near-dup components are cliques or short
    * chains, so 2-3 rounds in practice).
    *
    * Scale: the per-round join/groupBy shuffle on node ids only over the
    * docs that appear in SOME pair (a small fraction of the corpus);
    * `localCheckpoint` cuts iteration lineage so round N's plan does not
    * replay rounds 1..N-1. The driver sees only a 1-row convergence
    * probe per round, never data.
    */
  def dedupClusters(pairs: DataFrame): DataFrame =
    dedupClustersWithRounds(pairs)._1

  /** [[dedupClusters]] plus the number of label-propagation rounds it ran
    * — the observable behind the O(diameter) claim (a path graph of
    * length L needs ~L rounds; `ConnectedComponentsSpec` measures it
    * against the alternating-star O(log n) count).
    */
  private[graft] def dedupClustersWithRounds(pairs: DataFrame)
      : (DataFrame, Int) = {
    // Materialize the pair plan ONCE before mirroring it (r16): the
    // union's two arms are two instances of the `pairs` subtree — for a
    // lazy LSH/verification input the whole candidate generation +
    // exact-verification pipeline executed TWICE inside the edge
    // checkpoint (measured ~1-2 s per caller at sf0.1). Already-
    // checkpointed inputs skip the extra hop.
    val p = pairs.queryExecution.logical match {
      case _: org.apache.spark.sql.execution.LogicalRDD => pairs
      case _ => pairs.localCheckpoint()
    }
    val edges = p.select(col("a"), col("b"))
      .union(p.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    if (!(p eq pairs)) graft.QueryDef.dropCheckpoint(p)
    // One aggregation carries both the new label (min over self +
    // neighborhood) and the previous label (min over the self rows only).
    // The changed-label count rides the SAME job as the checkpoint
    // materialization via Dataset.observe — zero extra driver probes per
    // round (r6 verdict #4: the old 1-row filter probe serialized under
    // bench co-tenancy).
    var obs: org.apache.spark.sql.Observation = null
    val settled = (_: DataFrame, _: DataFrame, _: Int) =>
      obs.get("changed").asInstanceOf[Long] == 0L
    val (labels, rounds) = GraphLoops.fixpoint(
        edges.select(col("a").as("node")).distinct()
          .withColumn("lbl", col("node"))
          .localCheckpoint(),
        Int.MaxValue, Some(settled)) { (iterate, _) =>
      obs = org.apache.spark.sql.Observation()
      val labels = iterate.select("node", "lbl")
      val neigh = edges.join(labels, edges("b") === labels("node"))
        .select(edges("a").as("node"), col("lbl"), lit(false).as("self"))
      GraphLoops.Iterate(labels.withColumn("self", lit(true))
        .unionByName(neigh)
        .groupBy("node")
        .agg(min("lbl").as("lbl"),
          min(when(col("self"), col("lbl"))).as("prev"))
        .observe(obs, coalesce(sum(when(col("lbl") =!= col("prev"), 1L)
          .otherwise(0L)), lit(0L)).as("changed")))
    }
    // The final iterate is the only store the returned (lazy) frame needs.
    graft.QueryDef.dropCheckpoint(edges)
    (labels.select(col("node").as("doc_id"), col("lbl").as("cluster_id")),
      rounds)
  }

  // ---- declared queries -------------------------------------------------

  // (defined before `queries` — object vals initialize in declaration order)
  private val embeddingNearDupSql =
    s"""SELECT a, b, cos_sim FROM (
      |  SELECT x.vec_id AS a, y.vec_id AS b,
      |         ${VectorOps.cos6Sql("CAST(x.embedding AS DOUBLE[])", "CAST(y.embedding AS DOUBLE[])")} AS cos_sim
      |  FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id) p
      |WHERE cos_sim >= 0.45 ORDER BY a, b""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    // Q17 of SURVEY §2.C: exact content-dedup cardinality.
    QueryDef(
      "q17_exact_dedup",
      (s, dir) => Tables.documents(s, dir)
        .agg(countDistinct(lower(col("text"))).as("cd")),
      Some("SELECT count(DISTINCT lower(text)) AS cd FROM documents")),

    QueryDef(
      "x01_dedup_keep_first",
      (s, dir) => exactKeepFirst(Tables.documents(s, dir)).orderBy("doc_id"),
      Some("""SELECT min(doc_id) AS doc_id FROM documents
             |GROUP BY lower(text) ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "x02_ngram_jaccard",
      (s, dir) => ngramJaccardPairs(Tables.documents(s, dir), 0.8).orderBy("a", "b"),
      Some(ngramJaccardPairsSql(0.8))),

    // Prefix-filtered exact set-similarity join — provably the same
    // result as x02 (shares its oracle), with the candidate space cut to
    // prefix(x) ⋈ full(y) instead of the full inverted-index self-join.
    QueryDef(
      "x128_ppjoin",
      (s, dir) => prefixFilteredJaccardPairs(Tables.documents(s, dir), 0.8)
        .orderBy("a", "b"),
      Some(ngramJaccardPairsSql(0.8))),

    // Same exact output as x02 (LSH miss prob ~1e-26 at the planted J≈0.98)
    // → shares the exact-Jaccard oracle, proving the LSH path end-to-end.
    QueryDef(
      "x03_minhash_lsh",
      (s, dir) => minhashLshPairs(Tables.documents(s, dir), 0.8).orderBy("a", "b"),
      Some(ngramJaccardPairsSql(0.8))),

    // The DF-cap skew guard as a VERIFIED query: the oracle applies the
    // identical cap, so the "drop boilerplate shingles before the
    // inverted-index join" mitigation — the thing that keeps x02's plan
    // alive at 100 TB — is itself hash-gated, not just spec'd. Cap 5
    // genuinely bites at every SF (max shingle df is 9/7/25).
    QueryDef(
      "x52_ngram_jaccard_capped",
      (s, dir) => ngramJaccardPairs(Tables.documents(s, dir), 0.8,
        maxDocFreq = Some(5L)).orderBy("a", "b"),
      Some(ngramJaccardPairsCappedSql(0.8, 5L))),

    // xxhash64-based SimHash has no DuckDB equivalent per pair, so the
    // declared query is the boolean completeness invariant (banded join ⊇
    // exhaustive hamming pairs, non-vacuously) — hash-gated like x16/x49.
    // The per-pair surface stays available as Dedup.simhashPairs.
    QueryDef(
      "x04_simhash",
      (s, dir) => simhashBandedComplete(Tables.documents(s, dir)),
      Some("SELECT true AS banded_complete, true AS found_pairs")),

    // x04 on 4-char shingles instead of word tokens — the
    // tokenization-robust variant (r6 verdict backlog item 3). Same
    // boolean completeness oracle: banded ⊇ brute-force within radius,
    // non-vacuously.
    QueryDef(
      "x158_simhash_chargram",
      (s, dir) => simhashCharGramComplete(Tables.documents(s, dir)),
      Some("SELECT true AS banded_complete, true AS found_pairs")),

    // Auto-switching plan: broadcast block join only when the side fits
    // autoBroadcastJoinThreshold (the same bar Spark uses for broadcast
    // joins), distributed triangle join otherwise — so the declared query
    // never collects a side that could not be broadcast.
    QueryDef(
      "x05_embedding_neardup",
      (s, dir) => embeddingNearDupPairsAuto(Tables.embeddings(s, dir), 0.45).orderBy("a", "b"),
      Some(embeddingNearDupSql)),

    // Same exact output as x05 (identical arithmetic, distributed triangle
    // block join, no driver collect) → shares x05's oracle, proving the
    // scale path end-to-end the way x03 proves the LSH path against x02.
    QueryDef(
      "x39_embedding_neardup_dist",
      (s, dir) => embeddingNearDupPairsDist(Tables.embeddings(s, dir), 0.45).orderBy("a", "b"),
      Some(embeddingNearDupSql)),

    // Cluster formation over the LSH pairs (which provably equal the exact
    // x02 pairs on this data) — the oracle recomputes the same components
    // as a recursive-CTE transitive closure over the exact-Jaccard edges.
    QueryDef(
      "x43_dedup_clusters",
      (s, dir) => dedupClusters(
        minhashLshPairs(Tables.documents(s, dir), 0.8)).orderBy("doc_id"),
      Some(clusterOracleSql))
  )

  /** The transitive-closure CTE chain every cluster-consuming oracle
    * builds on (x43, x167, x172, x175): pair edges → recursive reach →
    * `cl(doc_id, cluster_id)` with cluster_id = component minimum. ONE
    * definition — the "shares x43's oracle verbatim" equivalence claims
    * are structural, not four hand-maintained copies.
    */
  def clusterClosureCtesSql(threshold: Double): String =
    s"""p AS (${ngramJaccardPairsSql(threshold)}),
       | edges AS (SELECT a, b FROM p UNION ALL SELECT b AS a, a AS b FROM p),
       | reach(src, dst) AS (
       |   SELECT DISTINCT a AS src, a AS dst FROM edges
       |   UNION
       |   SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON r.dst = e.a
       | ),
       | cl AS (SELECT src AS doc_id, min(dst) AS cluster_id
       |        FROM reach GROUP BY 1)""".stripMargin

  /** x43's full oracle — also x172's, verbatim by construction. */
  def clusterOracleSql: String =
    s"""WITH RECURSIVE
       | ${clusterClosureCtesSql(0.8)}
       |SELECT doc_id, cluster_id FROM cl ORDER BY doc_id""".stripMargin
}
