package graft.queries

import graft.{Checkpoints, QueryDef}
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-10 additions: k-core decomposition by iterated degree peeling,
  * with per-node peel rounds (the degeneracy-ordering observable).
  *
  * The reference has no graph surface at all (SURVEY.md §2.B); this
  * extends the graph family (triangles x152/x162/x163, PageRank x144,
  * connected components x43/x172) with the standard community-pruning
  * primitive: remove every node of degree < k, repeat to fixpoint — the
  * survivors are the k-core, and the round a node is removed in is its
  * position in the peeling (degeneracy) order.
  *
  * Fixture: the co-purchase graph is dense and near-uniform (min degree
  * 38 at sf0.1 — an Erdős–Rényi-like graph whose k-core collapses
  * all-or-nothing near the threshold, measured: k at the 30th degree
  * percentile already empties it). So, like the x162/x163 hub graft, the
  * fixture PLANTS the pathology the operator exists to handle: one
  * tendril chain of [[ChainLen]] nodes hangs off every 1000th part
  * (fresh node ids above max partkey, derived relationally). At k = 2
  * the chain burns one node per round from its free end — a genuine
  * multi-round cascade (removals at round r create the round-r+1
  * removals) — while the dense base provably survives, so the output
  * carries peel rounds 1..[[ChainLen]] plus the intact core, at every
  * scale factor.
  *
  * Scale shape (100 TB): the loop iterates on the NODE/DEGREE table
  * (|V| rows), never rewriting the edge list: each round scans the
  * once-materialized edge list against the (small) doomed set to emit
  * per-neighbor removal counts, then updates degrees by a left join —
  * the incremental-peeling formulation. Edge data moves zero times per
  * round; checkpointed degree iterates are dropped as consumed
  * (Checkpoints.release, the r9-advice idiom). The DuckDB oracle
  * unrolls the SAME delta algorithm [[Rounds]] times (> max peel round,
  * so trailing rounds are provable no-ops), making every peel round
  * hash-certified.
  */
object Round10Queries {

  private val K = 2
  private[graft] val ChainLen = 10
  private val AnchorMod = 1000
  private val Rounds = 14 // oracle unroll: > ChainLen + 1 (fixpoint confirm)

  /** Co-purchase base + planted tendril chains (u < v everywhere). */
  private def peelFixtureEdges(s: SparkSession, dir: String): DataFrame = {
    val parts = graft.Tables.part(s, dir).select(col("p_partkey").as("p"))
    val mp = parts.agg(max(col("p")).as("m"))
    val chain = parts.filter(col("p") % AnchorMod === 1)
      .crossJoin(broadcast(mp))
      .select(col("p"), col("m"),
        explode(sequence(lit(1), lit(ChainLen))).as("pos"))
      .select(col("p"), col("pos"),
        (col("m") * (col("pos") + 1) + col("p")).as("id"),
        (col("m") * (col("pos") + 2) + col("p")).as("next"))
    val anchorEdges = chain.filter(col("pos") === 1)
      .select(col("p").as("u"), col("id").as("v"))
    val chainEdges = chain.filter(col("pos") < ChainLen)
      .select(col("id").as("u"), col("next").as("v"))
    graft.operators.CoPurchaseGraph.undirected(s, dir)
      .unionByName(anchorEdges).unionByName(chainEdges)
  }

  /** k-core with peel rounds; also returns the measured round count (the
    * observable Round10Spec pins against the oracle's unroll bound).
    */
  private[graft] def kcorePeelWithRounds(s: SparkSession, dir: String)
      : (DataFrame, Int) = {
    val e0 = Checkpoints.local(peelFixtureEdges(s, dir))
    // Both-direction adjacency, materialized ONCE: each round's removal
    // count used to scan the edge checkpoint TWICE (u-side + v-side
    // arms); one (x → neighbor y) table halves the per-round scan work
    // and collapses the two joins into one (r16, guide §2.4).
    val adj = Checkpoints.local(e0.select(col("u").as("y"), col("v").as("nb"))
      .union(e0.select(col("v").as("y"), col("u").as("nb"))))
    var deg = Checkpoints.local(adj.groupBy(col("y").as("x")).agg(count(lit(1)).as("d")))
    // Byte-gated broadcasts for the per-round small sides (r16, guide
    // §2.4/§3.1): every round joins the |E|-sized checkpointed adjacency
    // and the |V|-sized degree iterate against the DOOMED set and its
    // removal-count delta — both bounded by |V|, both tiny after round 1
    // (the planted chains burn one node per chain per round) — but
    // checkpointed inputs carry no stats, so all the joins planned as
    // SortMergeJoins that exchanged the FULL edge list twice per round
    // (~12 rounds at every SF). The gates: doomed on its own measured
    // count (already an action — the convergence check), delta on the
    // |V| upper bound measured once. The doomed side is broadcast as ONE
    // shared projection so ReuseExchange builds the relation once per
    // round for all three consuming joins. Past the bar each join falls
    // back to the exact shuffle plan this replaced.
    val bar = Dedup.effectiveBroadcastBar(s)
    val nodeBytes = deg.count() * 16L
    var removed: List[DataFrame] = Nil
    var rounds = 0
    var converged = false
    while (!converged) {
      rounds += 1
      val (doomed, nDoomed) = Checkpoints.counted(deg.filter(col("d") < K)
        .select(col("x"), lit(rounds.toLong).as("peel_round")))
      if (nDoomed == 0L) {
        converged = true
        Checkpoints.release(doomed)
      } else {
        removed ::= doomed
        val dx = Dedup.gatedBroadcast(doomed.select(col("x").as("dx")),
          nDoomed * 8L, bar)
        // per-survivor removal counts: one scan of the materialized
        // adjacency against the (small) doomed set — edges never rewritten
        val delta = adj.join(dx, col("y") === col("dx"))
          .groupBy(col("nb").as("x")).agg(count(lit(1)).as("rm"))
        val next = Checkpoints.local(deg.join(dx, col("x") === col("dx"), "left_anti")
          .join(Dedup.gatedBroadcast(delta, nodeBytes, bar), Seq("x"), "left")
          .select(col("x"),
            (col("d") - coalesce(col("rm"), lit(0L))).as("d")))
        Checkpoints.release(deg)
        deg = next
      }
    }
    Checkpoints.release(adj)
    // The convergence round was the edge list's last consumer: the output
    // below reads only the checkpointed deg/doomed iterates, so release the
    // suite's largest checkpoint (the full edge list) NOW rather than when
    // the query's scope ends: its blocks would otherwise pin executor
    // memory through the query's action (the x137 co-tenancy lesson).
    Checkpoints.release(e0)
    val core = deg.select(col("x").as("node"), lit(0L).as("peel_round"))
    val out = removed.map(_.select(col("x").as("node"), col("peel_round")))
      .reduceOption(_.unionByName(_))
      .fold(core)(core.unionByName(_))
      .orderBy("node")
    (out, rounds)
  }

  private val kcoreSql: String = {
    val base =
      s"""WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         | be AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
         |        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
         | mp AS (SELECT max(p_partkey) AS m FROM part),
         | cn AS MATERIALIZED (SELECT p.p_partkey AS p, gs.pos,
         |               mp.m * (gs.pos + 1) + p.p_partkey AS id,
         |               mp.m * (gs.pos + 2) + p.p_partkey AS next
         |        FROM part p CROSS JOIN mp
         |        CROSS JOIN (SELECT unnest(generate_series(1, $ChainLen)) AS pos) gs
         |        WHERE p.p_partkey % $AnchorMod = 1),
         | e0 AS MATERIALIZED (SELECT u, v FROM be
         |        UNION ALL SELECT p AS u, id AS v FROM cn WHERE pos = 1
         |        UNION ALL SELECT id AS u, next AS v FROM cn WHERE pos < $ChainLen),
         | d0 AS MATERIALIZED (SELECT x, count(*) AS d
         |        FROM (SELECT u AS x FROM e0 UNION ALL SELECT v AS x FROM e0)
         |        GROUP BY 1)""".stripMargin
    val rounds = (1 to Rounds).map { r =>
      s""" x$r AS MATERIALIZED (SELECT x FROM d${r - 1} WHERE d < $K),
         | d$r AS MATERIALIZED (SELECT s.x, s.d - coalesce(rm.rm, 0) AS d
         |         FROM d${r - 1} s
         |         LEFT JOIN (SELECT x, count(*) AS rm FROM (
         |             SELECT e0.v AS x FROM e0 JOIN x$r ON e0.u = x$r.x
         |             UNION ALL
         |             SELECT e0.u AS x FROM e0 JOIN x$r ON e0.v = x$r.x)
         |           GROUP BY 1) rm USING (x)
         |         WHERE s.x NOT IN (SELECT x FROM x$r))""".stripMargin
    }.mkString(",\n")
    val removedLegs = (1 to Rounds).map(r =>
      s"SELECT x AS node, CAST($r AS BIGINT) AS peel_round FROM x$r")
      .mkString("\n UNION ALL ")
    s"""$base,
       |$rounds
       |SELECT node, peel_round FROM (
       | SELECT x AS node, CAST(0 AS BIGINT) AS peel_round FROM d$Rounds
       | UNION ALL $removedLegs)
       |ORDER BY node""".stripMargin
  }

  // ---- x187: exact data-recipe apportionment ---------------------------

  /** Sampling budget as a fraction of the corpus: N = |docs|·2 DIV 5. */
  private val BudgetNum = 2
  private val BudgetDen = 5

  /** Oracle unroll bound for the cap-redistribute fixpoint: > the measured
    * rounds at every SF (fixture: 2 — cap src0, re-apportion, feasible).
    * Trailing rounds are provable no-ops: an empty over-set leaves the
    * capped set — and therefore every downstream CTE — unchanged.
    */
  private val ApportionRounds = 4

  /** Planted recipe weight (hazard grafted, the x162/x186 fixture idiom):
    * src0 is over-weighted so its round-1 Hamilton quota provably exceeds
    * its document count at every SF (40/96 of a 40 % budget ≈ 0.17·N vs a
    * 0.05·N source), forcing the capacity cascade the operator exists to
    * handle. The other weights derive deterministically from the source
    * name (ascii of last char mod 5 + 1) so the oracle replays them; in
    * production this is the recipe table.
    */
  private def recipeSources(s: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(s, dir)
      .groupBy("source").agg(count(lit(1)).as("n_src"))
      .withColumn("w",
        when(col("source") === "src0", lit(40L))
          .otherwise((pmod(ascii(expr("substr(source, length(source), 1)")),
            lit(5)) + 1).cast("long")))

  /** x187: capacity-capped largest-remainder (Hamilton) apportionment of a
    * document budget across sources — the data-recipe mixing step ("20 %
    * code, 40 % web…") done EXACTLY: per-source integer quotas that sum to
    * the budget by construction AND never exceed what a source can supply.
    * A quota past a source's document count would silently undershoot the
    * budget at selection time (the truncation failure mode), so any
    * over-quota source is fixed at capacity and the residual budget is
    * re-apportioned among the rest — the standard constrained-apportionment
    * fixpoint, ≤ |sources| rounds (each round caps ≥ 1 new source or
    * terminates; the residual stays positive because each capped source's
    * capacity is strictly below the quota it replaced). Feasibility holds
    * by construction: budget = 2/5 of the corpus < Σ capacities.
    *
    * All arithmetic is integer (floor = R·w DIV W, remainder = R·w mod W),
    * so there is no cross-engine float hazard at all (the §7.4 midpoint
    * rule satisfied trivially). The remainder ranking uses the x70
    * join-rank idiom on the source-cardinality table — NO global window
    * anywhere (the suite-wide gate). Selection is a per-source row_number
    * against the broadcast quota table.
    *
    * Scale shape: the fixpoint iterates on the (tiny, checkpointed) source
    * dimension — the corpus is touched exactly twice regardless of round
    * count: one aggregate to build it, one broadcast join back to select.
    * The DuckDB oracle unrolls the SAME cascade [[ApportionRounds]] times
    * (> measured rounds, trailing no-ops), hash-certifying every round.
    */
  private[graft] def mixApportionWithRounds(s: SparkSession, dir: String)
      : (DataFrame, Int) = {
    val docs = graft.Tables.documents(s, dir)
    val (alloc, rounds) = cappedHamilton(
      recipeSources(s, dir),
      docs.agg(expr(s"count(1) * $BudgetNum DIV $BudgetDen").as("n_budget")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
    val sel = docs.join(broadcast(alloc), "source")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("alloc"))
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")
    (sel, rounds)
  }

  /** The shared cap-redistribute fixpoint: capacity-capped Hamilton
    * apportionment of `nt0`'s 1-row integer budget over `ps0`'s
    * (source, n_src, w) dimension — see [[mixApportionWithRounds]]'s doc
    * for the algorithm and scale argument. Checkpoints its own iterates
    * and drops every non-output store before returning; the returned
    * alloc table (source, alloc) keeps only the final iterates live.
    * Reused by x191's temperature-flattened language mix.
    */
  private[graft] def cappedHamilton(ps0: DataFrame, nt0: DataFrame)
      : (DataFrame, Int) = {
    val ps = Checkpoints.local(ps0)
    val nt = Checkpoints.local(nt0)
    var capped = Checkpoints.local(ps.filter(lit(false)))
    var alloc: DataFrame = null
    var rounds = 0
    var converged = false
    while (!converged) {
      rounds += 1
      val active = ps.join(capped.select("source"), Seq("source"), "left_anti")
      val rb = nt.crossJoin(
          capped.agg(coalesce(sum("n_src"), lit(0L)).as("fixed")))
        .select((col("n_budget") - col("fixed")).as("rb"))
      val tw = active.agg(sum("w").as("bigw"))
      val base = active.crossJoin(broadcast(tw)).crossJoin(broadcast(rb))
        .select(col("source"), col("n_src"),
          expr("rb * w DIV bigw").as("fl"),
          expr("(rb * w) % bigw").as("rem"))
      // join-rank of remainders (strict total order via the source tiebreak)
      val ranked = base.as("a").join(base.as("b"),
          col("b.rem") > col("a.rem") ||
            (col("b.rem") === col("a.rem") &&
              col("b.source") < col("a.source")),
          "left")
        .groupBy(col("a.source").as("source"), col("a.n_src").as("n_src"),
          col("a.fl").as("fl"))
        .agg(count(col("b.source")).as("ahead"))
      val sumFl = base.agg(coalesce(sum("fl"), lit(0L)).as("sumfl"))
      val q = Checkpoints.local(ranked.crossJoin(broadcast(sumFl)).crossJoin(broadcast(rb))
        .select(col("source"), col("n_src"),
          (col("fl") + when(col("ahead") < col("rb") - col("sumfl"), 1L)
            .otherwise(0L)).as("alloc")))
      val over = q.filter(col("alloc") > col("n_src"))
      if (over.isEmpty) {
        converged = true
        alloc = q.select(col("source"), col("alloc"))
          .unionByName(capped.select(col("source"), col("n_src").as("alloc")))
      } else {
        val nextCapped = Checkpoints.local(capped.unionByName(
          over.join(ps.select(col("source"), col("w")), Seq("source"))
            .select(col("source"), col("n_src"), col("w"))))
        Checkpoints.release(capped)
        Checkpoints.release(q)
        capped = nextCapped
      }
    }
    // ps/nt fed only the (now-checkpointed) final q/capped iterates — drop
    // them; the final iterates stay live as the alloc table's lineage.
    Checkpoints.release(ps)
    Checkpoints.release(nt)
    (alloc, rounds)
  }

  /** DuckDB rendering of [[cappedHamilton]]: the WITH-prefix unrolling the
    * cap-redistribute cascade [[ApportionRounds]] times over caller-
    * provided `ps` (source, n_src, w) and `nt` (n_budget) CTE bodies,
    * ending in an `alloc(source, alloc)` CTE the caller's final SELECT
    * consumes. Shared by x187 and x191.
    */
  private[queries] def cappedHamiltonSqlPrefix(psBody: String,
      ntBody: String): String = {
    val base =
      s"""WITH ps AS MATERIALIZED ($psBody),
         | nt AS ($ntBody),
         | cap0 AS MATERIALIZED (SELECT source, n_src, w FROM ps WHERE 1 = 0)""".stripMargin
    val rounds = (1 to ApportionRounds).map { r =>
      s""" act$r AS MATERIALIZED (
         |   SELECT * FROM ps
         |   WHERE source NOT IN (SELECT source FROM cap${r - 1})),
         | rb$r AS MATERIALIZED (
         |   SELECT nt.n_budget
         |          - coalesce((SELECT sum(n_src) FROM cap${r - 1}), 0) AS rb
         |   FROM nt),
         | base$r AS MATERIALIZED (
         |   SELECT a.source, a.n_src,
         |          (rb.rb * a.w) // tw.bigw AS fl,
         |          (rb.rb * a.w) % tw.bigw AS rem
         |   FROM act$r a, rb$r rb, (SELECT sum(w) AS bigw FROM act$r) tw),
         | q$r AS MATERIALIZED (
         |   SELECT a.source, a.n_src,
         |          a.fl + CASE WHEN rk.ahead < rb.rb - sf.sumfl
         |                      THEN 1 ELSE 0 END AS alloc
         |   FROM base$r a
         |   JOIN (SELECT x.source, count(b.source) AS ahead
         |         FROM base$r x LEFT JOIN base$r b
         |           ON b.rem > x.rem OR (b.rem = x.rem AND b.source < x.source)
         |         GROUP BY 1) rk ON rk.source = a.source,
         |        rb$r rb, (SELECT sum(fl) AS sumfl FROM base$r) sf),
         | cap$r AS MATERIALIZED (
         |   SELECT * FROM cap${r - 1}
         |   UNION ALL
         |   SELECT q.source, q.n_src, p.w
         |   FROM q$r q JOIN ps p ON p.source = q.source
         |   WHERE q.alloc > q.n_src)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$rounds,
       | alloc AS (SELECT source, alloc FROM q$ApportionRounds
       |           UNION ALL
       |           SELECT source, n_src AS alloc FROM cap$ApportionRounds)""".stripMargin
  }

  private val mixApportionSql: String = {
    val prefix = cappedHamiltonSqlPrefix(
      s"""SELECT source, count(*) AS n_src,
         |          CASE WHEN source = 'src0' THEN 40
         |               ELSE (ascii(substr(source, length(source), 1)) % 5) + 1
         |          END AS w
         |   FROM documents GROUP BY 1""".stripMargin,
      s"SELECT count(*) * $BudgetNum // $BudgetDen AS n_budget FROM documents")
    s"""$prefix
       |SELECT d.doc_id, d.source
       |FROM (SELECT doc_id, source,
       |             row_number() OVER (PARTITION BY source ORDER BY doc_id)
       |               AS rn
       |      FROM documents) d
       |JOIN alloc USING (source)
       |WHERE d.rn <= alloc.alloc
       |ORDER BY doc_id""".stripMargin
  }

  // ---- x188: weighted priority sampling --------------------------------

  private val SampleK = 100

  /** x188: weight-proportional sampling without replacement via PRIORITY
    * sampling (Duffield–Lund–Thorup): each doc gets priority w/u with u a
    * deterministic hash-uniform in (0, 2³¹], and the sample is the top-k
    * by priority — the standard one-pass weighted subsample at scale
    * (inclusion probability ∝ weight, no global shuffle, TakeOrdered
    * instead of a sort). Weight = document length (the "sample
    * proportional to token count" recipe).
    *
    * Determinism: u comes from the established xorshift-multiply chain
    * (the planesSql idiom — replayed bit-for-bit in the oracle), and the
    * ranking double w/(u+1) is one exactly-rounded IEEE division on both
    * engines, used ONLY for ordering (never emitted); ties break by
    * doc_id. Unlike the chain's other call sites (plane indexes, ~10³),
    * the seed here is a corpus-scale doc_id, so it is reduced mod 2³¹
    * BEFORE the multiply — an unreduced id ≥ 2⁶³/2654435761 ≈ 3.5·10⁹
    * would overflow int64, where Spark wraps silently and DuckDB errors.
    * Weight reads the fixture's stored n_chars, not length(text): the
    * only use of text would be its length, and rederiving it drags the
    * corpus's fattest column through the scan (column pruning defeated).
    */
  private def prioritySample(s: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars").as("w"),
        expr("((doc_id % 2147483648 + 1) * 2654435761) % 2147483648")
          .as("s0"))
      .select(col("doc_id"), col("w"),
        expr("((s0 ^ shiftright(s0, 15)) * 2246822519) % 2147483648")
          .as("s2"))
      .select(col("doc_id"), col("w"),
        expr("((s2 ^ shiftright(s2, 13)) * 3266489917) % 2147483648")
          .as("s4"))
      .select(col("doc_id"), col("w"),
        expr("s4 ^ shiftright(s4, 16)").as("u"))
      .orderBy(expr("CAST(w AS DOUBLE) / (u + 1)").desc, col("doc_id"))
      .limit(SampleK)
      .select(col("doc_id"), col("w"))

  private val prioritySampleSql: String =
    s"""SELECT doc_id, w FROM (
       |  SELECT doc_id, w, xor(s4, s4 >> 16) AS u FROM (
       |    SELECT doc_id, w, (xor(s2, s2 >> 13) * 3266489917) % 2147483648 AS s4 FROM (
       |      SELECT doc_id, w, (xor(s0, s0 >> 15) * 2246822519) % 2147483648 AS s2 FROM (
       |        SELECT doc_id, n_chars AS w,
       |               ((doc_id % 2147483648 + 1) * 2654435761) % 2147483648 AS s0
       |        FROM documents))))
       |ORDER BY CAST(w AS DOUBLE) / (u + 1) DESC, doc_id
       |LIMIT $SampleK""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef(
      "x186_kcore_peel",
      (s, dir) => kcorePeelWithRounds(s, dir)._1,
      Some(kcoreSql)),
    QueryDef(
      "x187_mix_apportion",
      (s, dir) => mixApportionWithRounds(s, dir)._1,
      Some(mixApportionSql)),
    QueryDef(
      "x188_priority_sample",
      prioritySample,
      Some(prioritySampleSql)))
}
