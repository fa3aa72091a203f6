package graft

/** Physical-plan audit (run per round; results recorded in PERF.md).
  *
  * Asserts the scale-critical plan properties: parquet pushdown + column
  * pruning, broadcast joins for dimensions, partial+final aggregation,
  * whole-stage codegen, window-group-limit top-k pushdown, and top-k as
  * TakeOrdered rather than a global sort. Exits nonzero if any check fails
  * so it can gate future rounds.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    if (audit(Sessions.local(8), dir) > 0) sys.exit(1)
  }

  /** Runs every plan check, returns the failure count. Also callable from
    * `PlanAuditSpec` so a failing plan check fails `sbt test`, not only
    * the standalone per-round run. NOTE: stops the passed session (the
    * extensions check needs a fresh one) — callers run it last, in a
    * dedicated JVM (see `Test / testGrouping` in build.sbt).
    */
  def audit(spark: org.apache.spark.sql.SparkSession, dir: String): Int = {
    var failed = 0

    def finalPlan(name: String): String = {
      val df = SparkEntry.queries(name)(spark, dir)
      // collect() finalizes THIS df's AQE plan (a noop write would spawn a
      // separate QueryExecution and leave this one un-finalized).
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    def check(name: String, label: String, good: String => Boolean): Unit = {
      val ok = good(finalPlan(name))
      if (!ok) failed += 1
      println(f"$name%-22s $label%-40s ${if (ok) "OK" else "MISSING"}")
    }
    // A byte gate past its bar must drop its FORCED broadcast hint. A
    // 1-byte autoBroadcastJoinThreshold scales every gate's bar down to 6
    // bytes (Dedup.effectiveBroadcastBar). AQE may legitimately
    // re-introduce a broadcast at runtime from measured shuffle sizes, so
    // inspect the optimized logical plan — no collect(): analysis and
    // optimization force the plan without executing the (deliberately
    // slow) fallback branch. Hints with no join condition (1-row
    // cross-join hints) are not gated and may remain.
    def pastTheBar(name: String, label: String): Unit = {
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.get(key)
      spark.conf.set(key, "1")
      try {
        val forced = SparkEntry.queries(name)(spark, dir)
          .queryExecution.optimizedPlan.collect {
            case j: org.apache.spark.sql.catalyst.plans.logical.Join
                if (j.hint.leftHint.exists(_.strategy.nonEmpty) ||
                  j.hint.rightHint.exists(_.strategy.nonEmpty)) &&
                  j.condition.nonEmpty => j
          }
        val ok = forced.isEmpty
        if (!ok) failed += 1
        println(f"$name%-22s ${"past the bar: " + label}%-40s ${if (ok) "OK" else "MISSING"}")
      } finally spark.conf.set(key, prev)
    }

    check("q01_scan_project", "ReadSchema pruned to referenced cols",
      _.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_linenumber:int,l_quantity:double>"))
    check("q01_scan_project", "TakeOrderedAndProject (no global sort)",
      _.contains("TakeOrderedAndProject"))
    check("q02_filter", "predicates pushed to parquet scan",
      p => p.contains("PushedFilters: [IsNotNull(l_discount), IsNotNull(l_quantity), GreaterThan(l_discount,0.05)"))
    check("q08_group_agg", "partial+final HashAggregate",
      p => "HashAggregate".r.findAllIn(p).length >= 2)
    check("q08_group_agg", "whole-stage codegen spans",
      _.contains("*("))
    check("q08_group_agg", "AQE shuffle coalescing",
      _.contains("AQEShuffleRead"))
    check("q10_broadcast_join", "BroadcastHashJoin (dim side)",
      _.contains("BroadcastHashJoin"))
    check("q10_broadcast_join", "no sort-merge of fact side",
      p => !p.contains("SortMergeJoin"))
    check("q11_join3", "all star arms broadcast",
      p => "BroadcastHashJoin".r.findAllIn(p).length >= 3 && !p.contains("SortMergeJoin"))
    check("q12_semi_join", "planned as LeftSemi", _.contains("LeftSemi"))
    check("q13_anti_join", "planned as LeftAnti", _.contains("LeftAnti"))
    check("q16_topk", "WindowGroupLimit pushdown", _.contains("WindowGroupLimit"))
    check("q18_similarity_topk", "top-k as TakeOrdered", _.contains("TakeOrderedAndProject"))
    check("q18_similarity_topk", "query vector is a literal: no join of any kind",
      p => !p.contains("Join"))
    check("x02_ngram_jaccard", "inverted-index join on shingle",
      p => p.contains("shingle#") && p.contains("Join"))
    check("x25_date_filter_agg", "timestamp predicate pushed to scan",
      _.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    check("x40_q9_profit", "fact-fact edge is SortMergeJoin",
      _.contains("SortMergeJoin"))
    check("x40_q9_profit", "dim arms broadcast around the SMJ",
      p => "BroadcastHashJoin".r.findAllIn(p).length >= 3)
    check("x40_q9_profit", "p_type filter pushed to part scan",
      _.contains("StringStartsWith(p_type,STANDARD)"))
    check("x55_asof_native", "custom AsofJoinExec physical operator",
      _.contains("AsofJoin"))
    check("x55_asof_native", "both sides hash-partitioned on the key",
      p => "hashpartitioning\\(user_id".r.findAllIn(p).length >= 2)
    check("x64_tpch_q3", "fact-fact SMJ + broadcast customer dim",
      p => p.contains("SortMergeJoin") && p.contains("BroadcastHashJoin"))
    check("x64_tpch_q3", "date predicates pushed to both fact scans",
      p => p.contains("GreaterThan(l_shipdate") && p.contains("LessThan(o_orderdate"))
    check("x64_tpch_q3", "top-10 as TakeOrdered (no global sort of the agg)",
      _.contains("TakeOrderedAndProject"))
    check("x65_global_sort", "range-partitioned distributed sort",
      p => p.contains("rangepartitioning") && p.contains("Sort "))
    check("x69_contamination", "benchmark shingle set broadcast (corpus side never shuffles for the screen)",
      _.contains("BroadcastHashJoin"))
    check("x72_oov_rate", "vocabulary broadcast to the token stream",
      _.contains("BroadcastHashJoin"))
    check("x75_gapfill", "grid join + fill window both partition on user_id (no single-partition window)",
      p => "hashpartitioning\\(user_id".r.findAllIn(p).length >= 2 &&
        !p.contains("SinglePartition, Window"))
    check("x217_hybrid_rrf", "query-sized tables broadcast, rank windows pruned",
      p => "BroadcastHashJoin".r.findAllIn(p).length >= 3 &&
        p.contains("WindowGroupLimit") && !p.contains("CartesianProduct"))
    check("x218_rank_agreement", "RBO weight spine broadcast, no cartesian",
      p => p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"))
    check("x220_silhouette", "centroid table broadcast to the corpus pass",
      p => p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
    // The only BNLJ in x221 is the 1-row n_truth stats cross join; the
    // similarity-bearing joins must be HASH joins on the blocking keys.
    check("x221_entity_resolution", "blocking stays equi-keyed (no all-pairs path)",
      p => !p.contains("CartesianProduct") &&
        "BroadcastHashJoin \\[substring".r.findAllIn(p).length >= 1 &&
        "BroadcastHashJoin \\[dnation".r.findAllIn(p).length >= 1)
    check("x224_kmv_bottomk", "per-source bottom-k pruned before the shuffle",
      p => p.contains("WindowGroupLimit") &&
        p.contains("TakeOrderedAndProject"))
    // Must match the DATASOURCE node, not the staged path (which is named
    // graft_csv_<key>, so a bare "csv" substring is vacuous — r11 advice):
    // V1 renders "FileScan csv", DSv2 renders a CSVScan node.
    check("x225_csv_ingest", "real CSV file source (not a parsed-literal shim)",
      p => p.contains("FileScan csv") || p.contains("CSVScan"))
    // The per-round anti-joins execute eagerly inside the localCheckpoint
    // rounds; the finalized plan shows the checkpointed iterate (an
    // ExistingRDD scan) joined LeftOuter to the node spine.
    check("x226_graph_bfs", "final pass joins the checkpointed iterate (no cartesian)",
      p => p.contains("LeftOuter") && p.contains("ExistingRDD") &&
        !p.contains("CartesianProduct"))
    // AQE's executedPlan string contains final + initial renderings, so a
    // single physical shuffle appears twice — the bound is 2, not 1.
    check("x78_upsert_merge", "top-1 window and per-key count share ONE shuffle of orders",
      p => "Exchange hashpartitioning\\(o_custkey".r.findAllIn(p).length <= 2 &&
        "Window \\[".r.findAllIn(p).length >= 2)
    check("x79_cross_join", "cartesian of two aggregates is BroadcastNestedLoopJoin",
      _.contains("BroadcastNestedLoopJoin"))
    check("x80_source_mix", "mix predicate evaluated at the scan (narrow filter, no shuffle)",
      p => !p.contains("Exchange hashpartitioning") && p.contains("Filter"))
    check("x81_ann_banded", "bucket routing is an equi-join on band keys (no nested-loop scan)",
      p => p.contains("BroadcastHashJoin [band#") &&
        !p.contains("BroadcastNestedLoopJoin"))
    check("x82_tpch_q18", "qualifying-orders semi join broadcast; top-100 as TakeOrdered",
      p => p.contains("LeftSemi, BuildRight") &&
        p.contains("TakeOrderedAndProject"))
    check("x86_chunking", "chunk generation is narrow (only the output sort exchanges)",
      p => !p.contains("Exchange hashpartitioning"))
    check("x87_seq_packing", "packing window partitions on source (no single-partition window)",
      p => p.contains("hashpartitioning(source") &&
        !p.contains("SinglePartition, Window"))
    check("x88_tpch_q21", "EXISTS/NOT EXISTS planned as semi + anti joins",
      p => p.contains("LeftSemi") && p.contains("LeftAnti"))
    check("x89_batch_topk", "per-query top-k pruned before the shuffle (WindowGroupLimit)",
      _.contains("WindowGroupLimit"))
    check("x90_tpch_q5", "all four dim arms broadcast; order-date pushed to the orders scan",
      p => "BroadcastHashJoin".r.findAllIn(p).length >= 4 &&
        p.contains("GreaterThanOrEqual(o_orderdate"))
    // the PushedFilters list is length-truncated in plan.toString, so
    // assert the visible prefix + the full predicate set in the Filter
    check("x91_tpch_q6", "all predicates pushed to the lineitem scan",
      p => p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount)") &&
        p.contains("l_discount#") && p.contains("< 24"))
    check("x92_tpch_q10", "returnflag pushed to scan; top-20 as TakeOrdered",
      p => p.contains("EqualTo(l_returnflag,R)") &&
        p.contains("TakeOrderedAndProject"))

    check("x93_tpch_q7", "nation-pair filter reaches the nation scan; all dims broadcast",
      p => p.contains("n_name") &&
        "BroadcastHashJoin".r.findAllIn(p).length >= 3)
    check("x97_tpch_q19", "redundant envelope pushed to BOTH scans (quantity to lineitem, brand to part)",
      p => p.contains("LessThanOrEqual(l_quantity,30.0)") &&
        p.contains("In(p_brand"))
    check("x101_kmeans", "centroid table broadcast to the assignment pass",
      _.contains("BroadcastNestedLoopJoin"))
    check("x102_zorder_key", "z-value keys narrow + TakeOrdered (no shuffle before the limit)",
      p => p.contains("TakeOrderedAndProject") &&
        !p.contains("Exchange hashpartitioning"))
    check("x106_budget_mix", "budget window partitions on source (no single-partition window)",
      p => p.contains("hashpartitioning(source") &&
        !p.contains("SinglePartition, Window"))
    check("x107_tpch_q2", "correlated-min window partitions on the part key",
      p => p.contains("hashpartitioning(l_partkey") ||
        p.contains("hashpartitioning(p_partkey"))
    check("x107_tpch_q2", "supplier/region and part arms broadcast",
      p => "BroadcastHashJoin".r.findAllIn(p).length >= 2)
    check("x108_tpch_q4", "EXISTS planned as LeftSemi",
      _.contains("LeftSemi"))
    check("x108_tpch_q4", "order-quarter predicate pushed to the orders scan",
      _.contains("GreaterThanOrEqual(o_orderdate"))
    check("x110_tpch_q12", "fact-fact edge is SortMergeJoin (merge-hinted)",
      _.contains("SortMergeJoin"))
    check("x110_tpch_q12", "ship-year predicate pushed to the lineitem scan",
      _.contains("GreaterThanOrEqual(l_shipdate"))
    check("x111_tpch_q16", "supplier exclusion is a broadcast LeftAnti",
      p => p.contains("LeftAnti") && p.contains("BroadcastHashJoin"))
    check("x113_passage_dedup", "spread join keyed on the passage",
      p => p.contains("passage#") && p.contains("Join"))
    check("x115_salted_join", "join keys include the salt (hot key spread across reducers)",
      p => p.contains("salt#") && p.contains("Join"))
    check("x116_graph_centrality", "matvec is an equi-join (no cartesian)",
      p => p.contains("Join") && !p.contains("CartesianProduct"))
    check("x117_winsorize", "percentile bands broadcast back to the fact",
      _.contains("BroadcastHashJoin"))
    check("x118_scd2", "change/close windows partition on user_id (no single-partition window)",
      p => p.contains("hashpartitioning(user_id") &&
        !p.contains("SinglePartition, Window"))
    check("x120_cogroup", "cogroup co-partitions both inputs on the key",
      p => "hashpartitioning".r.findAllIn(p).length >= 2 &&
        p.contains("CoGroup"))
    check("x121_incremental_ingest", "fingerprint screen is an anti join",
      _.contains("LeftAnti"))
    check("x116_graph_centrality", "factorized matvec: no quadratic pair explode",
      p => !p.toLowerCase.contains("generate explode"))
    check("x123_custom_source", "DSv2 id-range pushdown narrows generation at planning time",
      _.contains("range=[1000,50000)"))

    // ---- round-6 additions: line hygiene, fuzzy join, pagerank ----------
    check("x139_line_repetition", "per-(doc,line) then per-doc aggs are partial+final",
      p => "HashAggregate".r.findAllIn(p).length >= 4 &&
        !p.contains("CartesianProduct"))
    check("x140_line_boilerplate", "line-frequency join back is an equi-join (no nested loop)",
      p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    check("x143_fuzzy_join", "deletion-key blocking join (never an all-pairs scan)",
      p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    check("x144_pagerank", "3 iterations unrolled into ONE plan (no driver-side loop)",
      p => "div 1000000".r.findAllIn(p).length >= 3)
    check("x147_source_quota", "rank-then-filter pushed down as WindowGroupLimit",
      _.contains("WindowGroupLimit"))
    check("x143_fuzzy_join", "verify predicate rewritten to the banded graft_lev_leq kernel",
      _.contains("graft_lev_leq"))
    check("x152_triangles", "closing-edge probe broadcast (wedge set never shuffles)",
      _.contains("BroadcastHashJoin"))
    // The broadcast above is GATED on measured edge bytes vs the broadcast
    // bar (r7 verdict: an unconditional edge-list broadcast is a
    // 100x-scale killer — ~10^8 edges is GBs to every executor). Past the
    // bar the closing probe must degrade to a plain shuffle join.
    // The skew demonstrator pair carries the same gated closing probe —
    // audit the below-bar broadcast on both orientations too.
    check("x162_triangles_skew_id", "closing-edge probe broadcast (gated)",
      _.contains("BroadcastHashJoin"))
    check("x163_triangles_skew_degree", "closing-edge probe broadcast (gated)",
      _.contains("BroadcastHashJoin"))
    // The fixture hub broadcast (x162/x163's 1-row hub id and edge-count
    // tail) is not the closing probe and carries no join condition.
    for (q <- Seq("x152_triangles", "x162_triangles_skew_id",
        "x163_triangles_skew_degree"))
      pastTheBar(q, "no forced broadcast hint")
    check("x153_source_drift", "vocabulary broadcast to the per-source grid",
      p => p.contains("BroadcastExchange"))

    // ---- round-9: exact-substring spans + PQ-ADC ------------------------
    check("x165_exact_substring_spans",
      "gram-hash hot filter is partial+final (map-side combine)",
      p => "HashAggregate".r.findAllIn(p).length >= 2)
    check("x165_exact_substring_spans", "no all-pairs scan anywhere",
      p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    check("x166_ann_pq_recall", "all 4 ADC lookup tables broadcast",
      p => "BroadcastHashJoin".r.findAllIn(p).length >= 4)
    check("x166_ann_pq_recall", "per-query rank pushed down as WindowGroupLimit",
      _.contains("WindowGroupLimit"))
    check("x168_bpe_train", "per-iteration argmax is a 1-row TakeOrdered (no sort, no window)",
      p => p.contains("TakeOrderedAndProject") && !p.contains("Window"))
    check("x168_bpe_train", "pair counts partial+final (map-side combine)",
      p => "HashAggregate".r.findAllIn(p).length >= 2)
    check("x169_ann_ivfpq_recall", "ADC lookup tables + centroids broadcast",
      p => "BroadcastHashJoin".r.findAllIn(p).length >= 4)
    check("x169_ann_ivfpq_recall", "per-query rank pushed down as WindowGroupLimit",
      _.contains("WindowGroupLimit"))

    // ---- round-9b: retrieval / LM / labeling / split --------------------
    check("x170_bm25_topk", "query terms + stats broadcast to postings",
      p => "BroadcastHashJoin".r.findAllIn(p).length >= 2)
    check("x170_bm25_topk", "per-query top-k pushed down as WindowGroupLimit",
      _.contains("WindowGroupLimit"))
    // r9 verdict #1: the df table must be query-sized by construction —
    // postings semi-join to the broadcast query-term set BEFORE the df
    // aggregate, so no full-vocabulary table ever exists in the plan.
    check("x170_bm25_topk", "postings semi-joined to query terms pre-df",
      _.contains("LeftSemi"))
    check("x171_lm_perplexity", "bigram + context model tables broadcast",
      p => "BroadcastHashJoin".r.findAllIn(p).length >= 2)
    check("x171_lm_perplexity", "model training partial+final (map-side combine)",
      p => "HashAggregate".r.findAllIn(p).length >= 2)
    // r9 verdict #1: the model broadcasts are byte-gated. Past the bar the
    // forced hints must be gone (only the 1-row vocab cross-join hint,
    // which carries no condition, may remain).
    pastTheBar("x171_lm_perplexity", "no forced model broadcast")
    check("x173_knn_classify", "probe block broadcast (one corpus pass)",
      p => p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
    check("x173_knn_classify", "per-probe top-k pushed down as WindowGroupLimit",
      _.contains("WindowGroupLimit"))
    check("x174_hard_negatives", "per-(probe,side) argmax as WindowGroupLimit",
      _.contains("WindowGroupLimit"))
    check("x175_leakage_safe_split", "no all-pairs scan (LSH pair graph only)",
      p => !p.contains("CartesianProduct"))
    // ---- round-10: probe-escalation recall floor ------------------------
    check("x185_ann_rerank_floor",
      "escalated probes still route as a bucket equi-join (band keys)",
      p => p.contains("BroadcastHashJoin [band#") &&
        !p.contains("CartesianProduct"))
    check("x185_ann_rerank_floor",
      "per-(radius,query) re-rank pushed down as WindowGroupLimit",
      _.contains("WindowGroupLimit"))
    // ---- round-12: ANN-kNN, ER entities, bitext mining -------------------
    check("x230_ann_knn_classify",
      "candidates route as the banded bucket equi-join; vote windows pruned",
      p => p.contains("BroadcastHashJoin [band#") &&
        p.contains("WindowGroupLimit") && !p.contains("CartesianProduct"))
    // The closure ran eagerly inside alternating-star (checkpointed
    // iterates → ExistingRDD); the blocking joins must stay equi-keyed
    // hash joins and the only nested-loop joins are 1-row broadcasts.
    // Since r16 the admitted set is materialized at construction (its
    // blocking+scoring subtree re-ran per consuming arm — 39 parquet
    // scans in one plan), so the returned plan consumes checkpointed
    // RDDs; the blocking joins' equi-keyed shape is still audited
    // lazily through x221 above (same scoredCandidates path).
    check("x229_er_entities",
      "closure consumed as checkpointed RDD; no cartesian in the tail",
      p => !p.contains("CartesianProduct") && p.contains("ExistingRDD"))
    // ADVICE r16: x229's admitted subtree executes AT the checkpoint, so
    // its blocking shape is invisible in the returned plan above. Audit
    // the pre-checkpoint subtree directly (x229's own construction, not
    // x221's — they could diverge): collect a copy to finalize AQE, then
    // hold it to the same substring-keyed-BHJ / no-cartesian bar. A
    // failure to build or run it counts as a failed check, not an abort.
    locally {
      val ok = try {
        val adm = graft.operators.EntityResolution
          .entitiesAdmittedLazy(Tables.customer(spark, dir))
        adm.collect()
        val p = adm.queryExecution.executedPlan.toString
        !p.contains("CartesianProduct") &&
          "BroadcastHashJoin \\[substring".r.findAllIn(p).length >= 1 &&
          "BroadcastHashJoin \\[dnation".r.findAllIn(p).length >= 1
      } catch {
        case e: Exception =>
          println(s"x229_er_entities pre-checkpoint audit threw: $e")
          false
      }
      if (!ok) failed += 1
      println(f"${"x229_er_entities"}%-22s ${"pre-checkpoint blocking substring-keyed BHJs"}%-44s ${if (ok) "OK" else "MISSING"}")
    }
    check("x235_bitext_mine",
      "smaller language block broadcast; both argmaxes WindowGroupLimit-pruned",
      p => p.contains("BroadcastNestedLoopJoin") &&
        "WindowGroupLimit".r.findAllIn(p).length >= 2 &&
        !p.contains("CartesianProduct"))
    check("x238_vocab_coverage_sweep",
      "rank is the vocab-bounded self-join + broadcast spine (no global window)",
      p => !p.contains("SinglePartition, Window") &&
        p.contains("BroadcastNestedLoopJoin"))
    check("x187_mix_apportion",
      "quota table broadcast; selection window partitions on source",
      p => p.contains("BroadcastHashJoin") &&
        p.contains("hashpartitioning(source") &&
        !p.contains("SinglePartition, Window"))
    check("x188_priority_sample",
      "weighted top-k as TakeOrdered (no global sort of the corpus)",
      _.contains("TakeOrderedAndProject"))
    check("x190_mad_outliers",
      "median/MAD as join-ranked value tables + broadcast scalars; no window",
      p => p.contains("BroadcastExchange") && !p.contains("Window"))
    check("x191_temperature_mix",
      "quota table broadcast; selection window partitions on lang",
      p => p.contains("BroadcastHashJoin") &&
        p.contains("hashpartitioning(lang") &&
        !p.contains("SinglePartition, Window"))
    check("x180_ks_drift",
      "ECDF via bucketed windows + broadcast offsets; argmax is TakeOrdered",
      p => p.contains("BroadcastExchange") &&
        p.contains("TakeOrderedAndProject"))

    // ---- round-11 additions ---------------------------------------------
    check("x192_content_manifest",
      "one corpus scan: zero joins, zero windows",
      p => !p.contains("Join") && !p.contains("Window"))
    check("x195_hash_vectorizer",
      "pure hash-aggregate pipeline (no join anywhere)",
      p => !p.contains("Join"))
    check("x196_countmin_certify",
      "sketch cells broadcast to the probes (equi-join on (j,b))",
      _.contains("BroadcastHashJoin"))
    check("x197_gram_novelty",
      "first-occurrence join partitions on the gram hash; windows stay doc-partitioned",
      p => p.contains("hashpartitioning(gh") &&
        !p.contains("SinglePartition, Window"))
    check("x199_snapshot_diff",
      "one full-outer equi-join of row-hash snapshots; no window",
      p => p.contains("FullOuter") && !p.contains("Window"))
    check("x202_phash_neardup",
      "banded candidates via equi-join on (band,v); no all-pairs nested loop",
      p => p.contains("Join") && !p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"))
    check("x201_lpa_communities",
      "edge table checkpointed once — rounds consume the RDD, never re-derive the self-join",
      p => p.contains("ExistingRDD") && !p.contains("l_orderkey"))

    // ---- round-14 additions ----------------------------------------------
    // A stored ANN probe filters the index scan with the query's (band, bv)
    // pairs: both columns reach the scan's pushed filters.
    def pushedBandProbe(p: String): Boolean = p.linesIterator.exists(l =>
      l.contains("PushedFilters: [") && l.contains("In(bv") && l.contains("EqualTo(band"))
    check("x252_ann_stored_index",
      "probe reads the BUCKETED stored index with bucket pruning; probe is a pushed (band, bv) predicate: no join; no index-side shuffle",
      p => p.contains("SelectedBucketsCount") &&
        "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(p)
          .exists(m => m.group(1).toInt < m.group(2).toInt) &&
        pushedBandProbe(p) && !p.contains("Join") &&
        !p.contains("Exchange hashpartitioning(bv"))
    check("x254_ivf_stored_cells",
      "probe's cid filter pushed to the stored cell-table scan (row-group pruning; bucket-level proven in Round19Spec)",
      p => p.contains("graft_ivf_cells_") &&
        p.contains("PushedFilters: [In(cid"))
    check("x250_corpus_pipeline",
      "stage hand-offs are id-keyed equi-joins: no cartesian, no unpartitioned window",
      p => !p.contains("CartesianProduct") &&
        !p.contains("SinglePartition, Window"))

    // ---- round-15 additions ----------------------------------------------
    check("x255_stream_ann_index",
      "probe unions BUCKET-PRUNED scans of the stream-built segments; probe is a pushed (band, bv) predicate: no join; no index-side shuffle",
      p => p.contains("SelectedBucketsCount") &&
        "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findAllMatchIn(p)
          .forall(m => m.group(1).toInt < m.group(2).toInt) &&
        pushedBandProbe(p) && !p.contains("Join") &&
        !p.contains("Exchange hashpartitioning(bv"))
    check("x256_ann_segment_compact",
      "compacted probe pays exactly ONE bucket-pruned scan (read amplification folded away); probe is a pushed (band, bv) predicate: no join",
      p => "SelectedBucketsCount: (\\d+) out of (\\d+)".r
          // final plan only: AQE appends an "Initial Plan" duplicate
          .findAllMatchIn(p.split("Initial Plan").head).toSeq match {
        case Seq(m) => m.group(1).toInt < m.group(2).toInt &&
          pushedBandProbe(p) && !p.contains("Join") &&
          !p.contains("Exchange hashpartitioning(bv")
        case _ => false
      })

    // ---- round-7: the two r6-verdict scale sores, now window-free -------
    check("x151_rfm", "sampled cutpoints broadcast; NO window anywhere",
      p => p.contains("BroadcastExchange") && !p.contains("Window"))
    check("x70_vocab_rank", "top-30 via TakeOrdered + join-rank (no global window)",
      p => p.contains("TakeOrderedAndProject") && !p.contains("Window"))

    // ---- suite-wide gate: no unpartitioned window in ANY declared plan --
    // A Window/WindowGroupLimit with an empty partition spec funnels every
    // row through ONE task — the canonical 100×-scale killer (r6 verdict
    // findings 1/2). Every declared query's OPTIMIZED plan (subqueries
    // included) is scanned; exceptions must be allowlisted here with the
    // bounded-frame argument that justifies them.
    val unpartitionedWindowAllowlist: Map[String, String] = Map.empty
    var gateScanned = 0
    var gateHits = 0
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.optimizedPlan
      val bad = plan.collectWithSubqueries {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w.nodeName
        case g: org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit
            if g.partitionSpec.isEmpty => g.nodeName
      }
      gateScanned += 1
      if (bad.nonEmpty && !unpartitionedWindowAllowlist.contains(name)) {
        failed += 1
        gateHits += 1
        println(f"$name%-22s ${"unpartitioned " + bad.distinct.mkString("+")}%-40s MISSING")
      }
    }
    println(f"${"window-gate"}%-22s ${s"$gateScanned plans scanned, $gateHits violations"}%-40s ${if (gateHits == 0) "OK" else "MISSING"}")

    // ---- AQE skew-join split on the hot-key fixture ---------------------
    // x135's unsalted SMJ carries half the fact rows on one key. AQE's
    // OptimizeSkewedJoin splits that partition at runtime — but its
    // trigger bytes (256 MB threshold / 64 MB advisory) are sized for
    // real clusters, so scale them to fixture size for the assertion.
    // Restored immediately: every other check runs on default AQE conf.
    {
      val prevThresh = spark.conf
        .get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
      val prevAdvisory = spark.conf
        .get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      val prevFactor = spark.conf
        .get("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      // sf0.01's hot partition is ~0.5 MB COMPRESSED (mapStats measure
      // shuffle-file bytes, not row bytes) — 10KB/5KB/1.0 scales the
      // trigger well below that while the median stays above split size.
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "10KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "5KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      try
        check("x135_hotkey_join_plain",
          "AQE skew-join split engages (skew=true)", _.contains("skew=true"))
      finally {
        spark.conf.set(
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
          prevThresh)
        spark.conf.set(
          "spark.sql.adaptive.advisoryPartitionSizeInBytes", prevAdvisory)
        spark.conf.set(
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor", prevFactor)
      }
    }

    // ---- spark.sql.extensions deployment path ---------------------------
    // A FRESH session configured only with GraftExtensions must get the
    // codegen function, the as-of optimizer rule, and the as-of planner
    // strategy — no runtime injection calls anywhere.
    spark.stop()
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val ext = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("graft-ext-audit")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    def extCheck(label: String, good: => Boolean): Unit = {
      val ok = good
      if (!ok) failed += 1
      println(f"${"extensions"}%-22s $label%-40s ${if (ok) "OK" else "MISSING"}")
    }
    extCheck("graft_dot resolvable from bare SQL",
      ext.sql("SELECT graft_dot(array(1.0d,2.0d), array(3.0d,4.0d)) AS d")
        .head().getDouble(0) == 11.0)
    extCheck("as-of optimizer rule injected",
      ext.sessionState.optimizer.batches.flatMap(_.rules)
        .exists(_.ruleName.contains("PushFilterThroughAsofJoin")))
    extCheck("as-of strategy plans AsofJoinExec without runtime injection", {
      import ext.implicits._
      val l = Seq((1L, 10L, 1L)).toDF("k", "t", "tie")
      val r = Seq((1L, 5L, 1L, 99L), (1L, 20L, 2L, 7L)).toDF("k", "t", "tie", "v")
      val df = graft.plans.AsofJoin.plan(l, r, "k", "t", "tie", "v", "prev")
      val rows = df.collect()
      df.queryExecution.executedPlan.toString.contains("AsofJoin") &&
        rows.length == 1 && rows.head.getAs[Long]("prev") == 99L
    })
    ext.stop()

    println(if (failed == 0) "ALL PLAN CHECKS OK" else s"$failed CHECKS FAILED")
    failed
  }
}
