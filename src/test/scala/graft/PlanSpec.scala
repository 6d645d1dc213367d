package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.obs.{Trace, TraceSpec}

/** Physical-plan shape assertions — the 100 TB contract is in the PLAN, not
  * the row counts: filters must reach the parquet scan, small dims must
  * broadcast, the sessionize pipeline must shuffle exactly once, and the
  * dedup kernels must run inside whole-stage codegen. A refactor that keeps
  * results but loses one of these properties regresses the scale story
  * silently — these tests make it loud.
  */
class PlanSpec extends AnyFunSuite {
  import SparkTestSession._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, SfDir).queryExecution.executedPlan.toString

  private def withAqeOff[T](body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }

  test("q21_waiting: correlated EXISTS/NOT EXISTS decorrelate to hash semi/anti joins") {
    // the correlated subqueries must leave the plan as LEFT SEMI and LEFT
    // ANTI hash joins keyed on l_orderkey — a nested-loop-per-outer-row
    // execution of either subquery is O(n²) over lineitem and would never
    // finish at 100 TB (the bnljCaps sweep separately pins zero BNLJs)
    val p = plan("q21_waiting")
    assert(p.contains("LeftSemi"), s"EXISTS did not decorrelate to a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS did not decorrelate to an anti join:\n$p")
    assert(!p.contains("CartesianProduct"), s"q21 plans a cartesian:\n$p")
  }

  test("r10 TPC-H batch: every subquery shape decorrelates to its hash-join form") {
    // Q4's EXISTS → left-semi on o_orderkey; Q16's NOT IN → null-aware
    // anti (s_suppkey is non-null, so it plans as LeftAnti); Q18's
    // IN-over-HAVING → left-semi against lineitem's own aggregation;
    // Q2's correlated scalar min → grouped aggregate + equi-join (no
    // per-part re-scan). Each shape is a per-outer-row O(n²) nested loop
    // if decorrelation fails — fatal at 100 TB.
    val q4 = plan("q4_order_priority")
    assert(q4.contains("LeftSemi"), s"q4 EXISTS did not become a semi join:\n$q4")
    val q16 = plan("q16_supp_variety")
    assert(q16.contains("LeftAnti"), s"q16 NOT IN did not become an anti join:\n$q16")
    val q18 = plan("q18_large_orders")
    assert(q18.contains("LeftSemi"), s"q18 IN did not become a semi join:\n$q18")
    val q2 = plan("q2_min_cost_supp")
    assert(q2.contains("min("), s"q2 correlated min did not decorrelate to an aggregate:\n$q2")
    Seq("q4_order_priority" -> q4, "q16_supp_variety" -> q16,
      "q18_large_orders" -> q18, "q2_min_cost_supp" -> q2).foreach { case (n, p) =>
      assert(!p.contains("CartesianProduct"), s"$n plans a cartesian:\n$p")
    }
  }

  test("q6: predicates are pushed into the parquet scan and columns pruned") {
    val p = plan("q6_revenue")
    assert(p.contains("PushedFilters:") && p.contains("l_shipdate"),
      "range predicates must reach the scan as PushedFilters")
    // projection needs only 4 columns; a full-width ReadSchema means pruning broke
    assert(!p.contains("l_orderkey"), "untouched columns must be pruned from the scan")
  }

  test("small-dimension joins broadcast instead of shuffling both sides") {
    val p = plan("join_part_brand")
    assert(p.contains("BroadcastHashJoin"), "part (small dim) must broadcast")
    assert(!p.contains("SortMergeJoin"), "no sort-merge for a broadcastable dim")
  }

  test("join_shuffle_hash: the hint selects ShuffledHashJoin over sort-merge") {
    val p = plan("join_shuffle_hash")
    assert(p.contains("ShuffledHashJoin"), s"SHUFFLE_HASH hint ignored:\n$p")
    assert(!p.contains("SortMergeJoin"), s"sort-merge must not appear with the hint:\n$p")
  }

  test("sessionize plans exactly one exchange (lag + flag + ffill share a window)") {
    val p = plan("sessionize")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 window exchange, found $exchanges:\n$p")
  }

  test("minhash pipeline: signature build runs in whole-stage codegen, no cartesian") {
    // AQE defers stage compilation, so codegen explain sees 0 subtrees on an
    // unexecuted adaptive plan — inspect with AQE off; the codegen explain
    // then prints the actual generated Java, which must call the kernel
    // directly (proof the expression compiled, not fell back to eval)
    val cg = withAqeOff {
      SparkEntry.queries("dedup_minhash_lsh")(spark, SfDir)
        .queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
    }
    assert(cg.contains("TextKernels.minhashSignature"),
      "generated code must invoke the MinHash kernel")
    val p = plan("dedup_minhash_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("decontaminate: eval gram index broadcasts; probe stays map-side up to the count") {
    val p = plan("decontaminate")
    assert(p.contains("BroadcastHashJoin"), "eval gram set must broadcast:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "gram probe must be an equi-join")
  }

  test("prepare_corpus: full pipeline plans equi-joins only, decon leg broadcasts") {
    val p = plan("prepare_corpus")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the composed pipeline must stay equi-join end to end")
    assert(p.contains("BroadcastHashJoin"), "eval gram index must broadcast in the decon leg")
  }

  test("repetition stats: kernel participates in whole-stage codegen") {
    val cg = withAqeOff {
      SparkEntry.queries("repetition_stats")(spark, SfDir)
        .queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
    }
    assert(cg.contains("TextKernels.repetitionStats"),
      "generated code must invoke the repetition kernel")
  }

  test("ngram jaccard: candidate join is an equi-join, never a cartesian") {
    val p = plan("dedup_ngram_jaccard")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("lang_id: staged score projection survives optimization (no per-branch re-eval)") {
    // The r2 regression shape: language scores folded into the argmax
    // when-chain get re-evaluated once per CASE branch (~3^5 copies, 4×
    // slower). Staged as real columns, each score's marker-filter appears
    // in the plan EXACTLY once per language — duplication means
    // CollapseProject swallowed the staging boundary.
    val p = plan("lang_id")
    graft.operators.TextAnalysis.LangMarkers.foreach { case (lang, ms) =>
      // the marker list renders as a joined literal run — one occurrence per
      // evaluation of that language's score expression (", "-joined inside
      // the graft_count_in kernel call; ","-joined in the old isin form)
      val listPattern =
        (java.util.regex.Pattern.quote(ms.mkString(",")) + "|" +
          java.util.regex.Pattern.quote(ms.mkString(", "))).r
      val n = listPattern.findAllIn(p).size
      assert(n >= 1, s"language $lang's marker list missing from the plan:\n$p")
      assert(n <= 2, s"language $lang's score expression appears $n times — staged projection collapsed:\n$p")
    }
  }

  test("q3: dim side broadcasts and the date predicates reach the parquet scans") {
    val p = plan("q3_shipping")
    assert(p.contains("BroadcastHashJoin"), "filtered customer dim must broadcast")
    // the predicate must appear INSIDE a PushedFilters list — a bare
    // "PushedFilters:" substring is printed even when the list is empty
    assert("PushedFilters: \\[[^\\]]*l_shipdate".r.findFirstIn(p).isDefined,
      s"lineitem date filter must be pushed into the scan:\n$p")
  }

  test("wau: distinct aggregation is two-phase (partial before the shuffle)") {
    val p = plan("wau_user")
    // Catalyst plans count(distinct) as partial_count + partial dedup map-side;
    // a plan without partial aggregation ships every event through the shuffle
    assert(p.contains("partial"), s"expected partial aggregation in:\n$p")
  }

  test("pack_sequences plans exactly one exchange (the shard hash)") {
    // The whole layout is computed inside per-shard windows that share the
    // md5-shard partitioning — a second exchange means a window picked up a
    // different partitioning key and the "one shuffle of the metadata"
    // scale contract broke.
    val p = plan("pack_sequences")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 shard exchange, found $exchanges:\n$p")
  }

  test("label_centroids aggregates via the graft_vec_sum ObjectHashAggregate") {
    // The M-step contract: 8·dim bytes per group through the shuffle via the
    // TypedImperativeAggregate — if Catalyst ever plans it as a sort-based
    // aggregate (or the agg silently falls back to collect_list+fold), the
    // 100 TB memory story is gone.
    val p = plan("label_centroids")
    assert(p.contains("ObjectHashAggregate"), s"expected ObjectHashAggregate in:\n$p")
    assert(p.toLowerCase.contains("graft_vec_sum"), s"expected graft_vec_sum agg in:\n$p")
    assert(!p.contains("collect_list"), "centroids must not pass through collect_list")
  }

  test("semdedup: candidate generation is an equi-join on the cluster id") {
    // The SemDeDup scale contract: per-cluster all-pairs reached through an
    // equi-join on the cluster assignment — never a cartesian over the
    // corpus (the vec_a < vec_b predicate must ride ON the equi-join, not
    // become a nested-loop condition).
    val p = plan("dedup_embedding_semdedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"semdedup pair join degenerated:\n$p")
  }

  test("pii_scrub_events is one map-side pass (no hash exchange, no join)") {
    // The privacy scrub's contract at 100 TB: pure column expressions, so
    // the only exchange in the declared query is the output ORDER BY's range
    // partition — a hash exchange or a join means someone turned the scrub
    // into a shuffle.
    val p = plan("pii_scrub_events")
    assert(!p.contains("Exchange hashpartitioning"),
      s"scrub must not hash-shuffle:\n$p")
    assert(!p.contains("Join"), s"scrub must not join:\n$p")
  }

  test("bpe_pair_counts: partial aggregation and top-k without a global sort") {
    val p = plan("bpe_pair_counts")
    assert(p.contains("partial"),
      s"pair counts must partial-aggregate map-side before the shuffle:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-k must plan as TakeOrderedAndProject, not a full Sort:\n$p")
  }

  test("embed_quantize encode pass is map-side (bounds ride as plan literals)") {
    // The stats aggregation runs eagerly at query construction (a k-row
    // collect, like the kmeans centroids); the DECLARED plan is the encode —
    // which must be a single map-side pass with no hash exchange and no join
    // back to a stats relation.
    val p = plan("embed_quantize")
    assert(!p.contains("Exchange hashpartitioning"),
      s"encode must not hash-shuffle:\n$p")
    assert(!p.contains("Join"), s"bounds must be literals, not a joined relation:\n$p")
  }

  test("dedup_incremental: probe joins stay equi-joins, never cartesian") {
    val p = plan("dedup_incremental")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"incremental probe degenerated:\n$p")
  }

  test("dsir_weights: λ broadcasts into the weight pass, no cartesian anywhere") {
    val p = plan("dsir_weights")
    assert(p.contains("BroadcastHashJoin"),
      s"the buckets-row λ table must broadcast into the seed stream:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"dsir must plan equi-joins only:\n$p")
  }

  test("dedup_substr_spans: seed kernel in codegen, equi-joins only, per-doc window") {
    val p = plan("dedup_substr_spans")
    assert(p.contains("graft_gram_hashes"),
      s"positional seeds must come from the codegen'd kernel:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the dup-seed join must stay an equi-join:\n$p")
    assert(p.contains("Window"), s"the interval merge must plan as a window:\n$p")
  }

  test("kmeans loop reads the persisted working set (InMemoryTableScan)") {
    // r6 finding: the normalize+filter working set was rescanned every
    // iteration (iters + 2 input scans). The persist is load-bearing at
    // 100 TB — pin that every M-step plan (the `vsum` aggregations) reads the cache.
    val (_, trace) = Trace.capture(spark)(
      SparkEntry.queries("kmeans_clusters")(spark, SfDir).collect())
    val mSteps = trace.statements.filter(_.qe.analyzed.toString.contains("vsum"))
      .map(_.qe.executedPlan.toString)
    assert(mSteps.nonEmpty, "kmeans ran no M-step")
    mSteps.foreach { p =>
      assert(p.contains("InMemoryTableScan"),
        s"M-step must read the persisted working set, not rescan the input:\n$p")
    }
  }

  test("lm_perplexity: model tables broadcast; only the 1-row mean rides a BNLJ") {
    val p = plan("lm_perplexity")
    assert(p.contains("BroadcastHashJoin"),
      s"the vocab-scale λ tables must broadcast into the scoring pass:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian anywhere:\n$p")
    // exactly one BroadcastNestedLoopJoin: the 1-row corpus-mean scalar —
    // a second one would mean a model join degenerated
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj == 1, s"expected exactly the scalar-mean BNLJ, found $bnlj:\n$p")
  }

  test("epoch_plan: no global total order — windows partition by (epoch, worker)") {
    // the operator's claim is that a dense GLOBAL position is never
    // materialized (that would be a single-partition window); only the
    // query's display orderBy may range-partition, so pin the bare operator
    val p = graft.operators.Packing.epochPlan(
      graft.operators.Packing.packedSequenceSlices(
        Tables.documents(spark, SfDir), 256, 8),
      epochs = 2, nWorkers = 4).queryExecution.executedPlan.toString
    assert(p.contains("Window"), s"per-rank positions must plan as a window:\n$p")
    assert(!p.contains("SinglePartition") && !p.contains("rangepartitioning"),
      s"epoch_plan must never plan a global total order:\n$p")
  }

  test("q5: the region-filtered nation dim broadcasts; no cartesian anywhere") {
    val p = plan("q5_region_volume")
    assert(p.contains("BroadcastHashJoin"), "nation⋈region must broadcast")
    assert(!p.contains("CartesianProduct"), s"no cartesian in a six-way equi-join:\n$p")
    assert(p.contains("PushedFilters:") && p.contains("o_orderdate"),
      "the order-date range must reach the orders scan")
  }

  test("bm25: query terms broadcast into the postings join; scalars ride 1-row BNLJs only") {
    val p = plan("bm25_topk")
    assert(p.contains("BroadcastHashJoin"), "the KB-scale query set must broadcast")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 2, s"only the avgdl/N one-row scalars may ride BNLJs, found $bnlj:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("partition_prune_docs: the source predicate prunes at the PARTITION level") {
    val p = plan("partition_prune_docs")
    assert(p.contains("PartitionFilters") && p.contains("src3"),
      s"the source filter must prune partition directories, not rows:\n$p")
  }

  test("cdc_merge_pruned: the base scan is PARTITION-pruned to the touched partition") {
    // run the query; its one partitioned write is the pruned merge, and
    // every scan under it (base and change batch) must be partition-pruned
    val (_, trace) = Trace.capture(spark)(
      SparkEntry.queries("cdc_merge_pruned")(spark, SfDir).collect())
    val merge = trace.statements.map(_.qe.executedPlan)
      .filter(_.toString.contains("InsertIntoHadoopFsRelationCommand"))
      .filter(_.toString.contains("1-URGENT"))
    assert(merge.size == 1, trace.plans.mkString("\n"))
    val scans = TraceSpec.fileScans(merge.head)
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.mkString.contains("1-URGENT")),
      "the touched-partition predicate must prune at the partition level, not the row " +
        s"level:\n${merge.head}")
  }

  test("final-r7 batch queries: equi-joins only — no cartesian, scalar BNLJs bounded") {
    // cap = number of 1-ROW scalar frames the query legitimately crossJoins
    // (corpus totals, avgdl); anything above it means a real relation fell
    // off its equi-join keys and would explode at scale
    // hybrid's third BNLJ is the brute-force cosine scan itself: corpus ×
    // broadcast seed vectors under a non-equi (self-exclusion) condition —
    // the declared ground-truth dense ranker, same shape knn_brute_cosine
    // plans; the LSH/IVF routes are the scale path
    // anneal counts 3: its own totals scalar, plus mixtureWeights'
    // internal scalar appearing twice because the mw subtree feeds both
    // the main branch and the totals aggregate (source-count-sized, cheap)
    val bnljCaps = Map(
      "top_tokens_cms" -> 1, "anneal_schedule" -> 3, "cdc_merge" -> 0,
      "diversity_stats" -> 0, "dedup_chunks" -> 0, "hybrid_seed_expand" -> 3,
      "window_pct_dist" -> 0, "schema_evolution" -> 0, "orc_roundtrip" -> 0,
      // r8 batch additions: scalar/spine BNLJs only, never data×data
      "doc_triangles" -> 0, "snapshot_diff" -> 0, "mv_incremental" -> 0,
      "shuffle_skew_report" -> 0, "dedup_edit_distance" -> 0,
      "zorder_prune" -> 0, "embed_rp" -> 0,
      "sample_neyman" -> 2, "fk_integrity_audit" -> 5, "resample_daily" -> 1,
      // r9 batch additions: the header decode and the physical-layout
      // round-trip are join-free; the persisted-IVF probe carries only
      // withRecall's one-row pool scalar
      // knn_ivf_persisted counts 3 like hybrid: withRecall's brute-force
      // pool is itself the declared ground-truth BNLJ scan (corpus ×
      // broadcast queries, non-equi self-exclusion) plus the hit-count and
      // pool one-row scalars; bm25_topk_persisted carries only the stored
      // 1-row avgdl frame
      "mm_decode_real" -> 0, "zorder_write_read" -> 0, "knn_ivf_persisted" -> 3,
      "bm25_topk_persisted" -> 1,
      "bpe_decode" -> 0, "retention_prune" -> 0, "mm_format_stats" -> 0,
      "text_nfc_audit" -> 0, "session_window_stats" -> 0, "quantiles_approx" -> 0,
      "zorder_manifest_scan" -> 0, "mv_retract" -> 0,
      // r9 analytics/sketch additions: theta_total_rollup crossJoins the
      // one-row exact-distinct frame (the wauValidated scalar pattern)
      "rolling_revenue_7d" -> 0, "event_transitions" -> 0, "sliding_wau" -> 0,
      "theta_wow_overlap" -> 0, "theta_total_rollup" -> 1,
      "binaryfile_ingest" -> 0, "gdpr_forget" -> 0, "kll_quantile_rollup" -> 0,
      // table_profile crossJoins the one-row exact-distinct frame;
      // funnel_within and ab_ztest each carry one 1-row scalar crossJoin
      "session_paths" -> 0, "table_profile" -> 1,
      "funnel_within" -> 1, "ab_ztest" -> 1, "decay_score" -> 0,
      "assign_ids" -> 0, "stream_kll_ingest" -> 0, "scd2_lookup" -> 0,
      "wow_growth" -> 0,
      // r10: the correlated-EXISTS query must decorrelate fully — zero
      // nested-loop joins (the dedicated q21 test below pins the semi/anti
      // shape too); the snapshot-log queries are join-free
      "q21_waiting" -> 0, "time_travel" -> 0, "vacuum_orphans" -> 0,
      // r10: the incremental-index probes plan exactly like their full
      // counterparts (the append/merge changed the stored tables, not the
      // probe shape); dedup_phash's band join is a pure equi-join;
      // stream_sketch_rollup crossJoins the one-row stream==batch law frame
      "knn_ivf_persisted_incr" -> 3, "bm25_topk_incr" -> 1,
      "dedup_phash" -> 0, "stream_sketch_rollup" -> 1,
      // the correlated scalar agg and the nested-IN chain must both
      // decorrelate to hash joins — zero nested loops
      "q17_small_qty" -> 0, "q20_heavy_suppliers" -> 0,
      "dedup_phash_incr" -> 0, "dedup_audio" -> 0,
      // attribution is one window pass + one agg; the component-safe split
      // crossJoins only the one-row naive-leak counter
      "attribution_last_touch" -> 0, "split_component_safe" -> 1,
      // q22's one-row (n, tot) scalar rides the only BNLJ; the NOT EXISTS
      // decorrelates to a hash anti-join; the streaming probe is an
      // equi-join against the static band index
      "q22_idle_customers" -> 1, "stream_phash_ingest" -> 0,
      // snapshot probe = persisted_incr's 3 plus the two one-row
      // set-equality law scalars (n_extra / n_missing)
      "knn_ivf_snapshot" -> 5,
      // dpp's mean threshold rides the one-row (tot, nd) scalar, and the
      // dynamicpruning subquery REPLAYS the dim build inside the fact
      // scan's plan text — the same one-row BNLJ printed twice; the
      // footer-stats aggregate is scan-only
      "join_dpp_prune" -> 2, "agg_pushdown_stats" -> 0,
      // r10 TPC-H batch: every subquery shape (correlated scalar min,
      // EXISTS, IN-over-HAVING, NOT IN, uncorrelated scalar max) must
      // decorrelate to hash joins / one-row scalar subqueries — zero
      // nested loops across the board
      "q2_min_cost_supp" -> 0, "q4_order_priority" -> 0,
      "q7_nation_volume" -> 0, "q9_product_profit" -> 0,
      "q10_returned_rev" -> 0, "q13_cust_orders_dist" -> 0,
      "q14_promo_share" -> 0, "q15_top_supplier" -> 0,
      "q16_supp_variety" -> 0, "q18_large_orders" -> 0,
      "q19_disjunctive_rev" -> 0,
      // the k-center result is a model-sized local frame (the greedy
      // passes run inside the builder); evolution is two scans + an agg
      "sample_kcenter" -> 0, "snapshot_schema_evolved" -> 0,
      // kappa and the reliability bins are each ONE aggregate pass; the
      // tombstone read is a hash anti-join on the key column
      "annotator_kappa" -> 0, "calibration_bins" -> 0,
      "snapshot_delete_rows" -> 0,
      // q8 is a 6-way equi-join star; the window query is join-free; the
      // full-outer stream replay joins on the user-key equi condition;
      // the rule/blocklist screens are pure map-side scans
      "q8_market_share" -> 0, "window_ntile_nth" -> 0,
      "stream_interval_join_full" -> 0,
      "quality_rules" -> 0, "blocklist_filter" -> 0,
      "unpivot_metrics" -> 0, "stream_snapshot_ingest" -> 0,
      // the forward as-of is the same union-sort window shape: no join at all
      "asof_next_purchase" -> 0,
      // q11's global share threshold rides a one-row scalar subquery (no
      // BNLJ); the histogram/array/null/complete-mode queries are scan +
      // window/agg only
      "q11_important_brands" -> 0, "hist_equidepth" -> 0,
      "array_funcs" -> 0, "null_semantics" -> 0,
      "stream_complete_rollup" -> 0,
      // dict join broadcasts a vocabulary-sized frame; feature-hash is explode+agg
      "dict_encode" -> 0, "feature_hash" -> 0,
      "join_shuffle_hash" -> 0, "observe_metrics" -> 0,
      "snapshot_optimize" -> 0, "snapshot_stats_prune" -> 0,
      "snapshot_merge_upsert" -> 0, "q12_shipmode" -> 0,
      "snapshot_delta_log" -> 0, "snapshot_constraints" -> 0,
      "regr_components" -> 0, "median_exact" -> 0,
      // funnel_within_any ends in the same one-row-scalar conv_ppm
      // crossJoin(broadcast) as funnel_within
      "stream_merge_upsert" -> 0, "funnel_within_any" -> 1,
      "mode_exact" -> 0, "lateral_top_orders" -> 0,
      "ewma_halving" -> 0, "autocorr_lag" -> 0,
      "skyline_pareto" -> 0, "corr_matrix" -> 0, "bfs_hops" -> 0,
      "heavy_hitters_mg" -> 0, "snapshot_concurrent_append" -> 0,
      "snapshot_refs" -> 0, "seasonal_dow" -> 0,
      "json_props_rollup" -> 0, "window_rank_family" -> 0,
      "mv_join_incremental" -> 0, "hilbert_prune" -> 0,
      "compact_small_files" -> 0, "snapshot_change_feed" -> 0,
      "snapshot_history" -> 0, "snapshot_restore" -> 0,
      "mv_change_feed" -> 0, "snapshot_wap" -> 0,
      "stream_from_log" -> 0, "txn_consistent_read" -> 0,
      "incremental_consume" -> 0, "maintenance_plan" -> 0,
      // resample_interp carries the same days-sized broadcast spine
      // crossJoin as resample_daily
      "resample_interp" -> 1, "ab_mannwhitney" -> 0,
      "copurchase_pairs" -> 0, "changepoint_cusum" -> 0,
      // vocab_drift carries one 1-row totals crossJoin (the ab_ztest
      // scalar-broadcast pattern)
      "vocab_drift" -> 1, "knn_mmr_rerank" -> 0,
      "feature_pit_join" -> 0, "funnel_latency" -> 0,
      "attribution_linear" -> 0, "join_size_cms" -> 0,
      "stream_txn_ingest" -> 0, "txn_gc" -> 0,
      "snapshot_fk_gate" -> 0, "txn_history" -> 0,
      "snapshot_value_prune" -> 0,
      // collocations_pmi / cluster_top_terms carry the 1-row
      // token-total crossJoin (the ab_ztest scalar-broadcast pattern)
      "collocations_pmi" -> 1, "cluster_top_terms" -> 1,
      "mm_resize_grid" -> 0, "mm_audio_envelope" -> 0,
      // benford_audit carries the 1-row total crossJoin
      "benford_audit" -> 1,
      // r10 closing wave: graph_modularity crossJoins the one-row 2m and
      // q_num_total scalar frames; knn_shapley's test×train broadcast IS
      // the declared exact-valuation scan (the knn_ivf_persisted pool
      // pattern); ldiv_audit carries the one-row exposure summary
      "graph_sssp" -> 0, "graph_modularity" -> 1,
      "textrank_keywords" -> 0, "mm_scene_cuts" -> 0,
      "classifier_auc" -> 0, "ldiv_audit" -> 1, "knn_shapley" -> 1)
    bnljCaps.foreach { case (q, cap) =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
      assert(bnlj <= cap, s"$q: $bnlj BNLJs exceed the $cap one-row-scalar cap:\n$p")
    }
  }

  test("join_dpp_prune: the runtime day-set reaches the fact scan as a dynamicpruning filter") {
    val (_, trace) = Trace.capture(spark)(
      SparkEntry.queries("join_dpp_prune")(spark, SfDir).collect())
    val p = trace.plans.mkString("\n")
    assert(p.contains("dynamicpruning"),
      s"fact scan must carry a dynamic partition pruning subquery:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in dpp plan:\n$p")
  }

  test("agg_pushdown_stats: COUNT/MIN/MAX answered from parquet footers, not row scans") {
    // the builder plans its frame inside its conf window; the frame's own
    // execution must run that plan
    val (_, trace) = Trace.capture(spark)(
      SparkEntry.queries("agg_pushdown_stats")(spark, SfDir).collect())
    val p = trace.plans.mkString("\n")
    assert(p.contains("PushedAggregation"),
      s"v2 parquet scan must push the aggregates to footer statistics:\n$p")
  }

  test("join_bloom_prefilter: the bloom probe filters the fact side BEFORE any join") {
    val p = plan("join_bloom_prefilter")
    val probeAt = p.indexOf("might_contain")
    assert(probeAt >= 0, s"bloom probe missing from the plan:\n$p")
    // the probe must sit below (= printed after) no join: the first join
    // operator in the printed tree appears before the filter line, and the
    // orders scan feeding the probe appears after it — i.e. the filter is
    // on the scan side, not applied to join output
    val scanAfterProbe = p.indexOf("orders.parquet", probeAt)
    assert(scanAfterProbe > probeAt,
      s"bloom probe is not adjacent to the orders scan:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in bloom-prefilter plan:\n$p")
  }

  test("resample_daily: the calendar spine rides a broadcast, user windows shuffle by user") {
    val p = plan("resample_daily")
    // the ~30-row day spine must never shuffle the user side: its join is
    // a broadcast nested-loop (cross with a broadcast literal frame)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"day spine is not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in resample plan:\n$p")
  }
}
