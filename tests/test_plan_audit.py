"""Physical-plan audit: the 100 TB scale properties README.md claims,
enforced as assertions over the actual executed plans.

These don't run the queries (except where noted) — they inspect the
physical plan string, so a regression that silently adds a shuffle,
drops a broadcast, breaks pushdown, or moves a hot path into Python
fails CI rather than surfacing as a 10x slowdown on a cluster.
"""

from __future__ import annotations

import re

import pytest

from laser_hadoop_spark import registry


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _plan_through_ckpts(spark, sf_dir, fn) -> str:
    """Top-level plan PLUS every localCheckpoint input's plan.

    Round 13: queries that pin a relation (lazily or eagerly) truncate
    their visible plan at a Scan ExistingRDD; auditing only the top
    plan goes blind to everything upstream of the pin (the r12 simhash
    blind spot, VERDICT_r12 item 9). Same capture discipline as
    scripts/measure.py."""
    try:
        from pyspark.sql.classic.dataframe import DataFrame as _CDF
    except ImportError:  # pragma: no cover - older Spark
        from pyspark.sql import DataFrame as _CDF

    frags = []
    orig = _CDF.localCheckpoint

    def capturing(self, eager=True):
        frags.append(_plan(self))
        return orig(self, eager=eager)

    _CDF.localCheckpoint = capturing
    try:
        top = _plan(fn(spark, sf_dir))
    finally:
        _CDF.localCheckpoint = orig
    return "\n".join([top, *frags])


def _n_shuffles(plan: str) -> int:
    """Count shuffle exchanges (not broadcast exchanges / reuses)."""
    return len(re.findall(r"\bExchange (?:hashpartitioning|SinglePartition|rangepartitioning)", plan))


def test_pricing_summary_pushdown_pruning_single_shuffle(spark, sf_dir):
    """Q1 shape: filter pushed to parquet, unused columns pruned, and the
    only shuffle is the tiny partial->final aggregate exchange."""
    df = registry.get("q_pricing_summary").fn(spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert "l_partkey" not in plan, "scan reads columns the query never uses"
    assert "l_orderkey" not in plan
    assert _n_shuffles(plan) == 1, plan


def test_broadcast_join_plans_bhj(spark, sf_dir):
    """J1: the dimension side of the reference's core join broadcasts —
    no shuffle of the fact side for the join itself."""
    plan = _plan(registry.get("q_broadcast_inner_join").fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_semi_and_anti_joins_broadcast(spark, sf_dir):
    """J2/J3: membership joins against a small key set broadcast the set."""
    for name in ("q_semi_join", "q_anti_join"):
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, name


def test_window_queries_single_shuffle(spark, sf_dir):
    """W3/W4: partitioned window functions need exactly one exchange on
    the partition key (sort happens within partitions after it)."""
    for name in ("q_rank_topk_per_group", "q_window_running_sum"):
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert _n_shuffles(plan) == 1, f"{name}: {plan}"


def test_sessionize_two_windows_share_one_exchange(spark, sf_dir):
    """X22: lag-window, running-sum window, and the session aggregate all
    hash-partition by user_id — one shuffle for the whole query."""
    plan = _plan(registry.get("q_sessionize_batch").fn(spark, sf_dir))
    assert _n_shuffles(plan) == 1, plan


def test_relational_hot_paths_stay_jvm_side(spark, sf_dir):
    """No Python evaluation nodes in relational/window/text/dedup plans —
    Python appears only in declared Arrow kernels (ANN, grouped PCA)."""
    for name in (
        "q_pricing_summary",
        "q_text_quality",
        "q_dedup_ngram_jaccard",
        "q_rank_topk_per_group",
        "q_curation_pipeline",
    ):
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_ngram_selfjoin_reuses_exchange(spark, sf_dir):
    """X-series dedup: the shingle self-join's two sides must share one
    shuffle (ReusedExchange), not compute the shingle subplan twice."""
    df = registry.get("q_dedup_ngram_jaccard").fn(spark, sf_dir)
    df.collect()  # reuse is decided by AQE — inspect the final plan
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan, plan


def test_unpivot_is_shuffle_free(spark, sf_dir):
    """X18: wide->long expansion happens in the scan stage — zero exchanges."""
    plan = _plan(registry.get("q_unpivot").fn(spark, sf_dir))
    assert _n_shuffles(plan) == 0, plan


def test_embedding_threshold_no_driver_collect_no_single_partition(spark, sf_dir):
    """L4 all-pairs: the grid-blocked kernel must not funnel through a
    single partition, and the whole pair generation is a grouped Arrow
    kernel over exploded grid cells — no full-side collect() exists in
    the path."""
    df = registry.get("q_embedding_threshold").fn(spark, sf_dir)
    plan = _plan(df)
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_row_number_chunking_no_global_window(spark, sf_dir):
    """W1 scale form: two-pass offset chunking must not plan a
    single-partition exchange (the global-window anti-pattern)."""
    df = registry.get("q_row_number_chunking").fn(spark, sf_dir)
    plan = _plan(df)
    assert "Exchange SinglePartition" not in plan, plan


def test_tpch_widening_plans(spark, sf_dir):
    """Round-2 TPC-H widening: pushdown + broadcast dims + minimal
    shuffles + top-k via TakeOrderedAndProject (never a global sort)."""
    expectations = {
        # name: (max shuffles, min broadcast joins, wants TakeOrdered)
        "q_forecast_revenue": (1, 0, False),
        "q_volume_shipping": (1, 4, False),
        "q_market_share": (1, 6, False),
        "q_returned_items": (1, 2, True),
        "q_large_volume_orders": (2, 2, True),
    }
    for name, (max_sh, min_bhj, topk) in expectations.items():
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert _n_shuffles(plan) <= max_sh, f"{name}: {plan}"
        assert plan.count("BroadcastHashJoin") >= min_bhj, f"{name}: {plan}"
        if topk:
            assert "TakeOrderedAndProject" in plan, f"{name}: {plan}"
        assert "PushedFilters: [" in plan, f"{name}: {plan}"


def test_bucketed_fact_join_no_join_shuffle(spark, sf_dir):
    """X5: the bucketed lineitem x orders join must read co-located
    buckets — the only exchange in the plan is the final aggregate's."""
    df = registry.get("q_bucketed_fact_join").fn(spark, sf_dir)
    plan = _plan(df)
    assert _n_shuffles(plan) == 1, plan
    try:
        rows = {tuple(r) for r in df.collect()}
        want = {
            tuple(r)
            for r in registry.get("q_large_join_multikey").fn(spark, sf_dir).collect()
        }
        assert rows == want
    finally:
        pass


def test_projection_pruning_reaches_scan(spark, sf_dir):
    """S14: a 2-column projection reads a 2-column ReadSchema."""
    from laser_hadoop_spark.tables import table

    df = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = _plan(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    assert sorted(f.split(":")[0] for f in m.group(1).split(",")) == [
        "l_orderkey",
        "l_quantity",
    ]


def _n_jobs_during(spark, build):
    """Count Spark jobs run while build() constructs a DataFrame.

    Every spark.read.parquet call runs a footer/schema job, so "fully
    lazy" is measured RELATIVE to a bare table() read of the same
    inputs, not as an absolute zero."""
    sc = spark.sparkContext
    _n_jobs_during.seq = getattr(_n_jobs_during, "seq", 0) + 1
    group = "plan-build-audit-%d" % _n_jobs_during.seq
    sc.setJobGroup(group, "plan build audit")
    try:
        build().schema  # analysis only — no execution
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_tfidf_plan_is_fully_lazy(spark, sf_dir):
    """X11: the corpus count is a 1-row broadcast inside the plan, not a
    separate driver count action (the r2 VERDICT's d.count()), and the
    df join is unhinted — AQE picks broadcast at runtime size instead
    of a forced hint that would OOM on a 100 TB vocabulary long tail.
    Lazy == builds with exactly the jobs of a bare documents read."""
    from laser_hadoop_spark.tables import table

    baseline = _n_jobs_during(spark, lambda: table(spark, sf_dir, "documents"))
    built = _n_jobs_during(
        spark, lambda: registry.get("q_text_tfidf").fn(spark, sf_dir)
    )
    assert built <= baseline, (
        f"plan build ran {built} jobs vs {baseline} for a bare read — "
        "a driver action (count/collect) is hiding in query construction"
    )
    plan = _plan(registry.get("q_text_tfidf").fn(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sample_stratified_scan_local(spark, sf_dir):
    """X13: the mixture rule derives per-row from the stratum value —
    no distinct-collect of strata at plan build, zero shuffles."""
    from laser_hadoop_spark.tables import table

    baseline = _n_jobs_during(spark, lambda: table(spark, sf_dir, "documents"))
    built = _n_jobs_during(
        spark, lambda: registry.get("q_sample_stratified").fn(spark, sf_dir)
    )
    assert built <= baseline, (
        f"plan build ran {built} jobs vs {baseline} for a bare read — "
        "the strata distinct-collect is back"
    )
    plan = _plan(registry.get("q_sample_stratified").fn(spark, sf_dir))
    assert _n_shuffles(plan) == 0, plan


def test_partsupp_tpch_shapes_stay_jvm_side(spark, sf_dir):
    """X47: the Q9/Q11/Q15/Q16/Q21 shapes plan with broadcast dims and
    no Python nodes; the Q21 EXISTS/NOT-EXISTS pair decorrelates to
    joins (no per-row subquery nodes survive)."""
    for name in (
        "q_product_profit",
        "q_important_stock",
        "q_top_supplier",
        "q_parts_supplier_count",
        "q_waiting_suppliers",
    ):
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "BroadcastHashJoin" in plan, name
        assert "InSubquery" not in plan, name


def test_round3_queries_stay_jvm_side_and_shuffle_bounded(spark, sf_dir):
    """Round-3 additions: no Python nodes anywhere; single-pass
    aggregation families plan exactly one shuffle; the sweep-line and
    basket shapes stay within their declared exchange budget."""
    # cached relations from earlier tests (oracle corpus runs the
    # same queries) would swap InMemoryRelation subtrees into these
    # plans and change the exchange counts - audit cold plans
    spark.catalog.clearCache()
    budgets = {
        "q_regression_stats": 1,
        "q_zorder_stats": 1,
        "q_winnow_fingerprints": 1,   # posexplode+window+distinct share doc_id
        "q_time_weighted_avg": 1,     # lead window + agg share user_id
        "q_stat_aggs": 1,
        "q_max_concurrent": 2,        # per-date deltas, then per-prio windows
        "q_market_basket": 6,         # one distinct feeds supports AND pairs
        "q_bloom_semi_join": 4,       # bitmap build + residual semi-join
        "q_resample_linear": 2,       # bounds agg + shared user_id windows
        "q_attribution": 4,           # user window + two touch rollups
        "q_triangle_count": 1,        # checkpointed edges, joins broadcast
        "q_best_split": 4,            # histogram + cum window + rank
        "q_feature_hashing": 1,
        "q_naive_bayes_train": 3,
        "q_ohlc_candles": 2,
        "q_key_skew_profile": 3,
        "q_inverted_index": 2,
        "q_dq_checks": 4,
        "q_hll_sketch": 6,
        "q_kmeans_exact": 12,         # 3 unrolled iterations x (assign+update)
        "q_prefix_filter_pairs": 9,   # materialized tok + prefix; +1 in r10
                                      # for the hot/cold posting split
                                      # (pc agg feeding the triangle-
                                      # sharded hot join — the x10 skew
                                      # fix, operator docstring)
        "q_point_in_time_join": 1,    # interval pred inside user equi-join
        "q_outlier_count": 2,         # stats agg + broadcast-joined test
        "q_event_transitions": 5,
        "q_ab_test": 3,
        "q_rfm_segments": 14,     # r12: the three rank passes run as
                                  # CONCURRENT jobs (guide §2.6; 2.90 ->
                                  # 1.02 s wall) joined back on user_id,
                                  # so the final plan holds three
                                  # checkpoint-rooted branches (window +
                                  # offset agg each) + three user-level
                                  # equi-joins instead of one chained
                                  # lineage: more exchange NODES, but
                                  # every one moves user-level rows and
                                  # three of them overlap in wall time;
                                  # still no single-partition funnel
                                  # (companion test below)
        "q_hamming_neighbors": 3,     # deletion-key self-join + id-pair
                                      # distinct + census; the mirror
                                      # union re-PRINTS the distinct's
                                      # exchange (AQE reuses it at run
                                      # time — round-8 id-only shape)
        "q_top_paths": 2
    }
    for name, budget in budgets.items():
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        got = _n_shuffles(plan)
        assert got <= budget, (name, got, budget)


def test_ordered_cumsum_family_no_global_window(spark, sf_dir):
    """Round-3 verdict item 8: the ordered-global-window family now
    runs the two-pass ordered_cumsum — every window in the plan is
    partitioned (by __pid), so no data-bearing single-partition window
    funnel remains. (The one surviving Exchange SinglePartition is the
    final scalar aggregate, which moves n_partitions partial rows, not
    data.)"""
    for name in ("q_pareto_customers", "q_gini_revenue", "q_abc_analysis"):
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        specs = [
            s for s in plan.split("windowspecdefinition(")[1:]
        ]
        assert specs, f"{name}: expected partitioned windows in {plan}"
        for s in specs:
            assert s.startswith("__pid"), f"{name}: unpartitioned window: {s[:120]}"


def test_round4b_queries_stay_jvm_side_and_shuffle_bounded(spark, sf_dir):
    """Round-4 second batch (X107-X122): no Python nodes outside the
    one deliberate mapInPandas (Misra-Gries pass 1 in q_heavy_hitters),
    and every shape stays within its declared exchange budget."""
    # cached relations from earlier tests (oracle corpus runs the
    # same queries) would swap InMemoryRelation subtrees into these
    # plans and change the exchange counts - audit cold plans
    spark.catalog.clearCache()
    budgets = {
        "q_mode_per_group": 2,        # (seg, prio) agg + tiny window
        "q_entropy": 2,               # cell agg + bucket rollup
        "q_chi_squared": 8,           # contingency + three marginal aggs
        "q_table_diff": 3,            # fingerprint FOJ + status count
        "q_ewma": 1,                  # recency window + agg share user_id
        "q_bfs_distances": 25,        # 3 frontier rounds x (join + min-agg)
        "q_simhash_exact": 2,         # (doc,token) distinct + 32-col vote agg
        "q_sample_hash_stratified": 1,  # one stratum-key window
        "q_boxplot_stats": 12,        # two-pass global rank (range
                              # repart + offsets), consumed by
                              # both the quartile agg and the
                              # outlier recount (plan repeats the
                              # checkpointed subtree) - every
                              # window partitioned, no funnel
        "q_copurchase_degree": 4,     # edge dedup + degree + histogram
        "q_equidepth_histogram": 5,   # two-pass rank (range repart +
                              # offsets) + scalar n + bucket agg —
                              # no SinglePartition window (see below)
        "q_partition_checksum": 1,    # scan-local hash, one month agg
        "q_incremental_merge": 2,     # partial states + merge
        "q_audience_jaccard": 7,      # (user,type) dedup + self-join + sizes
        "q_bm25_search": 9,           # corpus stats, df, tf, dl, final sum
    }
    for name, budget in budgets.items():
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        got = _n_shuffles(plan)
        assert got <= budget, (name, got, budget)
    # q_heavy_hitters: the MG candidate pass IS a Python node by design;
    # assert the exact-recount side stays bounded and the only Python
    # node is the mapInPandas summary.
    plan = _plan(registry.get("q_heavy_hitters").fn(spark, sf_dir))
    assert "BatchEvalPython" not in plan, "q_heavy_hitters: row-at-a-time UDF"
    # q_equidepth_histogram: every window is partitioned (__pid) — the
    # global ntile funnel is gone (same invariant as the ordered-cumsum
    # family).
    eq_plan = _plan(registry.get("q_equidepth_histogram").fn(spark, sf_dir))
    for spec in eq_plan.split("windowspecdefinition(")[1:]:
        assert spec.startswith("__pid"), f"unpartitioned window: {spec[:120]}"
    assert plan.count("MapInPandas") == 1, "q_heavy_hitters: expected one MG pass"
    assert _n_shuffles(plan) <= 3, ("q_heavy_hitters", _n_shuffles(plan))


def test_round4c_queries_stay_jvm_side_and_shuffle_bounded(spark, sf_dir):
    """Round-4 third batch (X123-X130): no Python nodes; exchange
    budgets pinned; the KS / Mann-Whitney / gap-island shapes must not
    contain a data-bearing single-partition window (their cumulative
    passes run through ordered_cumsum)."""
    # cached relations from earlier tests (oracle corpus runs the
    # same queries) would swap InMemoryRelation subtrees into these
    # plans and change the exchange counts - audit cold plans
    spark.catalog.clearCache()
    budgets = {
        "q_ecdf": 1,                 # one scalar aggregate
        "q_ks_test": 9,              # value agg + two-pass cumsum + max
        "q_mann_whitney": 9,         # same base + rank-sum aggregate
        "q_autocorr_lag1": 3,        # daily agg + lead + wide-int sums
        "q_activity_bitmap": 2,      # (user, block, day) dedup for the
                                     # exact distinct + bitmap combine
        "q_key_gap_islands": 9,      # two-pass rank + rn+1 join + top-k
        "q_histogram2d": 1,
        "q_topk_with_ties": 2,       # (segment, value) agg + tiny window
    }
    for name, budget in budgets.items():
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        got = _n_shuffles(plan)
        assert got <= budget, (name, got, budget)
    for name in ("q_ks_test", "q_mann_whitney", "q_key_gap_islands"):
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        for spec in plan.split("windowspecdefinition(")[1:]:
            assert spec.startswith("__pid"), (name, spec[:120])


def test_round4d_queries_stay_jvm_side_and_shuffle_bounded(spark, sf_dir):
    """Round-4 fourth batch (X131-X134): no Python nodes; budgets
    pinned; the CUSUM cumulative runs partitioned (__pid) only."""
    # cached relations from earlier tests (oracle corpus runs the
    # same queries) would swap InMemoryRelation subtrees into these
    # plans and change the exchange counts - audit cold plans
    spark.catalog.clearCache()
    budgets = {
        "q_bellman_ford": 25,        # 3 relaxations x (join + min-agg)
        "q_rolling_zscore": 1,       # frame window + rollup share user_id
        "q_cusum_changepoint": 7,    # daily agg + two-pass cumsum + top-1
        "q_profile_cosine": 8,       # profile agg + pair join + norms
        "q_minhash_band_pairs": 8,   # band self-join + pair scoring over
                                     # the cached signature matrix
        "q_mixture_weights": 3,      # source agg + scalar rollup + final
        "q_nelson_aalen": 14,        # two chained two-pass cumulatives
        "q_negative_pairs": 10,      # two-pass rank + stride equi-join
        "q_train_split": 1,          # scan-local hash + 3-group agg
        "q_quantile_normalize": 16,  # two-pass rank consumed by offsets,
                                     # ref aggregate, and the output join
                                     # (plan repeats checkpointed subtrees)
        "q_containment_pairs": 6,    # shingle self-join + sizes join
        "q_seasonal_residual": 3,    # daily agg + dow stats + top-10
    }
    for name, budget in budgets.items():
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        got = _n_shuffles(plan)
        assert got <= budget, (name, got, budget)
    plan = _plan(registry.get("q_cusum_changepoint").fn(spark, sf_dir))
    for spec in plan.split("windowspecdefinition(")[1:]:
        assert spec.startswith("__pid"), spec[:120]


def test_weighted_median_no_fact_shuffle(spark, sf_dir):
    """X98 (histogram-pruned): the fact table is never shuffled — no
    range exchange, no localCheckpoint materialization; the only hash
    exchanges move the tiny bucket histogram / per-value aggregates,
    and the single-partition windows run over the constant-bounded
    histogram relation only."""
    plan = _plan(registry.get("q_weighted_median").fn(spark, sf_dir))
    assert "rangepartitioning" not in plan, plan
    # two scan passes (histogram + crossing bucket), each followed by a
    # small aggregate exchange; the windows sit on the histogram side
    assert plan.count("Scan parquet") == 2, plan


def test_quantiles_pruned_no_fact_shuffle(spark, sf_dir):
    """X166: same contract for the multi-quantile operator — two fact
    scans, no range shuffle of fact rows."""
    plan = _plan(registry.get("q_quantiles_pruned").fn(spark, sf_dir))
    assert "rangepartitioning" not in plan, plan


def test_knn_classify_salted_topk_no_python(spark, sf_dir):
    """X157: the scoring path stays JVM-side (no BatchEvalPython /
    ArrowEvalPython), the query side broadcasts, and the two-level
    top-k means no window partitions on query_id alone before the
    5xSalt reduction (the salted window appears first)."""
    plan = _plan(registry.get("q_knn_classify").fn(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # salted local window precedes the per-query window in the plan
    assert "__salt" in plan, "two-level top-k salt column missing from plan"


def test_sprt_walk_uses_two_pass_cumulative(spark, sf_dir):
    """X181: the LLR walk must not funnel users through a single
    partition — the ordered_cumsum shape (range repartition of the
    tiny user relation + partitioned windows) is present instead of a
    global unpartitioned running-sum window over the user axis."""
    plan = _plan(registry.get("q_sprt").fn(spark, sf_dir))
    # ordered_cumsum pins its frame with a localCheckpoint scan
    assert "ExistingRDD" in plan or "LocalTableScan" in plan or "Scan ExistingRDD" in plan, plan


def test_ntile_migrations_no_unpartitioned_window(spark, sf_dir):
    """Round-4 verdict item 3: the last four raw global-NTILE queries
    (q_percent_rank_ntile, q_value_deciles, q_rfm_segments,
    q_decile_migration) now derive their bucket ids from
    ordered_cumsum + closed_form_ntile — every window in every plan is
    partitioned (by __pid), so no fact-cardinality relation funnels
    through one task, and no `WindowExec: No Partition Defined`
    warning fires during the bench."""
    spark.catalog.clearCache()
    for name in (
        "q_percent_rank_ntile",
        "q_value_deciles",
        "q_rfm_segments",
        "q_decile_migration",
    ):
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        for spec in plan.split("windowspecdefinition(")[1:]:
            assert spec.startswith("__pid"), (
                f"{name}: unpartitioned window: {spec[:120]}"
            )
        assert "BatchEvalPython" not in plan, name


def test_round5_queries_jvm_side_and_shuffle_bounded(spark, sf_dir):
    """Round-5 batch (X204-X213): no Python nodes anywhere, and every
    shape stays within its declared exchange budget."""
    spark.catalog.clearCache()
    budgets = {
        "q_grid_spatial_join": 2,      # cell equi-join of two scan-local sides
        "q_record_linkage": 2,         # blocked self-join on nation key
        "q_countmin_audit": 6,         # cells agg + probe aggs (cells broadcast)
        "q_bloom_fpr_audit": 12,       # members distinct, bits distinct, anti,
                                       # hits agg + four scalar count funnels
                                       # (each a partial->final pair moving
                                       # n_partitions rows, not data)
        "q_embedding_covariance": 3,   # dims explode + (i,j) moment agg
        "q_retrieval_metrics": 6,      # tok distinct + score agg + rank window
        "q_weighted_sample": 1,        # one stratum window
        "q_kl_divergence": 8,          # wordcount + vocab top-50 + src/
                                       # stot/final aggs + two scalar funnels
        "q_bpe_merges": 12,            # wordcount + 3x(pair agg + top-1)
        "q_multisource_reconcile": 6,  # two distincts + mask agg + census
    }
    for name, budget in budgets.items():
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        got = _n_shuffles(plan)
        assert got <= budget, (name, got, budget)
    # the sketch relations must BROADCAST to the probe side, never
    # shuffle-join it: cms cells (<= d*w rows) and bloom bits (<= m)
    for name in ("q_countmin_audit", "q_bloom_fpr_audit"):
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BroadcastExchange" in plan, name


def test_round5d_queries_jvm_side_and_shuffle_bounded(spark, sf_dir):
    """Round-5 fourth batch (X218-X222): no Python nodes, bounded
    exchanges. q_bootstrap_ci's single exchange is the partial->final
    pair of the ONE 64-column aggregate — the x32 resample fanout
    never exists as rows; everything after is a 32-row relation."""
    spark.catalog.clearCache()
    budgets = {
        "q_bootstrap_ci": 2,        # spread_scan's keyed exchange (r13:
                                    # the former round-robin repartition
                                    # did the same data move but wasn't
                                    # hashpartitioning, so the counter
                                    # missed it) + the one 64-col agg;
                                    # CI math on 32 rows
        "q_mann_kendall": 5,        # monthly agg + per-group pair join +
                                    # pair/size aggs (month relation only)
        "q_revenue_proration": 1,   # bounded explode + one month agg
        "q_zonemap_audit": 4,       # 2 layouts x (block agg + census)
        "q_dedup_survivors": 7,     # shingle pairs + components + winner
                                    # + census (digests on the wire)
    }
    for name, budget in budgets.items():
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        got = _n_shuffles(plan)
        assert got <= budget, (name, got, budget)
    # the trend test's pair join must broadcast the bounded month
    # relation, never shuffle the fact
    plan = _plan(registry.get("q_mann_kendall").fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_round5e_queries_jvm_side_and_shuffle_bounded(spark, sf_dir):
    """Round-5 fifth batch (X223-X227): no Python nodes, bounded
    exchanges. q_set_cover audits to 0 because its per-round relations
    are localCheckpointed (each round's own shuffles are measured by
    the per-iteration plan, like X50/X215); q_qte_deciles' exchanges
    are all histogram/offset relations — the operator's zero-FACT-
    shuffle property is asserted by test_quantiles_pruned_no_fact_shuffle."""
    spark.catalog.clearCache()
    budgets = {
        "q_set_cover": 0,            # checkpointed rounds; final cross of 1-rows
        "q_km_survival": 5,          # user agg + tiny per-duration windows
        "q_itemset_triples": 4,      # one orderkey shuffle + triple aggs
        "q_sorted_neighborhood": 3,  # block window + neighbor join + census
        "q_qte_deciles": 14,         # 2 arms x histogram-pruned quantile op
        "q_compression_advisor": 3,  # stacked scan + block agg + column rollup
        "q_shuffle_skew_planner": 4, # (k, part) agg + per-k rollups
        "q_hierarchical_share": 5,   # one fact shuffle + 25-row rollup reuse
        "q_watermark_audit": 2,      # user window + histogram agg
        "q_snapshot_asof_diff": 3,   # two as-of aggs + key join + census
        "q_gini_features": 6,        # stacked cells + value/total rollups
        "q_position_attribution": 3, # one user shuffle reused by windows+join
        "q_diff_in_diff": 4,         # 4-cell agg + tiny self-pivot
        "q_fd_miner": 15,            # 5 pairs x (distinct-combine + rollup)
        "q_percentile_quarantine": 2,  # month window + census
    }
    for name, budget in budgets.items():
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        got = _n_shuffles(plan)
        assert got <= budget, (name, got, budget)


def test_round5hij_queries_jvm_side_and_shuffle_bounded(spark, sf_dir):
    """Round-5 batches 8-10 (X238-X252): no Python nodes, bounded
    exchanges. q_hits_scores audits to 0 because every normalized
    score relation is localCheckpointed (per-iteration plans carry
    the real per-step shuffles, X50/X215/X223 discipline — without it
    the mutual recursion re-derived 86 exchanges). The single-
    partition windows that remain (runs test, neyman ranking) run
    over calendar-bounded or |strata|-bounded relations, never facts."""
    spark.catalog.clearCache()
    budgets = {
        "q_cohens_kappa": 1,         # one conditional-agg scan
        "q_bh_fdr": 7,               # mean + per-user agg + p-group +
                                     # ordered_cumsum two-pass + census
        "q_js_divergence": 9,        # wordcount + vocab top-k + pair
                                     # counts + share/term rollups
        "q_transition_entropy": 9,   # user lead window + cell/state aggs
        "q_cvm_test": 6,             # distinct-value agg + two-pass cum
        "q_allen_census": 7,         # order-line agg + rank join + census
        "q_permutation_test": 2,     # customer agg + one 33-col agg
        "q_neyman_allocation": 8,    # strata agg + tiny apportionment
        "q_capture_recapture": 9,    # two distincts + overlap + funnels
        "q_simpson_reversals": 3,    # year cells + census re-agg
        "q_hits_scores": 0,          # checkpointed per-step relations
        "q_clustering_coefficient": 3,  # deg + tri-corner + census aggs
        "q_cochran_armitage": 2,     # dose agg + 1-row stat
        "q_covariate_balance": 4,    # customer-grain agg + stacked stats
        "q_runs_test": 4,            # daily agg + bounded median/lag
    }
    for name, budget in budgets.items():
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        got = _n_shuffles(plan)
        assert got <= budget, (name, got, budget)


def test_round5kl_queries_jvm_side_and_shuffle_bounded(spark, sf_dir):
    """Round-5 batches 11-12 (X253-X262): no Python nodes, bounded
    exchanges. q_qini_deciles' exchanges are the two ordered_cumsum
    passes over customer-grain and 10-row relations; q_sequence_match
    pays ONE user shuffle plus per-pattern scalar funnels."""
    spark.catalog.clearCache()
    budgets = {
        "q_heaps_fit": 6,           # tokenized scan + two prefix aggs
        "q_inventory_turns": 3,     # two brand aggs + brand join
        "q_qini_deciles": 5,        # conv distinct + rank cumsum + cells
        "q_circular_hours": 2,      # (type,hour) agg + type rollup
        "q_srm_detector": 1,        # stacked salt agg
        "q_kruskal_wallis": 4,      # value agg + two-pass cumulative
        "q_eta_squared": 3,         # stacked group/square aggs
        "q_sequence_match": 6,      # user string-agg + 3 scalar funnels
        "q_acf": 3,                 # daily agg + lag self-join + lag agg
        "q_chi2_residuals": 7,      # cell agg + margin rollups (tiny)
    }
    for name, budget in budgets.items():
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        got = _n_shuffles(plan)
        assert got <= budget, (name, got, budget)
    # the ACF's daily relation must broadcast into the lag join
    plan = _plan(registry.get("q_acf").fn(spark, sf_dir))
    assert "BroadcastExchange" in plan


def test_round5mn_queries_jvm_side_and_shuffle_bounded(spark, sf_dir):
    """Round-5 batches 13-14 (X263-X272): no Python nodes, bounded
    exchanges. The SinglePartition exchanges inside the budgets are
    all final partial->final global aggregates (one row crosses per
    upstream partition) or per-pattern scalar funnels over user-grain
    relations (q_sequence_support, same discipline as
    q_sequence_match); q_haversine_join audits to 0 because both
    sides are broadcast-sized dimension relations at every sf (cells
    of the 5-degree grid)."""
    spark.catalog.clearCache()
    budgets = {
        "q_g_test": 12,              # cell aggs + margin rollups (tiny)
        "q_profile_shape_cosine": 7, # (cat,bucket) cells + pair rollups
        "q_haversine_join": 0,       # broadcast grid join, no shuffle
        "q_double_fire_census": 2,   # bucket band join + census
        "q_backlog_aging": 1,        # pushed scan filter + bucket agg
        "q_page_hinkley": 2,         # daily agg + calendar-bounded window
        "q_sequence_support": 12,    # ONE user shuffle + scalar funnels
        "q_trending_parts": 2,       # part agg + top-k
        "q_churn_sensitivity": 9,    # user agg + 3 scalar threshold aggs
        "q_capped_sessions": 2,      # ONE user shuffle + session census
    }
    for name, budget in budgets.items():
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        got = _n_shuffles(plan)
        assert got <= budget, (name, got, budget)


def test_round5o_queries_jvm_side_and_shuffle_bounded(spark, sf_dir):
    """Round-5 batch 15 (X273-X277): no Python nodes, bounded
    exchanges. The windows inside q_durbin_watson and q_sax_symbols
    run over the calendar-bounded daily (or |days|/7 PAA) relation,
    never facts; the moment aggregates are all map-side-combining
    partial->final global aggregates."""
    spark.catalog.clearCache()
    budgets = {
        "q_welch_t": 1,          # one conditional-sum moment aggregate
        "q_durbin_watson": 6,    # daily agg + moments + bounded lag window
        "q_sax_symbols": 2,      # daily agg + bounded PAA/ntile/fold
        "q_brown_forsythe": 3,   # median agg + z moments + 1-row stats
        "q_power_analysis": 1,   # pushed-filter scan -> 1-row moments
    }
    for name, budget in budgets.items():
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        got = _n_shuffles(plan)
        assert got <= budget, (name, got, budget)


def test_round5p_queries_jvm_side_and_shuffle_bounded(spark, sf_dir):
    """Round-5 batch 16 (X278-X282): no Python nodes, bounded
    exchanges. The polygon containment is a literal-folded codegen
    Project (scan-local); the stats are moment aggregates + 1-row
    math; Theil's ALL row re-aggregates the 5 segment rows, never
    the facts."""
    spark.catalog.clearCache()
    budgets = {
        "q_point_in_polygon": 1,     # scan-local ray cast + band agg
        "q_odds_ratio": 2,           # customer-grain agg + 2x2 cells
        "q_grubbs": 1,               # one moment aggregate
        "q_tokenizer_fertility": 1,  # scan-local regex + source agg
        "q_theil_index": 3,          # segment agg + tiny ALL re-agg
    }
    for name, budget in budgets.items():
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        got = _n_shuffles(plan)
        assert got <= budget, (name, got, budget)


def test_round5q_queries_jvm_side_and_shuffle_bounded(spark, sf_dir):
    """Round-5 batch 17 (X283-X287): no Python nodes, bounded
    exchanges. q_rake_keywords' final top-k is a TakeOrdered, not a
    global window; q_qq_table's exchanges are all histogram/offset
    relations (the X166 operator's zero-FACT-shuffle property is
    asserted separately); q_fk_integrity pays one bounded count
    aggregate per FK edge with broadcast dimension parents."""
    spark.catalog.clearCache()
    budgets = {
        "q_rake_keywords": 4,    # ONE (doc,grp) shuffle + word stats +
                                 # phrase census; broadcast word scores
        "q_hampel_filter": 2,    # daily agg + bounded list window
        "q_good_turing": 4,      # type agg + tiny freq-of-freq rollups
        "q_qq_table": 6,         # histogram + pruned-bucket relations
        "q_fk_integrity": 16,    # 8 edges x (anti count + 1-row agg)
    }
    for name, budget in budgets.items():
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        got = _n_shuffles(plan)
        assert got <= budget, (name, got, budget)
    # the RAKE top-k must plan as TakeOrdered, never a global window
    plan = _plan(registry.get("q_rake_keywords").fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan


def test_round5r_queries_jvm_side_and_shuffle_bounded(spark, sf_dir):
    """Round-5 batch 18 (X290-X294): no Python nodes, bounded
    exchanges. Kendall's pair join broadcasts the calendar-bounded
    daily series; McNemar's full outer join co-partitions on the
    distinct-key shuffles it already paid; log-rank lives on the
    per-duration relation after one user aggregate; NDCG's two
    rankings share the per-source exchange; dup-spans shuffles 8-byte
    gram hashes and windows only over hit positions."""
    spark.catalog.clearCache()
    budgets = {
        "q_kendall_tau": 4,   # daily agg x2 (probe+broadcast) + census
        "q_mcnemar": 5,       # 2 distincts + outer join + 1-row cells
        "q_logrank": 6,       # user agg + tiny per-duration relations
        "q_ndcg": 4,          # shared per-source window + final sort
        "q_dup_spans": 8,     # gram census + per-doc span windows
    }
    for name, budget in budgets.items():
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        got = _n_shuffles(plan)
        assert got <= budget, (name, got, budget)
    # the span census top-k must plan as TakeOrdered, never a global sort
    plan = _plan(registry.get("q_dup_spans").fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_round5s_queries_jvm_side_and_shuffle_bounded(spark, sf_dir):
    """Round-5 batch 19 (X295-X299): no Python nodes, bounded
    exchanges. Isotonic's fact-scale work is the two-pass ntile (its
    PAV triples are broadcast 10-row relations); l-diversity is one
    distinct-aggregate; DP counts are a broadcast-dim group count;
    silhouette broadcasts the K*dims centroid relation; ECOD's
    censuses are two-pass cumulatives over distinct-value relations."""
    spark.catalog.clearCache()
    budgets = {
        "q_isotonic_fit": 6,      # checkpointed 10-row bins + PAV tinies
        "q_l_diversity": 3,       # QI distinct-agg (+ partial distinct)
        "q_dp_noisy_counts": 2,   # group count + 25-row sort
        "q_silhouette": 5,        # cells agg + per-point agg + label agg
        "q_ecod_outliers": 7,     # cust agg + 2 value censuses (2-pass)
    }
    for name, budget in budgets.items():
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        got = _n_shuffles(plan)
        assert got <= budget, (name, got, budget)
    # ECOD's top-k must plan as TakeOrdered, never a global sort
    plan = _plan(registry.get("q_ecod_outliers").fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_round5t_queries_shuffle_bounded(spark, sf_dir):
    """Round-5 batch 20 (X300-X304): bounded exchanges; Python only in
    the two DECLARED string-distance Arrow kernels (X302/X303 exist
    precisely because Spark lacks jaro/damerau natively). LTTB and the
    matrix profile checkpoint their calendar-bounded series once;
    the triangle census joins ordered edges with the edge relation
    checkpointed."""
    spark.catalog.clearCache()
    budgets = {
        "q_lttb_downsample": 7,     # checkpointed series + 60-row stats
                                    # (r13: counted THROUGH the pin —
                                    # the old 6 missed the fragment's
                                    # series window exchange)
        "q_matrix_profile": 7,      # diagonal window + broadcast stats
        "q_jaro_pairs": 3,          # vocab dict + brand pair join + sort
        "q_damerau_pairs": 3,
        "q_triangle_support": 8,    # edge distinct + 3-way join + census
    }
    # Round 13: the jaro/damerau queries pin the joined relation before
    # the declared output sort, which truncates the visible plan at a
    # Scan ExistingRDD — audit THROUGH the checkpoint (see
    # _plan_through_ckpts), so the Arrow-kernel and broadcast-join pins
    # can't go blind.
    for name, budget in budgets.items():
        plan = _plan_through_ckpts(spark, sf_dir, registry.get(name).fn)
        got = _n_shuffles(plan)
        assert got <= budget, (name, got, budget)
        if name in ("q_lttb_downsample", "q_matrix_profile", "q_triangle_support"):
            assert "BatchEvalPython" not in plan, name
            assert "ArrowEvalPython" not in plan, name
        else:
            # the kernel must be Arrow-batched, never row-at-a-time
            assert "ArrowEvalPython" in plan, name
            assert "BatchEvalPython" not in plan, name
            # dictionary decomposition: the scored vocab² relation maps
            # onto the growing pair relation via a broadcast hash join,
            # so the Python kernel's input is corpus-size-independent
            # (pre-fix it ran once per candidate pair: 132 s at sf0.1)
            assert "BroadcastHashJoin" in plan, name
    # discords top-k plans as TakeOrdered, never a global sort
    plan = _plan(registry.get("q_matrix_profile").fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_round7_queries_shuffle_bounded(spark, sf_dir):
    """Round-7 additions/rewrites: q_jaro_blocked keeps q_jaro_pairs'
    plan shape under the finer key (Arrow kernel only on the vocab
    dictionary, broadcast join onto the blocked pair relation);
    q_dedup_simhash's banded pair extraction is pure JVM (the md5
    token hash is a builtin) with the hamming filter BEFORE the
    distinct exchange; the pinned q_sample_stratified stays a
    zero-shuffle scan filter."""
    spark.catalog.clearCache()
    # r13: audited through the pre-sort pin (see _plan_through_ckpts)
    plan = _plan_through_ckpts(spark, sf_dir, registry.get("q_jaro_blocked").fn)
    assert _n_shuffles(plan) <= 3, plan
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    plan = _plan(registry.get("q_dedup_simhash").fn(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange SinglePartition" not in plan, plan
    plan = _plan(registry.get("q_sample_stratified").fn(spark, sf_dir))
    assert _n_shuffles(plan) == 0, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_round5u_queries_jvm_side_and_shuffle_bounded(spark, sf_dir):
    """Round-5 batch 21 (X305-X309): no Python nodes, bounded
    exchanges. Cronbach is two partial aggregates; Kendall's W ranks
    a 25-row relation; geohash is one scan-local projection + census;
    MH is a broadcast-dim join + |years| stratum census; Jonckheere
    is one value census + the two-pass cumulative."""
    spark.catalog.clearCache()
    budgets = {
        "q_cronbach_alpha": 4,    # item agg + respondent agg + 1-rows
        "q_kendalls_w": 5,        # fact agg + 25-row rank windows
        "q_geohash_census": 1,    # scan-local encode + cell census
        "q_mantel_haenszel": 3,   # fact join agg + stratum census
        "q_jonckheere": 6,        # value census + 2-pass cumulative
    }
    for name, budget in budgets.items():
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        got = _n_shuffles(plan)
        assert got <= budget, (name, got, budget)
    # geohash census top-50 plans as TakeOrdered
    plan = _plan(registry.get("q_geohash_census").fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_round5v_queries_jvm_side_and_shuffle_bounded(spark, sf_dir):
    """Round-5 batch 22 (X310-X314): no Python nodes, bounded
    exchanges. Contamination broadcasts the eval side (train side
    scan-local until the hit aggregate); the mixture and packing
    audits are source/ctx-bounded relations after one fact pass;
    continuations shuffle (w1,w2,w3) hashes; the sketch audit is a
    stride equi-join + one pair aggregate."""
    spark.catalog.clearCache()
    budgets = {
        "q_embedding_contamination": 2,  # hit agg (+ tiny sort)
        "q_temperature_mixture": 2,      # source census + sort
        "q_pack_boundaries": 5,          # 2-pass cumulative + 4-row agg
        "q_ngram_continuations": 3,      # trigram census + prefix window
        "q_sign_sketch_fidelity": 3,     # stride join + 1-row agg
    }
    for name, budget in budgets.items():
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        got = _n_shuffles(plan)
        assert got <= budget, (name, got, budget)
    # the eval side must broadcast — contamination's scale contract
    plan = _plan(registry.get("q_embedding_contamination").fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # continuations top-100 plans as TakeOrdered
    plan = _plan(registry.get("q_ngram_continuations").fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_round5w_queries_jvm_side_and_shuffle_bounded(spark, sf_dir):
    """Round-5 batch 23 (X315-X319): no Python nodes, bounded
    exchanges. STL and the control chart work on the checkpointed
    calendar-bounded daily series; fixed effects and CEM are
    customer-grain + |groups| aggregates; Weibull's rank is the
    two-pass cumulative."""
    spark.catalog.clearCache()
    budgets = {
        "q_stl_decompose": 5,     # daily agg + bounded-series windows
        "q_fixed_effects": 4,     # cust agg + nation agg + 1-row
        "q_cem_ate": 5,           # checkpointed cust grain + strata
        "q_weibull_fit": 7,       # custkey lag + 2-pass rank + agg
        "q_control_chart": 6,     # checkpointed series + rule windows
    }
    for name, budget in budgets.items():
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        got = _n_shuffles(plan)
        assert got <= budget, (name, got, budget)
    # STL's anomaly top-k plans as TakeOrdered
    plan = _plan(registry.get("q_stl_decompose").fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_round5x_queries_jvm_side_and_shuffle_bounded(spark, sf_dir):
    """Round-5 batch 24 (X320-X324): no Python nodes, bounded
    exchanges. IPF's rounds run on the checkpointed 125-cell
    relation; Cochran/Friedman are two partial aggregates with no
    joins; Wasserstein and AD ride the two-pass cumulative."""
    spark.catalog.clearCache()
    budgets = {
        "q_ipf_raking": 10,        # checkpointed cells + 4 tiny fits
        "q_cochran_q": 2,          # customer agg + 1-row moments
        "q_friedman": 2,
        "q_wasserstein_1d": 7,     # census + 2-pass cum + rank join
        "q_anderson_darling": 6,   # 2-pass rank + 1-row aggregate
    }
    for name, budget in budgets.items():
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        got = _n_shuffles(plan)
        assert got <= budget, (name, got, budget)


def test_round5y_queries_jvm_side_and_shuffle_bounded(spark, sf_dir):
    """Round-5 batch 25 (X329-X333): no Python nodes, bounded
    exchanges. Shapley's coalition join is |masks| x |channels|
    (broadcast); L-moments ride the two-pass cumulative; Chao1 and
    the hash audit are census + 1-row/|sources|-row aggregates; FIFO
    is two keyed shuffles on l_partkey."""
    spark.catalog.clearCache()
    budgets = {
        "q_shapley_attribution": 8,  # touch distinct + mask aggs
        "q_l_moments": 7,            # 2-pass rank + 1-row sums
        "q_chao1_richness": 4,       # tok combine + source agg
        "q_fifo_cogs": 6,            # part window + totals join
        "q_hash_collision_audit": 3, # bucket combine + 1-row agg
    }
    for name, budget in budgets.items():
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        got = _n_shuffles(plan)
        assert got <= budget, (name, got, budget)


def test_round5z_queries_jvm_side_and_shuffle_bounded(spark, sf_dir):
    """Round-5 batch 26 (X334-X338): no Python nodes, bounded
    exchanges. Alpha/ZIP are user-grain aggregates; RMST lives on the
    <=|durations| relation after one user aggregate; AP rides the
    two-pass cumulative; mutual-NN broadcasts one side of the pair
    join and keeps top-1 as a keyed window."""
    spark.catalog.clearCache()
    budgets = {
        "q_krippendorff_alpha": 7,   # mode rank + unit/marginal aggs
        "q_rmst": 6,                 # user agg + tiny-relation windows
        "q_average_precision": 6,    # 2-pass rank + 1-row agg
        "q_zip_fit": 2,              # user agg + 1-row moments
        "q_mutual_nn": 6,            # top-1 window + mutual self-join
    }
    for name, budget in budgets.items():
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        got = _n_shuffles(plan)
        assert got <= budget, (name, got, budget)


def test_round5aa_queries_jvm_side_and_shuffle_bounded(spark, sf_dir):
    """Round-5 batch 27 (X339-X343): no Python nodes, bounded
    exchanges. BT's MM rounds live on the checkpointed |brands|^2
    relation; Huber/Weiszfeld re-scan the checkpointed point set per
    round with a broadcast center (no point-set shuffle); Gumbel and
    ESS are pure partial-aggregate chains."""
    spark.catalog.clearCache()
    budgets = {
        "q_bradley_terry": 8,      # census + 2 MM rounds on tiny sym
        "q_gumbel_fit": 4,         # daily + weekly + 1-row moments
        "q_huber_location": 6,     # 3 scans, 1-row centers broadcast
        "q_geometric_median": 4,   # centroid + 3 broadcast rounds
        "q_ess_weights": 4,        # source census + 3-row clip grid
    }
    for name, budget in budgets.items():
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        got = _n_shuffles(plan)
        assert got <= budget, (name, got, budget)


def test_round5ab_queries_jvm_side_and_shuffle_bounded(spark, sf_dir):
    """Round-5 batch 28 (X344-X348): no Python nodes, bounded
    exchanges. Stitch is one shingle equi-join; canopy broadcasts the
    ~sqrt(n) centers; the RLE advisor and volatility ride the
    rank+equi-join lead; the correlation matrix is one scan's
    14-moment aggregate."""
    spark.catalog.clearCache()
    budgets = {
        "q_doc_stitch": 3,       # shingle equi-join + sort
        "q_canopy_census": 6,    # broadcast assign + censuses
        "q_rle_advisor": 8,      # 2-pass rank + lead join + distinct
        "q_volatility": 8,       # daily agg + lead join + weekly agg
        "q_corr_matrix": 2,      # one scan, 1-row moments, explode
    }
    for name, budget in budgets.items():
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        got = _n_shuffles(plan)
        assert got <= budget, (name, got, budget)


def test_round6a_queries_jvm_side_and_shuffle_bounded(spark, sf_dir):
    """Round-6 batch 1 (X349-X355): no Python nodes anywhere, bounded
    exchanges. The HLL audit aggregates into a constant 64-register
    relation (its census runs two bounded SinglePartition folds over
    64 rows, allowed below); graph
    ops run over the eagerly-checkpointed edge list (without it the
    Katz plan re-expanded to 54 exchanges, measured); DBSCAN is the
    3x3 grid-blocked join; entropy is a pure projection (zero
    pre-top-k shuffles)."""
    spark.catalog.clearCache()
    budgets = {
        "q_hll_audit": 6,        # distinct + 64-register census + folds
        "q_resource_alloc": 3,   # wedge join + RA census (post-checkpoint)
        "q_katz_centrality": 7,  # 3 SpMV steps + assembly joins
        "q_dbscan_core": 4,      # grid join + nb census + label joins
        "q_char_entropy": 0,     # scan-local projection, TakeOrdered top-k
        "q_label_prop": 4,       # 2 MIN rounds + census
        "q_var_es": 8,           # daily agg + lag window + quantile + ES
    }
    for name, budget in budgets.items():
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        got = _n_shuffles(plan)
        assert got <= budget, (name, got, budget)
        if name != "q_hll_audit":
            assert "Exchange SinglePartition" not in plan, name
    # top-k queries plan as TakeOrdered, never a global sort
    for name in ("q_char_entropy", "q_katz_centrality"):
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, name


def test_round6b_queries_jvm_side_and_shuffle_bounded(spark, sf_dir):
    """Round-6 batch 2 (X356-X361): no Python nodes, bounded
    exchanges. The single SinglePartition in wilcoxon/hodges/relabel
    is the final 1-row (or holistic-percentile) global aggregate —
    hodges' percentile_disc merge carries the CALENDAR-BOUNDED Walsh
    relation (~2.9M at sf0.1, a date-domain constant), documented in
    the docstring. Jackknife/modularity plumbing runs over 5-row /
    community-count relations."""
    spark.catalog.clearCache()
    budgets = {
        "q_wilcoxon": 5,         # yearly agg + pair join + census + cumsum
        # daily agg feeds the pair join TWICE (histogram pass + exact
        # crossing-bucket pass — ordered_weighted_quantile's two-scan
        # contract; each pass re-aggregates daily): 2x(daily agg +
        # walk censuses). The pre-fix percentile_disc spelling was 1
        # exchange fewer but funnelled 2.9M rows into one task's sort
        # (9.8 s -> 2.1 s at sf0.1).
        "q_hodges_lehmann": 9,
        "q_relabel_test": 5,  # r13: + spread_scan's keyed
                                 # exchange (was an uncounted
                                 # round-robin-free 1-task scan)     # sizes agg + 64-col wide agg + compare
        "q_jackknife": 13,       # 5-row relation plumbing (broadcast-joined)
        "q_modularity": 11,      # LP rounds + intra/deg censuses (dim-sized)
        "q_hop2_census": 3,      # hop2 join + union distinct + census
    }
    for name, budget in budgets.items():
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        got = _n_shuffles(plan)
        assert got <= budget, (name, got, budget)
    # the hop2 top-k plans as TakeOrdered, never a global sort
    plan = _plan(registry.get("q_hop2_census").fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_round6c_queries_jvm_side_and_shuffle_bounded(spark, sf_dir):
    """Round-6 batch 3 (X362-X365): no Python nodes, bounded
    exchanges. Procrustes/eigen are ONE moment aggregate (their single
    SinglePartition is the 1-row final fold of partial states);
    Cholesky is one per-group aggregate; effect sizes add the value
    census + two-pass cumulative."""
    spark.catalog.clearCache()
    budgets = {
        "q_procrustes2d": 1,     # one 7-column moment aggregate
        "q_eigen2_closed": 1,    # one 6-column moment aggregate
        "q_cholesky2": 2,        # per-group moments + 3-row sort
        "q_effect_sizes": 6,     # moments + value census + cumsum
    }
    for name, budget in budgets.items():
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        got = _n_shuffles(plan)
        assert got <= budget, (name, got, budget)


def test_round6d_queries_jvm_side_and_shuffle_bounded(spark, sf_dir):
    """Round-6 batch 4 (X366-X369): no Python nodes, bounded
    exchanges. The s-curve audit checkpoints its shingle and signature
    relations (34 exchanges pre-fix, 6 after); the bloom advisor runs
    ONE multi-distinct scan; doremi's SinglePartitions are 1-row folds
    over the tiny domain relation."""
    spark.catalog.clearCache()
    budgets = {
        "q_haar_wavelet": 7,      # daily agg + cumsum + 11-level census
        "q_lsh_scurve_audit": 7,  # truth join + sigs + bands + buckets
        "q_bloom_advisor": 3,     # one Expand multi-distinct scan
        "q_doremi_step": 5,       # per-domain agg + tiny folds
    }
    for name, budget in budgets.items():
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        got = _n_shuffles(plan)
        assert got <= budget, (name, got, budget)


def test_round6e_queries_jvm_side_and_shuffle_bounded(spark, sf_dir):
    """Round-6 batch 5 (X370-X371): no Python nodes, bounded
    exchanges. Hill's TakeOrdered top-301 executes inside its eager
    checkpoint (the visible plan is arithmetic over the 301-row
    relation — its SinglePartitions are that bounded relation's);
    PSM's grid join is the caliper-blocked 1D equi-join, singles are
    the final 1-row folds."""
    spark.catalog.clearCache()
    budgets = {
        "q_hill_tail": 3,
        "q_psm_match": 7,
    }
    for name, budget in budgets.items():
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        got = _n_shuffles(plan)
        assert got <= budget, (name, got, budget)


def test_round6f_queries_jvm_side_and_shuffle_bounded(spark, sf_dir):
    """Round-6 batch 6 (X372-X373): no Python nodes, bounded
    exchanges. Imputation is one per-group percentile + a 5-row
    broadcast; GPD's single SinglePartition is the global percentile's
    final merge (one holistic pass over the fact column — the
    documented cost of an exact order-statistic threshold; the moment
    scan after it is partial-aggregated)."""
    spark.catalog.clearCache()
    budgets = {
        "q_impute_census": 4,
        "q_gpd_pot": 3,
    }
    for name, budget in budgets.items():
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        got = _n_shuffles(plan)
        assert got <= budget, (name, got, budget)


def test_dedup_simhash64_plan_clean(spark, sf_dir):
    """X478 (round-8 bench promotion): the production 64-bit SimHash
    banding — codifying the round-7 judge's manual plan audit: zero
    CartesianProduct, zero single-partition exchange, zero Python
    nodes, and the 4-band candidate join is a BroadcastHashJoin."""
    spark.catalog.clearCache()
    plan = _plan(registry.get("q_dedup_simhash64").fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_jaro_blocked_plan_shape(spark, sf_dir):
    """X477 (round-8 bench promotion): the (brand,size)-blocked Jaro
    join. The Arrow kernel (expected Python node) scores only the
    vocab^2 dictionary; the corpus-scale pair relation must stay JVM:
    the scored dictionary joins back via BroadcastHashJoin and nothing
    funnels through a single partition except the final ORDER BY's
    range exchange (which rangepartitioning handles)."""
    spark.catalog.clearCache()
    # r13: audited through the pre-sort pin (see _plan_through_ckpts)
    plan = _plan_through_ckpts(spark, sf_dir, registry.get("q_jaro_blocked").fn)
    assert "BroadcastHashJoin" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    # Arrow evals only in the dictionary subtree: Spark plans the
    # kernel twice (projection + the >=threshold filter it extracts
    # from the join), both over the vocab^2 relation that ends in a
    # BroadcastExchange — never a per-corpus-pair kernel, which would
    # also show as a Python node on the probe side of the big join
    import re as _re

    n_arrow = len(_re.findall(r"ArrowEvalPython", plan))
    assert 1 <= n_arrow <= 2, plan
    # the corpus-side blocked pair join itself is a (broadcast) hash
    # join with the k1<k2 residual — no CartesianProduct anywhere
    assert "CartesianProduct" not in plan, plan


def test_dup_spans_no_broadcast_of_dup_gram_set(spark, sf_dir):
    """X294, round-13 shape: the gram stream is exploded ONCE and the
    duplicate-gram test is a per-partition numpy kernel after a single
    hash exchange on gram_h (the r8-r12 form consumed the stream twice
    — dup-set aggregate + shuffle_hash semi-join — so the per-char
    explode+xxhash64 pass ran twice). Pins: exactly one gram_h
    exchange feeding a MapInPandas kernel, exactly one Generate (the
    explode never reruns), NO semi-join (so the impossible-at-scale
    broadcast of the multi-million-key dup-hash set can't reappear),
    and no single-partition exchange in the window stages."""
    spark.catalog.clearCache()
    plan = _plan(registry.get("q_dup_spans").fn(spark, sf_dir))
    import re as _re

    assert len(_re.findall(r"hashpartitioning\(gram_h#\d+L", plan)) == 1, plan
    assert "MapInPandas" in plan, plan
    assert len(_re.findall(r"\bGenerate posexplode", plan)) == 1, plan
    assert "LeftSemi" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_round8_ann_candidate_shuffles_are_id_only(spark, sf_dir):
    """Round-12 ANN kernel shape (supersedes the round-8 join-form
    pins): bucketing and candidate+scoring are two MapInPandas numpy
    kernels separated by EXACTLY ONE hash exchange on (table, bucket)
    — the single, linear-in-corpus payload move — the pair dedup is
    closed-form (min-table rule) so NO distinct aggregate exists, the
    mirror is a 2-element explode Generate (not a self-union, so the
    scored half-stream is computed once), and the top-k window gets
    rank-pushdown (WindowGroupLimit) so the id_a exchange carries only
    per-id survivors of the partial limit."""
    spark.catalog.clearCache()
    df = registry.get("q_ann_lsh").fn(spark, sf_dir)
    plan = _plan(df)
    # two numpy kernels, one (table, bucket) exchange between them
    assert plan.count("MapInPandas") >= 2, plan
    assert re.search(r"hashpartitioning\(table#\d+, bucket#\d+L", plan), plan
    # no candidate-dedup aggregate (the min-table rule replaced it) and
    # no join anywhere (vectors never join back)
    assert not re.search(r"HashAggregate\(keys=\[id_a#\d+L, id_b#\d+L\]", plan), plan
    assert "Join" not in plan and "CartesianProduct" not in plan, plan
    # mirror = explode Generate over the scored half-stream
    assert re.search(r"Generate[\s\S]{0,200}explode", plan), plan
    assert "Union" not in plan, plan
    # top-k rank pushdown reaches below the id_a exchange
    assert "WindowGroupLimit" in plan, plan
    # every exchange except the (table,bucket) fan-out keys on id/rank
    # columns only — the vector payload crosses the wire exactly once
    for ln in plan.splitlines():
        if "Exchange" in ln and "hashpartitioning(table#" not in ln:
            assert "__vec" not in ln and "embedding" not in ln, ln

    # IVF: id-only candidate stream, ordered pairs kept (probe-cell
    # candidacy is asymmetric), so no mirror union is expected.
    # Round 13: the (id_a, id_b) dropDuplicates aggregate is GONE — it
    # was a provable no-op (one home cell per id_b, distinct probe
    # cells per id_a) paying a full pair-stream exchange; pin its
    # absence so it can't quietly return.
    plan = _plan(registry.get("q_ann_ivf").fn(spark, sf_dir))
    assert not re.search(
        r"HashAggregate\(keys=\[id_a#\d+L, id_b#\d+L\], functions=\[\]",
        plan,
    ), plan
    for ln in plan.splitlines():
        if "Exchange" in ln:
            assert "embedding" not in ln, ln
    assert "CartesianProduct" not in plan, plan


def test_pair_query_shuffles_carry_no_payload(spark, sf_dir):
    """VERDICT_r08 item 4, binding form of scripts/audit_pair_shuffles:
    every query the registry tags as pair-generating must keep its
    exchanges (hash, range, single-partition, AND broadcast — widened
    per ADVICE r9) free of payload-ish partition keys (ids + hashes
    only) —
    the round-8 32 s -> 7 s class. The set is registry-DERIVED, so a
    future tags=("pairs",) registration is audited by construction;
    pair_queries() itself enforces the round-8 hand-list as the
    minimum-coverage floor."""
    from laser_hadoop_spark.plans.pair_audit import (
        ALLOWLIST,
        MIN_PAIR_QUERIES,
        flag_payload_exchanges,
        pair_queries,
    )

    names = pair_queries()
    assert MIN_PAIR_QUERIES <= set(names)
    dirty = {}
    for name in names:
        plan = _plan(registry.get(name).fn(spark, sf_dir))
        flagged = flag_payload_exchanges(plan, allow=ALLOWLIST.get(name, ()))
        if flagged:
            dirty[name] = flagged
    assert not dirty, dirty


def test_pair_shape_detector_separates_known_shapes(spark, sf_dir):
    """looks_pair_shaped (the --discover heuristic) must fire on a known
    pair-generating plan (self-scan + no-function dedup aggregate) and
    stay quiet on a plain single-scan aggregate."""
    from laser_hadoop_spark.plans.pair_audit import looks_pair_shaped

    pair_plan = _plan_through_ckpts(
        spark, sf_dir, registry.get("q_jaro_pairs").fn
    )
    assert looks_pair_shaped(pair_plan), pair_plan
    agg_plan = _plan(registry.get("q_grouped_counts").fn(spark, sf_dir))
    assert not looks_pair_shaped(agg_plan), agg_plan


def _code_names(code) -> set[str]:
    """Global, attribute and imported names a code object (and every
    function or lambda nested in it) refers to."""
    names = set(code.co_names)
    for const in code.co_consts:
        if hasattr(const, "co_names"):
            names |= _code_names(const)
    return names


def _spread_scan_queries() -> list[str]:
    """Registry queries that call tables.spread_scan, directly or through
    package functions that do, found by name from the code objects. A
    name shared by two functions only widens the set."""
    import inspect
    import pkgutil
    from importlib import import_module

    import laser_hadoop_spark

    funcs = []
    for mod in pkgutil.walk_packages(laser_hadoop_spark.__path__, "laser_hadoop_spark."):
        m = import_module(mod.name)
        funcs += [f for _, f in inspect.getmembers(m, inspect.isfunction)
                  if f.__module__ == m.__name__]
    callers = {"spread_scan"}
    grew = True
    while grew:
        found = {f.__name__ for f in funcs if _code_names(f.__code__) & callers}
        grew = not found <= callers
        callers |= found
    return sorted(
        name for name, spec in registry.specs().items()
        if _code_names(spec.fn.__code__) & callers
    )


def _plan_nodes(plan: str) -> list[tuple[int, str]]:
    """(depth, node text) per line of a physical plan tree string."""
    out = []
    for line in plan.splitlines():
        m = re.match(r"[\s:+|-]*", line)
        if line[m.end():]:
            out.append((m.end(), line[m.end():]))
    return out


def _scan_stages_under_repartitions(plan: str) -> list[tuple[str, list[str]]]:
    """For every REPARTITION_BY_NUM exchange whose map stage reads a
    file scan: (the exchange's key, the stage's nodes down to the scan),
    stopping at nested exchanges, which start other stages."""
    nodes = _plan_nodes(plan)
    out = []
    for i, (depth, text) in enumerate(nodes):
        if not (text.startswith("Exchange hashpartitioning(") and "REPARTITION_BY_NUM" in text):
            continue
        key = text[len("Exchange hashpartitioning("):].split(",")[0]
        stage, cut = [], None
        for d, t in nodes[i + 1:]:
            if d <= depth:
                break
            if cut is not None and d > cut:
                continue
            cut = None
            if "Exchange" in t.split(" ")[0]:
                cut = d
                continue
            stage.append(t)
        if any(t.startswith("FileScan") for t in stage):
            out.append((key, stage))
    return out


@pytest.mark.parametrize("ansi", ["false", "true"])
def test_spread_scan_stage_holds_only_the_scan(spark, sf_dir, ansi):
    """tables.spread_scan exists to move a scan's compute above its
    exchange. Catalyst can undo that: a filter it infers from a later
    generator (explode's size > 0), or under ANSI from a join on a
    nullable size(), is pushed through the repartition into the
    one-task scan stage, which then computes every token hash only to
    throw it away. For each registry query that calls spread_scan, the
    stage under a scan-side REPARTITION_BY_NUM exchange holds the scan
    and at most the key's null filter, with ANSI off (ENGINE_CONF) and
    on (Spark 4's default, which a vanilla SparkSession runs)."""
    queries = _spread_scan_queries()
    assert {"q_dedup_survivors", "q_dup_spans", "q_simhash_exact"} <= set(queries)
    allowed = re.compile(r"(FileScan |ColumnarToRow$|Project \[[\w#, ]*\]$)")
    prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        plans = {
            name: _plan_through_ckpts(spark, sf_dir, registry.get(name).fn)
            for name in queries
        }
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)
    for name, plan in plans.items():
        stages = _scan_stages_under_repartitions(plan)
        assert stages, name
        for key, stage in stages:
            for node in stage:
                if node.startswith("Filter "):
                    assert node == f"Filter isnotnull({key})", (name, node)
                else:
                    assert allowed.match(node), (name, node)
                for fn in ("xxhash64(", "transform(", "split(", "zip_with("):
                    assert fn not in node, (name, fn, node)


def test_payloadish_excludes_full_hash_suffix_family():
    """ADVICE r10: the hash/id-discipline suffix family is excluded at
    EVERY spelling — `sig_hash#3`, `gram_h2#1`, `vec_idx#4` must stay
    excluded exactly like `sig_h`/`gram_h`/`vec_id` — while bare
    payload stems keep flagging."""
    import re

    from laser_hadoop_spark.plans.pair_audit import PAYLOADISH

    def hit(s: str) -> bool:
        return any(re.search(p, s) for p in PAYLOADISH)

    for benign in (
        "sig_h#5", "sig_h2#5", "sig_hash#3", "gram_h#6", "gram_h2#1",
        "gram_hash#2", "vec_id#8", "vec_idx#4", "vec_hash#1",
    ):
        assert not hit(benign), benign
    for payload in (
        "sig#2", "sig_a#2", "vec#3", "vec_a#9", "gram#7", "gram_a#1",
        "sig_hex#1",  # not in the suffix family — stays payload-ish
    ):
        assert hit(payload), payload
