#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Runs each headline query end-to-end, prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query runs warm (fresh plan each run — no AQE stage-cache reuse);
the fastest of three runs is reported so JVM/JIT and session startup
don't dominate the per-query numbers. The timed action is the noop
sink (`df.write.format("noop")` — computes every column of every row,
discards the result), which measures the distributed computation rather
than the driver-side row fetch. The metric value is the total across
all headline queries.

The line also carries raw samples, not verdicts: the host canaries at
start and end, the two pinned streaming micro-benches and the storage
high-water mark. Comparing two runs is the job of perfbench/ (paired
seeded runs); this harness only measures one.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from laser_hadoop_spark import registry
from laser_hadoop_spark.session import get_spark

HEADLINE = [
    "q_pricing_summary",
    "q_broadcast_inner_join",
    "q_shipping_priority",
    "q_local_supplier_volume",
    "q_large_join_multikey",
    "q_rank_topk_per_group",
    "q_window_running_sum",
    "q_tumbling_window_agg",
    "q_dedup_ngram_jaccard",
    "q_embedding_threshold",
    "q_text_quality",
    "q_asof_join",
    "q_scalar_subquery",
    "q_curation_pipeline",
    "q_bucketed_fact_join",
    "q_product_profit",
    "q_waiting_suppliers",
    "q_bloom_semi_join",
    "q_winnow_fingerprints",
    "q_weighted_median",
    "q_minhash_signatures",
    "q_simhash_exact",
    "q_bm25_search",
    "q_quantiles_pruned",
    "q_shingle_novelty",
    "q_auc_exact",
    "q_percent_rank_ntile",
    "q_value_deciles",
    "q_rfm_segments",
    "q_decile_migration",
    "q_incremental_dedup",
    "q_bootstrap_ci",
    "q_dedup_survivors",
    "q_dup_spans",
    "q_jaro_pairs",
    "q_hll_audit",
    "q_dbscan_core",
    "q_relabel_test",
    "q_hodges_lehmann",
    "q_jaro_blocked",
    "q_dedup_simhash64",
    "q_ann_lsh",
    "q_ann_lsh_prod",
]


# Storage tenancy band: the sweep-hygiene invariant
# (tests/test_round11_fixes.py) pins post-query storage under 500 MB.
# A peak over it is the structural signature of the in-session slow mode
# (checkpoint/broadcast blocks piling up on the driver heap; see
# session.release_persisted). It counts bytes, not seconds, so host load
# cannot fake it and it is not tuned to any host.
STORAGE_BAND_MB = 500.0


def report_fields(streaming: dict, streaming_tws: dict, storage_peak_mb: float) -> dict:
    """The bench line's derived fields.

    A streaming exception is a code failure: it is reported under its
    own ``streaming_error`` / ``streaming_tws_error`` key, never folded
    into the throughput samples where it could read as host noise.
    """
    errors = {
        f"{label}_error": sample["error"]
        for label, sample in (("streaming", streaming), ("streaming_tws", streaming_tws))
        if "error" in sample
    }
    return {
        **errors,
        "storage_peak_mb": storage_peak_mb,
        "storage_in_band": storage_peak_mb <= STORAGE_BAND_MB,
        "storage_band_mb": STORAGE_BAND_MB,
    }


def host_canary(spark) -> dict:
    """Fixed-work host-contention canary, sampled at run start and end.

    Two deterministic workloads whose times show how loaded the host was:
      - py_single_sec: a single-threaded pure-Python integer loop —
        per-core speed under ambient load (no JVM, no I/O).
      - spark_parallel_sec: sum over spark.range(2**28) on all cores —
        whole-machine availability through the same executor pool the
        queries use.
    """
    # untimed JVM/codegen warmup so the START canary measures host
    # contention, not JIT (first-ever range-sum measured 3.4 s vs a
    # 0.31 s steady state — pure warmup, not load)
    spark.range(1 << 24).selectExpr("sum(id)").collect()
    t0 = time.perf_counter()
    acc = 0
    for i in range(5_000_000):
        acc += i * i & 0xFFFF
    py_single = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark.range(1 << 28).selectExpr("sum(id)").collect()
    spark_parallel = time.perf_counter() - t0
    return {
        "py_single_sec": round(py_single, 3),
        "spark_parallel_sec": round(spark_parallel, 3),
        "_acc": acc & 1,  # keep the loop unoptimizable
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    canary_start = host_canary(spark)
    specs = registry.specs()
    # one-time bucketed-warehouse build stays out of the timings — it is
    # the amortized cost the recurring q_bucketed_fact_join measures
    warehouse_error = None
    try:
        from laser_hadoop_spark.warehouse import ensure_bucketed_facts

        ensure_bucketed_facts(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001 - bench must always emit its line
        # surfaced in the JSON: a failed build means q_bucketed_fact_join
        # rebuilds inside the timed loop and its number is not comparable
        warehouse_error = f"{type(exc).__name__}: {exc}"
    # One untimed warmup pass: JIT-compiles the hot codegen/shuffle paths
    # so per-query numbers don't depend on what ran earlier in the JVM.
    #
    # Session hygiene between queries: each run rebuilds its plan from
    # scratch, so the previous run's checkpoint blocks are garbage the
    # moment the action returns — but without an explicit unpersist they
    # are freed only when a JVM GC happens to let the ContextCleaner run,
    # and lingering storage on the shared 8 GB heap pushes big sorts into
    # GC thrash. release_persisted() after every run removes the
    # GC-timing dependence; a storage-triggered System.gc() additionally
    # bounds broadcast-block tenancy (those are only
    # ContextCleaner-freeable). Both run OUTSIDE the timing windows.
    from laser_hadoop_spark.session import release_persisted, storage_memory_used

    def _hygiene() -> None:
        release_persisted(spark)
        if storage_memory_used(spark) > 1_000_000_000:
            spark.sparkContext._jvm.System.gc()

    # storage_peak is sampled after each action but BEFORE _hygiene()
    # releases blocks: it is the session's true in-run storage
    # high-water mark.
    storage_peak = 0

    def _noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    for name in HEADLINE:
        _noop(specs[name].fn(spark, sf_dir))
        storage_peak = max(storage_peak, storage_memory_used(spark))
        _hygiene()
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = specs[name].fn
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            _noop(fn(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
            storage_peak = max(storage_peak, storage_memory_used(spark))
            _hygiene()
        timings[name] = round(best, 3)
    total = round(sum(timings.values()), 3)
    # Streaming micro-benches over a PINNED deterministic file stream
    # (1M rows, 5 files, 100 keys, one file per trigger): a watermarked
    # window aggregate into the foreachBatch upsert sink, then the
    # transformWithStateInPandas/RocksDB pipeline. The TWS line
    # gets one untimed small warmup: its first-ever trigger pays JIT and
    # the RocksDB library load.
    try:
        from laser_hadoop_spark.streaming.ops import pinned_stream_bench

        streaming = pinned_stream_bench(spark)
    except Exception as exc:  # noqa: BLE001
        streaming = {"error": f"{type(exc).__name__}: {exc}"}
    try:
        from laser_hadoop_spark.streaming.ops import pinned_tws_bench

        pinned_tws_bench(spark, n_rows=100_000, n_files=1)
        streaming_tws = pinned_tws_bench(spark)
    except Exception as exc:  # noqa: BLE001
        streaming_tws = {"error": f"{type(exc).__name__}: {exc}"}
    canary_end = host_canary(spark)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_warm",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "timed_action": "noop_sink",
                "streaming": streaming,
                "streaming_tws": streaming_tws,
                "canary": {"start": canary_start, "end": canary_end},
                **report_fields(streaming, streaming_tws, round(storage_peak / 1e6, 1)),
                **({"warehouse_error": warehouse_error} if warehouse_error else {}),
                "sf": float(sf) if sf else None,
            }
        )
    )


if __name__ == "__main__":
    main()
