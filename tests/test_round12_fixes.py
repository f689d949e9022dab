"""Round-12 verdict-item regression pins.

The bench line reports the storage peak against bench.STORAGE_BAND_MB
(the structural slow-mode signal ambient load cannot fake) and a
typed-state streaming failure as streaming_tws_error.
"""

import bench


def test_storage_over_band_is_structural():
    """A storage peak over STORAGE_BAND_MB flags — multi-GB tenancy is
    the in-process mode's signature (r11 root cause), not something
    ambient load can produce."""
    ok = {"rows_per_sec": 1.0}
    band = bench.STORAGE_BAND_MB
    v = bench.report_fields(ok, ok, band)
    assert v["storage_in_band"] is True
    assert v["storage_band_mb"] == band
    assert v["storage_peak_mb"] == band
    assert bench.report_fields(ok, ok, band + 0.1)["storage_in_band"] is False


def test_payloadish_hash_suffix_family_applies_to_all_stems():
    """ADVICE r11: the hash/id-discipline suffix exclusion covers EVERY
    stem, not just sig/vec/gram — `name_hash#3`, `text_hash#1`,
    `tokens_id#2` are hashed/id columns (the discipline, not a
    violation) and must not flag; the bare stems keep flagging."""
    import re

    from laser_hadoop_spark.plans.pair_audit import PAYLOADISH

    def hit(s: str) -> bool:
        return any(re.search(p, s) for p in PAYLOADISH)

    for benign in (
        "name_hash#3", "name_h#1", "name_id#2", "text_hash#1",
        "text_h2#4", "tokens_id#2", "tokens_idx#5", "body_hash#7",
        "embedding_id#3",
    ):
        assert not hit(benign), benign
    for payload in (
        "name#5", "c_name#12", "text#1", "chunk_text#3", "tokens#1",
        "body#2", "embedding#4", "name_hex#1",  # hex not in the family
    ):
        assert hit(payload), payload


def test_release_persisted_keep_ids_scopes_the_release(spark):
    """ADVICE r11: compare_query snapshots persisted_rdd_ids before the
    fetch and releases only blocks created during it — a caller's own
    persisted DataFrame survives a compare_query call intact."""
    from laser_hadoop_spark.session import persisted_rdd_ids, release_persisted

    release_persisted(spark)
    outer = spark.range(100_000).localCheckpoint(eager=True)
    assert outer.count() == 100_000
    pre = persisted_rdd_ids(spark)
    assert pre  # the checkpoint pinned at least one RDD
    inner = spark.range(50_000).localCheckpoint(eager=True)
    assert inner.count() == 50_000
    released = release_persisted(spark, keep_ids=pre)
    assert released >= 1  # inner's blocks went
    assert persisted_rdd_ids(spark) == pre  # outer's stayed
    # outer remains fully actionable after the scoped release —
    # localCheckpoint truncated its lineage, so this count would throw
    # block-not-found if its blocks had been released
    assert outer.count() == 100_000
    release_persisted(spark)
    assert persisted_rdd_ids(spark) == set()


def test_procrustes_kdim_label_groups_fittable(spark):
    """ADVICE r11: q_procrustes_kdim's oracle emits one row per
    embeddings row, but grouped_procrustes drops label groups with
    fewer than 2 shared anchors — so the corpus check silently relies
    on every label group having >= 2 rows. Pin that data assumption
    explicitly: if a future testdata regeneration introduces a
    singleton label group this fails with the real reason, not a
    confusing driver row-count mismatch."""
    import pyspark.sql.functions as F

    from laser_hadoop_spark.tables import table

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        counts = (
            table(spark, sf_dir, "embeddings")
            .groupBy("label")
            .count()
            .agg(F.min("count").alias("min_n"))
            .collect()[0]
        )
        assert counts["min_n"] >= 2, (
            f"{sf_dir}: label group with {counts['min_n']} row(s) — "
            "grouped_procrustes would drop it and q_procrustes_kdim's "
            "oracle row-count would mismatch"
        )


def test_ann_lsh_prod_recall_vs_exact_topk(spark):
    """VERDICT_r11 item 6: the production-density ANN line
    (q_ann_lsh_prod, n_planes=8 / n_tables=32) is recall-gated against
    the exact top-k sibling — the q_embedding_topk discipline. The
    md5-Rademacher planes are deterministic, so measured recall is
    exact per dataset: 0.490 at sf0.001, 0.524 at sf0.01 (near-
    isotropic corpus, LSH's worst case); the gate sits at 0.45 to
    survive a driver testdata regeneration, and the candidate budget
    is pinned too — production density must actually CUT candidates
    (<= 20% of all pairs vs 89% at the oracle-pinned n_planes=2)."""
    import numpy as np

    from laser_hadoop_spark import registry
    from laser_hadoop_spark.tables import table

    sf_dir = "/root/testdata/sf0.001"
    rows = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = [r["vec_id"] for r in rows]
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = Vn @ Vn.T
    np.fill_diagonal(S, -2.0)
    true_top1 = {ids[i]: ids[int(S[i].argmax())] for i in range(len(ids))}

    approx = registry.get("q_ann_lsh_prod").fn(spark, sf_dir).collect()
    neighbors: dict = {}
    for r in approx:
        neighbors.setdefault(r["id_a"], set()).add(r["id_b"])
    n = len(ids)
    hits = sum(1 for q, nn in true_top1.items() if nn in neighbors.get(q, set()))
    recall = hits / n
    assert recall >= 0.45, f"recall@1 {recall:.3f} over {n} queries"
    # production density: the candidate cut is the point. Recompute the
    # CANDIDATE fraction from the same deterministic plane family the
    # query uses (buckets are exact, no RNG): must stay <= 20% of all
    # pairs, vs the measured 89% at the oracle-pinned n_planes=2.
    from laser_hadoop_spark.operators.similarity import rademacher_planes
    from laser_hadoop_spark.queries.llm import (
        _ANN_PROD_PLANES,
        _ANN_PROD_TABLES,
    )

    planes = np.array(rademacher_planes(_ANN_PROD_TABLES, _ANN_PROD_PLANES, V.shape[1]))
    cand_pairs: set = set()
    for t in range(_ANN_PROD_TABLES):
        signs = (V @ planes[t].T > 0).astype(np.int64)
        buckets = (signs * (1 << np.arange(_ANN_PROD_PLANES))).sum(axis=1)
        by_bucket: dict = {}
        for i, b in enumerate(buckets):
            by_bucket.setdefault(int(b), []).append(i)
        for members in by_bucket.values():
            for x in range(len(members)):
                for y in range(x + 1, len(members)):
                    cand_pairs.add((members[x], members[y]))
    cand_frac = 2 * len(cand_pairs) / (n * (n - 1))
    assert cand_frac <= 0.20, f"candidate fraction {cand_frac:.3f}"


def test_streaming_tws_error_is_reported():
    """VERDICT_r11 item 7 + ADVICE r10: a typed-state streaming ERROR
    is a code failure reported under streaming_tws_error."""
    v = bench.report_fields({"rows_per_sec": 1.0}, {"error": "ImportError: x"}, 300.0)
    assert v["streaming_tws_error"] == "ImportError: x"
    assert "streaming_error" not in v


def test_pinned_tws_bench_measures_the_typed_state_path(spark):
    """The TWS bench drives ST20's moments processor over the pinned
    deterministic input and reports a positive throughput with bounded
    state (one row per key)."""
    from laser_hadoop_spark.streaming.ops import pinned_tws_bench

    out = pinned_tws_bench(spark, n_rows=50_000, n_files=2, n_keys=20)
    assert out["pinned"] is True
    assert out["input_rows"] == 50_000
    assert out["batches"] == 2
    assert out["state_rows_max"] == 20
    assert out["rows_per_sec"] > 0
