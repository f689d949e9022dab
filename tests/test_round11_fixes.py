"""Round-11 fixes (VERDICT_r10 items 1/7 + ADVICE r10).

A streaming failure is reported as an error, never as a throughput
sample; the pair-audit payload patterns exclude the whole hash/id
suffix family; grouped Procrustes tolerates duplicate anchor ids.
The round's session-hygiene pins (release_persisted between queries)
live in test_session.py, and the per-query storage check rides the
oracle sweep in test_oracle_corpus.py.
"""

from __future__ import annotations


def test_streaming_error_is_not_host_noise():
    """ADVICE r10: a streaming ERROR is a code failure — it is reported
    under its own streaming_error field, never as a throughput sample."""
    import bench

    v = bench.report_fields({"error": "ValueError: boom"}, {"rows_per_sec": 1.0}, 300.0)
    assert v["streaming_error"] == "ValueError: boom"
    assert "streaming_tws_error" not in v
    # a present-but-slow throughput is a sample, not an error
    v2 = bench.report_fields({"rows_per_sec": 10.0}, {"rows_per_sec": 10.0}, 300.0)
    assert "streaming_error" not in v2


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


def test_grouped_procrustes_tolerates_duplicate_anchor_ids(spark):
    """ADVICE r10: a duplicated id inside a group must neither crash
    the Arrow kernel (length mismatch) nor skew the fit — the fit
    dedups to first-row-per-id; the projection still maps every study
    row, duplicates included."""
    import numpy as np

    from laser_hadoop_spark.operators.pca import grouped_procrustes

    ref_rows = [("g", f"s{i}", [float(i), float(i % 3)]) for i in range(6)]
    # study = reference rotated 90 degrees, with s2 DUPLICATED on the
    # study side and s3 duplicated on the reference side
    rot = np.array([[0.0, -1.0], [1.0, 0.0]])
    study_rows = [
        (g, i, [float(x) for x in np.array(pc) @ rot]) for (g, i, pc) in ref_rows
    ]
    study_rows.append(study_rows[2])
    ref_dup = ref_rows + [ref_rows[3]]
    study = spark.createDataFrame(study_rows, "g string, id string, pc array<double>")
    ref = spark.createDataFrame(ref_dup, "g string, id string, pc array<double>")
    out = grouped_procrustes(study, ref, group_col="g", id_col="id").collect()
    assert len(out) == 7  # every study row, duplicate included
    by_id = {}
    for r in out:
        by_id.setdefault(r["id"], []).append(r["proj"])
    ref_map = {i: pc for (_, i, pc) in ref_rows}
    for rid, projs in by_id.items():
        for proj in projs:
            np.testing.assert_allclose(proj, ref_map[rid], atol=1e-9)
