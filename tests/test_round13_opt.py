"""Round-13 optimization gates.

Pins for this round's restructures (VERDICT_r12 "next round" items):

- the ANN scoring kernel's pair enumeration is chunked and exact
  (_pair_index_blocks == np.triu_indices order/content) and its peak
  memory is bounded at adversarially hot bucket sizes where the r12
  triu_indices materialization would allocate tens of GB;
- an end-to-end hot-bucket run (every vector in one bucket of every
  table) through the kernel stays correct against a brute-force
  reference;
- q_dup_spans' one-pass streaming dup test equals the r12
  aggregate+semi-join form (re-spelled inline) on the test corpus;
- q_relabel_test's t_hex threshold survives the na == n edge the
  r12 lpad spelling silently truncated (ADVICE r12).
"""

from __future__ import annotations

import tracemalloc

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_pair_index_blocks_match_triu_and_stay_chunked():
    from laser_hadoop_spark.operators.similarity import _pair_index_blocks

    for m in (0, 1, 2, 3, 7, 100):
        got_i, got_j = [], []
        for i, j in _pair_index_blocks(m, chunk=17):
            assert len(i) <= 17
            got_i.append(i)
            got_j.append(j)
        exp_i, exp_j = np.triu_indices(m, 1)
        if got_i:
            np.testing.assert_array_equal(np.concatenate(got_i), exp_i)
            np.testing.assert_array_equal(np.concatenate(got_j), exp_j)
        else:
            assert len(exp_i) == 0


def test_pair_index_blocks_bounded_memory_on_hot_bucket():
    """m = 500k would need m(m-1)/2 x 16 B = 2 TB under np.triu_indices;
    the arithmetic generator's first block must stay O(m) + O(chunk)."""
    from laser_hadoop_spark.operators.similarity import (
        _LSH_SCORE_CHUNK,
        _pair_index_blocks,
    )

    m = 500_000
    tracemalloc.start()
    gen = _pair_index_blocks(m)
    i, j = next(gen)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    gen.close()
    assert len(i) == _LSH_SCORE_CHUNK
    # first block: rows 0..? of row 0's pairs — row-major order
    assert i[0] == 0 and j[0] == 1 and j[1] == 2
    # O(m) offsets (8 B x m = 4 MB) + a few chunk-sized int64 arrays
    assert peak < 64 * 1024 * 1024, peak


def test_ann_kernel_hot_bucket_end_to_end(spark):
    """Adversarial skew: identical-direction vectors land in ONE
    (table, bucket) per table at every width, so the whole corpus is a
    single hot bucket. The kernel must survive it (chunked triangles,
    streamed output) and produce the exact brute-force top-k."""
    from laser_hadoop_spark.operators.similarity import ann_lsh_topk

    n = 300
    rows = [(i, [float(i + 1), 0.0, 0.0, 0.0]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = ann_lsh_topk(
        df, id_col="vec_id", vec_col="embedding", k=3, n_planes=2, n_tables=2
    )
    got = {(r.id_a, r.id_b, r.cosine_micro, r.rnk) for r in out.collect()}
    # all vectors are colinear: cosine == 1 for every pair, so top-3 of
    # id_a is the 3 smallest OTHER ids (rank ties broken by id_b)
    exp = set()
    for a in range(n):
        others = [b for b in range(n) if b != a][:3]
        for rnk, b in enumerate(others, start=1):
            exp.add((a, b, 1_000_000, rnk))
    assert got == exp


def test_dup_spans_kernel_equals_r12_aggregate_form(spark, sf_dir):
    """The one-pass streaming dup test must select exactly the rows the
    r12 min!=max aggregate + semi-join selected."""
    from laser_hadoop_spark.tables import table

    G = 20
    d = table(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(CASE WHEN length(text) >= {G}"
                f" THEN sequence(1, length(text) - {G} + 1)"
                f" ELSE array() END,"
                f" i -> xxhash64(substring(text, i, {G})))"
            )
        ).alias("idx", "gram_h"),
    ).select("doc_id", (F.col("idx") + 1).alias("pos"), "gram_h")
    dup = (
        grams.groupBy("gram_h")
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
        .where(F.col("mn") != F.col("mx"))
        .select("gram_h")
    )
    legacy = {
        (r.doc_id, r.pos)
        for r in grams.join(dup, "gram_h", "left_semi")
        .select("doc_id", "pos")
        .collect()
    }
    # the optimized query's kernel output is its window input; rebuild
    # it through the public query and compare the per-doc census
    from laser_hadoop_spark.queries.round5r import q_dup_spans

    got = q_dup_spans(spark, sf_dir).collect()
    # recompute the census from the legacy hit set (pure Python)
    from collections import defaultdict

    by_doc = defaultdict(list)
    for doc, pos in legacy:
        by_doc[doc].append(pos)
    census = {}
    for doc, ps in by_doc.items():
        ps.sort()
        spans = []
        start = None
        prev_end = -1
        for p in ps:
            if start is None or p > prev_end:
                if start is not None:
                    spans.append((start, prev_end))
                start = p
                prev_end = p + G - 1
            else:
                prev_end = max(prev_end, p + G - 1)
        if start is not None:
            spans.append((start, prev_end))
        census[doc] = spans
    n_chars = {r.doc_id: r.n_chars for r in d.select("doc_id", "n_chars").collect()}
    exp_rows = []
    for doc, spans in census.items():
        chars = sum(e - s + 1 for s, e in spans)
        exp_rows.append(
            (
                doc,
                len(spans),
                chars,
                max(e - s + 1 for s, e in spans),
                chars * 10000 // n_chars[doc],
            )
        )
    exp_rows.sort(key=lambda r: (-r[2], r[0]))
    exp_rows = exp_rows[:25]
    assert [tuple(r) for r in got] == exp_rows


def test_relabel_threshold_survives_all_urgent_groups(spark):
    """ADVICE r12: t_hex = lpad(hex(t), 6) truncates when na == n
    (t = 2^24 is 7 hex chars) — the guarded CASE must keep the
    assignment always-true instead. Spelled directly against the
    aggregate expression q_relabel_test uses."""
    df = spark.createDataFrame([(1, 1), (2, 1), (3, 1)], "o_orderkey int, ga int")
    t_hex = df.agg(
        F.expr(
            "CASE WHEN SUM(ga) = COUNT(*) THEN 'g' "
            "ELSE lower(lpad(hex(16777216 * SUM(ga) DIV COUNT(*)), 6, '0')) END"
        ).alias("t_hex")
    ).collect()[0][0]
    assert t_hex == "g"
    # every 6-char lowercase hex draw sorts below 'g' -> always assigned
    assert "ffffff" < t_hex
    # and a mixed group still produces the exact 6-char threshold
    df2 = spark.createDataFrame([(1, 1), (2, 0)], "o_orderkey int, ga int")
    t2 = df2.agg(
        F.expr(
            "CASE WHEN SUM(ga) = COUNT(*) THEN 'g' "
            "ELSE lower(lpad(hex(16777216 * SUM(ga) DIV COUNT(*)), 6, '0')) END"
        ).alias("t_hex")
    ).collect()[0][0]
    assert t2 == f"{(16777216 * 1) // 2:06x}"


def test_simhash_null_text_propagates_null(spark):
    """ADVICE r12: the numpy bit-vote kernel crashed on NULL text where
    the former SQL fold propagated a NULL sketch."""
    from laser_hadoop_spark.operators.dedup import simhash

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, None), (3, "alpha beta gamma")],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r.simhash for r in simhash(df, bits=64).collect()}
    assert rows[2] is None
    assert rows[1] == rows[3] and rows[1] is not None
