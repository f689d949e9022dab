"""Regression tests for the round-6 ADVICE fixes.

Each test builds a tiny documents corpus containing the degenerate rows
the shared test corpus lacks (docs with < 3 tokens, docs shorter than
the 20-char dup-span gram) and asserts the fixed queries neither crash
(Spark's sequence(1, 0) DESCENDS to [1, 0] — the pre-fix path then
called element_at(..., 0)) nor diverge from the intended semantics
(zero n-grams / zero spans / no stitch keys for short docs).
"""

from __future__ import annotations

import os

import pytest

from laser_hadoop_spark.queries.curation import q_doc_stitch, q_dup_spans
from laser_hadoop_spark.queries.text import q_ngram_continuations


def _write_docs(spark, tmp_path, rows):
    d = str(tmp_path / "sf_edge")
    os.makedirs(d, exist_ok=True)
    df = spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, (t, s) in enumerate(rows)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    return d


def test_ngram_continuations_short_docs_no_crash(spark, tmp_path):
    # 0-, 1-, 2-token docs must emit zero trigrams; the repeated 3-token
    # doc is the only trigram source.
    sf = _write_docs(
        spark,
        tmp_path,
        [("", "a"), ("one", "a"), ("two words", "a")]
        + [("alpha beta gamma", "a")] * 3,
    )
    rows = q_ngram_continuations(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.w1, r.w2, r.w3, r.c) == ("alpha", "beta", "gamma", 3)


def test_dup_spans_short_docs_no_crash(spark, tmp_path):
    # Docs shorter than the 20-char gram emit no grams even when
    # duplicated; the two long duplicates must still be found.
    long = "x" * 30 + " shared duplicated span content here"
    sf = _write_docs(
        spark,
        tmp_path,
        [("tiny", "a"), ("tiny", "a"), ("under twenty chr", "a"),
         (long, "a"), (long, "b")],
    )
    rows = q_dup_spans(spark, sf).collect()
    ids = {r.doc_id for r in rows}
    assert ids == {3, 4}
    for r in rows:
        assert r.dup_chars == len(long)


def test_doc_stitch_short_docs_excluded(spark, tmp_path):
    # Docs with < 3 tokens contribute no head/tail keys (pre-fix, Spark's
    # slice(toks, -3, 3) made tail3 = '' for them while the oracle kept
    # the whole list — and '' keys could stitch unrelated short docs).
    sf = _write_docs(
        spark,
        tmp_path,
        [
            ("a b", "s1"),          # 2 tokens: excluded
            ("c d", "s1"),          # 2 tokens: excluded
            ("p q r s t u", "s1"),  # tail3 = "s t u"
            ("s t u v w x", "s1"),  # head3 = "s t u" -> stitches with ^
        ],
    )
    rows = q_doc_stitch(spark, sf).collect()
    assert [(r.left_id, r.right_id) for r in rows] == [(2, 3)]
    assert rows[0].shingle == "s t u"
    assert rows[0].stitched_tokens == 12
    assert rows[0].same_source == 1


def test_jonckheere_uses_wide_decimal(spark, sf_dir):
    # The variance moment nn*nn*(2*nn+3) wraps int64 past ~1.66M orders;
    # the fix routes it through decimal(38,0). Pin that in the plan so a
    # refactor back to bigint arithmetic fails loudly.
    from laser_hadoop_spark.queries.stats_tests import q_jonckheere

    df = q_jonckheere(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "decimal(38,0)" in plan
    row = df.collect()[0]
    assert row.n > 0 and row.z is not None
