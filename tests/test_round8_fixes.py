"""Round-8 regression tests for the round-7 ADVICE items.

- q_jaro_blocked exercised WITH CONTENT at local scale (its sf0.001
  oracle green was vacuous: 0 rows on both engines, so a broken finer
  blocking key would also have passed);
- the vendored protobuf tree must not shadow sibling google.*
  distributions (vendor/ sits at the FRONT of sys.path).
"""

from __future__ import annotations

import subprocess
import sys
import textwrap


def test_jaro_blocked_finer_key_with_content(spark, tmp_path):
    """A fixture where the (brand, size) key provably matters: two
    near-identical names share brand+size (must pair), a third shares
    the brand and the name but NOT the size (the finer key must drop
    it — under q_jaro_pairs' coarse brand key it would survive), and
    the emitted score must equal DuckDB's independent jaro_similarity."""
    import duckdb

    from laser_hadoop_spark import registry

    rows = [
        (1, "almond antique blue royal", "Brand#11", 7),
        (2, "almond antique blue regal", "Brand#11", 7),  # pairs with 1
        (3, "almond antique blue royal", "Brand#11", 9),  # same name, other size
        (4, "midnight crimson keyless x", "Brand#11", 7),  # same block, dissimilar
    ]
    spark.createDataFrame(
        rows, "p_partkey long, p_name string, p_brand string, p_size int"
    ).write.parquet(str(tmp_path / "part.parquet"))

    out = registry.get("q_jaro_blocked").fn(spark, str(tmp_path)).collect()
    assert [(r["k1"], r["k2"]) for r in out] == [(1, 2)]
    expected = duckdb.sql(
        "SELECT CAST(ROUND(1000000 * jaro_similarity("
        "'almond antique blue royal', 'almond antique blue regal')) AS BIGINT)"
    ).fetchone()[0]
    assert out[0]["jaro_micro"] == expected
    # sanity: the coarse brand key WOULD have kept (1,3) — the finer
    # key's exclusion above is doing real work, not vacuously passing
    coarse = registry.get("q_jaro_pairs").fn(spark, str(tmp_path)).collect()
    assert (1, 3) in [(r["k1"], r["k2"]) for r in coarse]


def test_vendored_protobuf_does_not_shadow_google_namespace(tmp_path):
    """vendor/google must be a pkgutil-style namespace package: with
    vendor/ first on sys.path AND another google.* distribution on the
    path, BOTH google.protobuf and the sibling package import."""
    other = tmp_path / "site"
    pkg = other / "google" / "fakecloud"
    pkg.mkdir(parents=True)
    (other / "google" / "__init__.py").write_text(
        "__path__ = __import__('pkgutil').extend_path(__path__, __name__)\n"
    )
    (pkg / "__init__.py").write_text("X = 42\n")
    code = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(other)!r})
        sys.path.insert(0, "/root/repo/vendor")
        import google.protobuf, google.fakecloud
        assert google.fakecloud.X == 42
        assert "vendor" in google.protobuf.__file__
        print("ok")
        """
    )
    res = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=60
    )
    assert res.returncode == 0, res.stderr
    assert res.stdout.strip() == "ok"


# --- DECIMAL // oracle-division discipline (round-8 sf0.1 sweep catch) ------

# Oracles verified BY HAND to use // only on integer/HUGEINT operands
# (DECIMAL appears elsewhere in the SQL, never beside a //): q_gpd_pot's
# s is a HUGEINT SUM; the others carry in-SQL comments from the X349
# probe. Any NEW entry here needs the same by-hand operand check.
DECIMAL_NEAR_DIV_WHITELIST = {
    "q_hll_audit",
    "q_relabel_test",
    "q_procrustes2d",
    "q_haar_wavelet",
    "q_doremi_step",
    "q_gpd_pot",
}


def test_duckdb_decimal_floordiv_semantics_pinned():
    """Pin the DuckDB behavior the discipline exists for: // on DECIMAL
    operands degrades to true (double) division — NOT integer division
    — while integer/HUGEINT // truncates toward zero like Spark DIV.
    The round-8 sf0.1 sweep caught q_effect_sizes hashing 1898 vs
    Spark's 1897 exactly because CAST(double AS BIGINT) then ROUNDS."""
    import duckdb

    con = duckdb.connect()
    assert con.sql("SELECT CAST(7 AS DECIMAL(38,0)) // 2").fetchone()[0] == 3.5
    assert con.sql("SELECT 7 // 2").fetchone()[0] == 3
    assert con.sql("SELECT -7 // 2").fetchone()[0] == -3  # trunc, like DIV
    assert (
        con.sql("SELECT CAST(-7 AS HUGEINT) // CAST(2 AS HUGEINT)").fetchone()[0]
        == -3
    )
    # the rounding cast that turns the degraded quotient into an
    # off-by-one hash mismatch
    assert con.sql("SELECT CAST(1897.64 AS BIGINT)").fetchone()[0] == 1898


def test_no_decimal_operands_near_oracle_floordiv():
    """Mechanical corpus audit: flag any oracle where DECIMAL appears
    within 200 chars of a // (the textual radius that caught
    q_effect_sizes), minus the by-hand-verified whitelist. Integer
    division in oracle SQL must run on BIGINT/HUGEINT operands."""
    import re

    from laser_hadoop_spark import registry

    offenders: dict[str, list[str]] = {}
    for name, spec in sorted(registry.specs().items()):
        sql = spec.oracle
        if not sql or "//" not in sql or name in DECIMAL_NEAR_DIV_WHITELIST:
            continue
        # audit the executable text only (-- comments may legitimately
        # NAME the DECIMAL hazard right beside a correct HUGEINT //)
        sql = re.sub(r"--[^\n]*", "", sql)
        hits = []
        for m in re.finditer(r"//", sql):
            ctx = sql[max(0, m.start() - 200) : m.end() + 200]
            if "DECIMAL" in ctx.upper():
                hits.append(" ".join(ctx.split())[:120])
        if hits:
            offenders[name] = hits
    assert not offenders, (
        "oracle // with DECIMAL nearby (degrades to double + rounding "
        f"cast in DuckDB — use HUGEINT operands): {offenders}"
    )


def test_scored_blocked_pairs_equals_naive_spelling(spark, tmp_path):
    """The round-8 pruned-expansion join (_scored_blocked_pairs) must
    produce exactly the naive all-candidates-then-filter relation on
    data the committed fixtures don't cover: random vocab-named parts
    across several seeds, scored by a plain levenshtein dictionary (the
    helper is kernel-agnostic — any scored (s1, s2) relation works)."""
    from pyspark.sql import functions as F

    from laser_hadoop_spark.queries.similarity import _scored_blocked_pairs

    vocab = ["alpha", "alpah", "beta", "betta", "gamma", "gama", "delta", "detla"]
    for seed in (1, 2, 3):
        rows = [
            (
                i,
                f"Brand#{(i * seed) % 4}",
                (i * 7 + seed) % 6,
                vocab[(i * 13 + seed) % len(vocab)],
            )
            for i in range(60)
        ]
        p = spark.createDataFrame(
            rows, "p_partkey long, p_brand string, p_size int, p_name string"
        )
        d = str(tmp_path / f"s{seed}")
        p.write.mode("overwrite").parquet(f"{d}/part.parquet")
        names = p.select(F.col("p_name").alias("s1")).distinct()
        scored = (
            names.crossJoin(names.select(F.col("s1").alias("s2")))
            .select("s1", "s2", F.levenshtein("s1", "s2").alias("dist"))
            .where(F.col("dist") <= 2)
        )
        for cols in (("p_brand",), ("p_brand", "p_size")):
            got = sorted(
                tuple(r)
                for r in _scored_blocked_pairs(
                    spark, d, scored, blocking_cols=cols
                ).select("k1", "k2", "dist").collect()
            )
            a = p.select(
                *cols, F.col("p_partkey").alias("k1"), F.col("p_name").alias("s1")
            )
            b = p.select(
                *cols, F.col("p_partkey").alias("k2"), F.col("p_name").alias("s2")
            )
            naive = sorted(
                tuple(r)
                for r in a.join(b, list(cols))
                .where(F.col("k1") < F.col("k2"))
                .join(scored, ["s1", "s2"])
                .select("k1", "k2", "dist")
                .collect()
            )
            assert got == naive and len(got) > 0, (seed, cols, len(got))
