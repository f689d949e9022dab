"""Training-data curation: near-duplicate detection and data selection.

MinHash and SimHash signatures, LSH banding and its accuracy audits,
containment and cross-source overlap, duplicated spans, survivor
selection after transitive dedup, document stitching, plus the
selection side: train/val/test splits, hash-stratified and weighted
samples, mixture and temperature weights, DSIR and DoReMi steps,
packing economics and ingestion drift.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from laser_hadoop_spark.operators.cumulative import ordered_cumsum
from laser_hadoop_spark.operators.dedup import (
    MINHASH_BANDS,
    MINHASH_SEEDS,
    minhash_band_pairs,
    minhash_signatures,
    word_shingles,
)
from laser_hadoop_spark.registry import register
from laser_hadoop_spark.tables import spread_scan, table


@register(
    "q_minhash_signatures",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               UNNEST(list_transform(generate_series(1, len(t) - 2),
                                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                   AS shingle
        FROM toks WHERE len(t) >= 3
    ),
    seeds AS (SELECT UNNEST(generate_series(0, 7)) AS seed)
    SELECT doc_id, CAST(seed AS BIGINT) AS seed,
           MIN(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS min_hash
    FROM sh CROSS JOIN seeds
    GROUP BY doc_id, seed
    """,
)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X102: oracle-backed MinHash signature matrix.

    The engine's near-dup MinHash (operators/dedup.minhash_signatures)
    uses a hash both engines share: signature[s] = MIN(md5(s || '|' ||
    shingle)) over the doc's distinct 3-gram shingles, for 8 seeds.
    Same min-over-hashed-universe structure as any MinHash — the
    Jaccard estimator applies unchanged — but bit-for-bit verifiable.

    Each per-doc signature slot is an array_min computed inside the
    scan projection; the only plan node after it is the zero-shuffle
    stack unpivot (X18) to one (doc, seed) row. MinHash is
    per-document math, so at 100 TB this is embarrassingly parallel
    over file splits.
    """
    mins = minhash_signatures(table(spark, sf_dir, "documents"))
    pairs = ", ".join(f"CAST({s} AS BIGINT), s{s}" for s in range(MINHASH_SEEDS))
    return mins.select(
        "doc_id", F.expr(f"stack({MINHASH_SEEDS}, {pairs}) AS (seed, min_hash)")
    )


def _simhash_sql(hash2int: str, tokens: str, series: str, shift: str) -> str:
    """Shared exact-SimHash SQL; dialect differs in md5->int, token
    explode, bit-index series, and shift spelling."""
    return f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, token FROM (
            SELECT doc_id, {tokens} AS token FROM documents
        ) x WHERE token <> ''
    ),
    hashed AS (SELECT doc_id, {hash2int} AS h FROM toks),
    bits AS (
        SELECT doc_id, b,
               CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END AS contrib
        FROM hashed CROSS JOIN ({series}) s
    ),
    bitsum AS (
        SELECT doc_id, b, SUM(contrib) AS s FROM bits GROUP BY doc_id, b
    ),
    sig AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN s > 0 THEN {shift} ELSE 0 END) AS BIGINT)
                   AS simhash32
        FROM bitsum GROUP BY doc_id
    ),
    ntok AS (SELECT doc_id, COUNT(*) AS n_tokens FROM toks GROUP BY doc_id)
    SELECT sig.doc_id, sig.simhash32, ntok.n_tokens
    FROM sig JOIN ntok ON ntok.doc_id = sig.doc_id
    """


_SIMHASH_DUCK = _simhash_sql(
    "CAST(('0x' || substring(md5(token), 1, 15)) AS BIGINT)",
    "UNNEST(string_split(text, ' '))",
    "SELECT UNNEST(generate_series(0, 31)) AS b",
    "(CAST(1 AS BIGINT) << b)",
)
@register("q_simhash_exact", oracle=_SIMHASH_DUCK)
def q_simhash_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X114: exact SimHash signatures, hash-verified across engines.

    32-bit SimHash per document from the md5 hash both engines share
    (the q_minhash_signatures trick applied to SimHash): each distinct
    token votes +1/-1 per bit position, the sign of the per-bit sum
    sets the bit, ties (sum = 0) resolve to 0. This converted the
    SimHash family from rows-only to bit-for-bit oracle-verified;
    round 7 finished the job by pinning q_dedup_simhash's banded PAIR
    extraction to a quadratic-hamming oracle with the same md5 digest.

    Shape (reworked after the r04 sf0.1 bench showed the x32 bit
    explode at 4.0 s): the per-bit votes are 32 conditional-sum
    AGGREGATE COLUMNS over the distinct (doc, token) relation — no
    bit fanout rows exist at all; the signature reassembles from the
    32 sums in one projection. The oracle keeps the explode spelling
    (clearer SQL, DuckDB-fast); hash equality proves the two shapes
    identical. One doc_id shuffle with map-side combine.
    """
    d = table(spark, sf_dir, "documents")
    # Round 13: the tokenize+explode ran on the one-task unsplittable
    # scan; spread_scan parallelizes it (guarded no-op at corpus
    # scale). Measured 1.15 -> 0.70 s noop at sf0.1.
    toks = (
        spread_scan(d.select("doc_id", "text"), "doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token") != "")
        .distinct()
    )
    h = F.conv(F.substring(F.md5("token"), 1, 15), 16, 10).cast("bigint")
    hashed = toks.select("doc_id", h.alias("h"))
    votes = hashed.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        *[
            F.sum(
                F.when(F.expr(f"((h >> {b}) & 1) = 1"), 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(32)
        ],
    )
    sig = None
    for b in range(32):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return votes.select(
        "doc_id", sig.cast("bigint").alias("simhash32"), "n_tokens"
    )


@register(
    "q_sample_hash_stratified",
    oracle="""
    WITH ranked AS (
        SELECT c_custkey, c_mktsegment,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                  ORDER BY md5(CAST(c_custkey AS VARCHAR)),
                                           c_custkey) AS sample_rank,
               COUNT(*) OVER (PARTITION BY c_mktsegment) AS n_seg
        FROM customer
    )
    SELECT c_custkey, c_mktsegment, sample_rank
    FROM ranked WHERE sample_rank * 10 <= n_seg + 9
    """,
)
def q_sample_hash_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X115: deterministic hash-ordered stratified sample (10%/stratum).

    ceil(10%) of each market segment chosen by md5(custkey) order —
    a reproducible stratified sample (same rows on every engine, every
    run, any partitioning) where X13's seeded sampleBy is
    rows-only-checkable by nature. md5 order is uniform, so the sample
    is unbiased within each stratum; the window is one shuffle on the
    stratum key, and at 100 TB the per-stratum ordering can fall back
    to the two-pass rank (operators/cumulative) if a stratum outgrows
    a partition.
    """
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.md5(F.col("c_custkey").cast("string")), F.col("c_custkey")
    )
    ranked = c.select(
        "c_custkey",
        "c_mktsegment",
        F.row_number().over(w).alias("sample_rank"),
        F.count("*").over(Window.partitionBy("c_mktsegment")).alias("n_seg"),
    )
    return ranked.where(F.col("sample_rank") * 10 <= F.col("n_seg") + 9).select(
        "c_custkey", "c_mktsegment", "sample_rank"
    )


def _minhash_band_sql() -> str:
    """Shared SQL skeleton for X135 (DuckDB side): signatures pivoted
    wide, 4 bands of 2 seeds, candidate pairs from band equality,
    estimated Jaccard from seed agreement."""
    return """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               UNNEST(list_transform(generate_series(1, len(t) - 2),
                                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                   AS shingle
        FROM toks WHERE len(t) >= 3
    ),
    seeds AS (SELECT UNNEST(generate_series(0, 7)) AS seed),
    sigs AS (
        SELECT doc_id, seed,
               MIN(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS mh
        FROM sh CROSS JOIN seeds GROUP BY doc_id, seed
    ),
    wide AS (
        SELECT doc_id,
               MIN(CASE WHEN seed = 0 THEN mh END) AS s0,
               MIN(CASE WHEN seed = 1 THEN mh END) AS s1,
               MIN(CASE WHEN seed = 2 THEN mh END) AS s2,
               MIN(CASE WHEN seed = 3 THEN mh END) AS s3,
               MIN(CASE WHEN seed = 4 THEN mh END) AS s4,
               MIN(CASE WHEN seed = 5 THEN mh END) AS s5,
               MIN(CASE WHEN seed = 6 THEN mh END) AS s6,
               MIN(CASE WHEN seed = 7 THEN mh END) AS s7
        FROM sigs GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, 0 AS band, s0 || '|' || s1 AS bv FROM wide
        UNION ALL SELECT doc_id, 1, s2 || '|' || s3 FROM wide
        UNION ALL SELECT doc_id, 2, s4 || '|' || s5 FROM wide
        UNION ALL SELECT doc_id, 3, s6 || '|' || s7 FROM wide
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST((CASE WHEN wa.s0 = wb.s0 THEN 1 ELSE 0 END
               + CASE WHEN wa.s1 = wb.s1 THEN 1 ELSE 0 END
               + CASE WHEN wa.s2 = wb.s2 THEN 1 ELSE 0 END
               + CASE WHEN wa.s3 = wb.s3 THEN 1 ELSE 0 END
               + CASE WHEN wa.s4 = wb.s4 THEN 1 ELSE 0 END
               + CASE WHEN wa.s5 = wb.s5 THEN 1 ELSE 0 END
               + CASE WHEN wa.s6 = wb.s6 THEN 1 ELSE 0 END
               + CASE WHEN wa.s7 = wb.s7 THEN 1 ELSE 0 END)
               * 10000 // 8 AS BIGINT) AS est_jaccard_bp
    FROM cand c
    JOIN wide wa ON wa.doc_id = c.doc_a
    JOIN wide wb ON wb.doc_id = c.doc_b
    """


@register("q_minhash_band_pairs", oracle=_minhash_band_sql(), tags=("pairs",))
def q_minhash_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X135: MinHash LSH banding, exactly verified end-to-end.

    The full LSH candidate-generation pipeline on the ORACLE-BACKED
    signature matrix (X102's md5 MinHash): 4 bands x 2 seeds, candidate
    pairs from band-value equality, estimated Jaccard = seed-agreement
    fraction in bp. Every stage is bit-for-bit verifiable — banding
    probability, collision behavior, and the estimator itself become
    testable artifacts. Plan: the wide signature matrix computes
    scan-local (dedup.minhash_signatures), bands unpivot 4x per doc,
    candidates come from a band-key equi-join (dedup.minhash_band_pairs,
    never all-pairs), and the pair scoring joins the 9-column signature
    rows — at 100 TB the shuffle carries 16-byte digests, never text.
    """
    # localCheckpoint instead of cache: both pin the frame for the
    # multi-consumer plan (bands + two signature joins), but the
    # checkpointed RDD is reclaimed by the ContextCleaner as soon as
    # the DataFrame is garbage collected — a bare cache() accumulated
    # one pinned signature-matrix copy per invocation (review finding)
    wide = minhash_signatures(table(spark, sf_dir, "documents")).localCheckpoint(
        eager=False
    )
    cand = minhash_band_pairs(wide)
    wa = wide.alias("wa")
    wb = wide.alias("wb")
    agree = sum(
        F.when(F.col(f"wa.s{k}") == F.col(f"wb.s{k}"), 1).otherwise(0)
        for k in range(MINHASH_SEEDS)
    )
    return (
        cand.join(wa, F.col("doc_a") == F.col("wa.doc_id"))
        .join(wb, F.col("doc_b") == F.col("wb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (agree * 1250).cast("bigint").alias("est_jaccard_bp"),
        )
    )


@register(
    "q_mixture_weights",
    oracle="""
    WITH src AS (
        SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS n_chars
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT SUM(n_docs) AS total_docs, SUM(n_chars) AS total_chars
        FROM src
    )
    SELECT s.source, CAST(s.n_docs AS BIGINT) AS n_docs,
           CAST(s.n_chars AS BIGINT) AS n_chars,
           CAST(LEAST(CAST(10000 AS BIGINT),
                      CAST(s.n_chars AS BIGINT) * t.total_docs * 10000
                      // (t.total_chars * s.n_docs)) AS BIGINT) AS keep_bp,
           CAST(s.n_docs * LEAST(CAST(10000 AS BIGINT),
                      CAST(s.n_chars AS BIGINT) * t.total_docs * 10000
                      // (t.total_chars * s.n_docs)) // 10000 AS BIGINT)
               AS expected_kept
    FROM src s CROSS JOIN tot t
    """,
)
def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X136: corpus mixture re-weighting (data-mixing plan).

    Per-source keep probability that re-weights the corpus from its
    actual document-share toward a target share (here: proportional to
    each source's total characters — the "sample long-form sources up"
    policy): keep_bp = min(1, target_share / actual_share) in basis
    points, all truncating integer arithmetic. This is the sampling
    table a pretraining data-mixing stage feeds to X13's quota
    sampler; expected_kept makes the plan auditable before any
    sampling runs. One source-key aggregate + a broadcast scalar.
    """
    d = table(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("n_chars")
    )
    tot = src.agg(
        F.sum("n_docs").alias("total_docs"), F.sum("n_chars").alias("total_chars")
    )
    keep = F.expr(
        "LEAST(CAST(10000 AS BIGINT), "
        "CAST(n_chars AS BIGINT) * total_docs * 10000 "
        "DIV (total_chars * n_docs))"
    )
    return (
        src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_chars").cast("bigint").alias("n_chars"),
            keep.cast("bigint").alias("keep_bp"),
            F.expr(
                "CAST(n_docs * LEAST(CAST(10000 AS BIGINT), "
                "CAST(n_chars AS BIGINT) * total_docs * 10000 "
                "DIV (total_chars * n_docs)) DIV 10000 AS BIGINT)"
            ).alias("expected_kept"),
        )
    )


@register(
    "q_negative_pairs",
    tags=("pairs",),
    oracle="""
    WITH ranked AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rnk,
               COUNT(*) OVER () AS n
        FROM documents
    ),
    negs AS (
        SELECT a.doc_id AS anchor_id, a.rnk, a.n, j.j,
               (a.rnk + j.j * 7919) % a.n AS neg_rnk
        FROM ranked a CROSS JOIN (SELECT UNNEST([1, 2]) AS j) j
    )
    SELECT n.anchor_id, CAST(n.j AS INT) AS neg_idx, b.doc_id AS negative_id
    FROM negs n JOIN ranked b ON b.rnk = n.neg_rnk
    WHERE b.doc_id <> n.anchor_id
    """,
)
def q_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X138: deterministic negative sampling for contrastive training.

    Every document paired with 2 pseudo-random negatives chosen by
    modular stride over the dense rank domain: neg_rank = (rank +
    j*7919) mod n — reproducible on any engine, any partitioning, any
    run (the property torch-style random.choice negatives never have),
    and stride 7919 (prime) decorrelates neighbors. The dense rank
    comes from the two-pass cumulative operator; pairing is an
    equi-join on the computed rank — no randomness, no collect, no
    skew (every rank appears exactly twice on the build side).
    Self-pairs (possible when n divides the stride pattern) are
    dropped on both engines.
    """
    from laser_hadoop_spark.operators.cumulative import ordered_cumsum

    d = table(spark, sf_dir, "documents").select("doc_id")
    ranked = ordered_cumsum(d, order_by=["doc_id"], row_number_col="rn")
    n_tot = d.agg(F.count("*").alias("n"))
    ranked = ranked.crossJoin(F.broadcast(n_tot)).select(
        "doc_id", (F.col("rn") - 1).alias("rnk"), "n"
    )
    negs = ranked.select(
        F.col("doc_id").alias("anchor_id"),
        "rnk",
        "n",
        F.explode(F.array(F.lit(1), F.lit(2))).alias("j"),
    ).select(
        "anchor_id",
        F.col("j").cast("int").alias("neg_idx"),
        F.expr("(rnk + j * 7919) % n").alias("neg_rnk"),
    )
    b = ranked.select(F.col("rnk").alias("neg_rnk"), F.col("doc_id").alias("negative_id"))
    return (
        negs.join(b, "neg_rnk")
        .where(F.col("negative_id") != F.col("anchor_id"))
        .select("anchor_id", "neg_idx", "negative_id")
    )


@register(
    "q_train_split",
    oracle="""
    WITH assigned AS (
        SELECT doc_id, n_chars,
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 100 AS bucket
        FROM documents
    ),
    labeled AS (
        SELECT CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split,
               n_chars
        FROM assigned
    )
    SELECT split, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM labeled GROUP BY split
    """,
)
def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X139: reproducible hash-based train/val/test split (80/10/10).

    Split membership = md5(doc_id) mod 100 — stable across engines,
    runs, partitionings, and INSERTIONS (a new document never moves an
    old one between splits, which a rank-based split cannot promise).
    The audit output is per-split doc and char counts; the same bucket
    expression is the filter a training exporter would push to the
    scan. Scan-local hashing, one 3-group aggregate.
    """
    d = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 100
    )
    labeled = d.select(
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
        "n_chars",
    )
    return labeled.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )


@register(
    "q_containment_pairs",
    tags=("pairs",),
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id,
               UNNEST(list_transform(generate_series(1, len(t) - 2),
                                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                   AS g
        FROM toks WHERE len(t) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_g FROM grams GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        FROM grams a JOIN grams b
          ON a.g = b.g AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT s.doc_a, s.doc_b,
           CAST(s.n_shared AS BIGINT) AS n_shared,
           CAST(sa.n_g AS BIGINT) AS n_grams_a,
           CAST(s.n_shared * 10000 // sa.n_g AS BIGINT) AS containment_bp
    FROM shared s
    JOIN sizes sa ON sa.doc_id = s.doc_a
    WHERE s.n_shared * 10 >= sa.n_g * 9
    """,
)
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X142: asymmetric containment dedup (quote/subset detection).

    Pairs where >= 90% of document A's distinct 3-gram shingles appear
    in document B — the containment direction Jaccard misses entirely
    (a short document quoted inside a long one scores near-zero
    Jaccard but containment ~1; RefinedWeb-class pipelines need both).
    Candidates come from the shingle equi-join (the X-series dedup
    backbone: 8-byte-ish keys, never all-pairs); containment_bp is a
    truncating integer ratio against the CONTAINED side's shingle
    count. Asymmetric by construction: (a,b) and (b,a) are different
    rows with different thresholds.
    """
    d = table(spark, sf_dir, "documents").select("doc_id", "text").repartition(
        spark.sparkContext.defaultParallelism
    )
    t = F.split("text", " ")
    grams = (
        d.where(F.size(t) >= 3)
        .select("doc_id", F.explode(word_shingles("text", 3)).alias("g"))
        .hint("shuffle_hash")
    )
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n_g"))
    a = grams.alias("a")
    b = grams.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_g").alias("n_grams_a")
    )
    return (
        shared.join(sa, "doc_a")
        .where(F.col("n_shared") * 10 >= F.col("n_grams_a") * 9)
        .select(
            "doc_a",
            "doc_b",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.col("n_grams_a").cast("bigint").alias("n_grams_a"),
            F.expr(
                "CAST(n_shared * 10000 DIV n_grams_a AS BIGINT)"
            ).alias("containment_bp"),
        )
    )


@register(
    "q_shingle_novelty",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               md5(UNNEST(list_transform(generate_series(1, len(t) - 2),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS h
        FROM toks WHERE len(t) >= 3
    ),
    fs AS (SELECT h, MIN(doc_id) AS first_doc FROM sh GROUP BY h)
    SELECT s.doc_id, COUNT(*) AS n_shingles,
           CAST(10000 * SUM(CASE WHEN f.first_doc = s.doc_id
                                 THEN 1 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS novel_bp
    FROM sh s JOIN fs f ON f.h = s.h
    GROUP BY s.doc_id
    """,
)
def q_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X147: first-seen shingle novelty score per document.

    The memorization/redundancy curation signal: what fraction of a
    document's distinct 3-gram shingles appear in NO earlier document
    (doc_id order = ingestion order). Attribution is X37's first-seen
    pattern lifted to n-grams: MIN(doc_id) per shingle, joined back,
    counted in exact basis points. All shuffles move 32-byte md5
    digests (the same cross-engine hash every dedup query shares),
    never shingle text; at 100 TB this is two hash aggregates and one
    digest equi-join — the same shape as the X14 contamination check
    with the corpus on both sides.
    """
    d = table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    # Per-doc shingle dedup happens SCAN-LOCALLY (word_shingles ends in
    # array_distinct) — the naive explode-then-DISTINCT spelling
    # shuffles every (doc, 32-byte digest) pair just to dedup within
    # documents; array_distinct removes that whole exchange (only the
    # first-seen aggregate and the join-back shuffle remain). The raw
    # repartition is the PERF_NOTES small-file lesson: spread the
    # hashing across cores when the input is one sub-split file.
    sh = (
        d.select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
        .where(F.size(t) >= 3)
        .select(
            "doc_id",
            F.explode(F.transform(word_shingles("text", 3), F.md5)).alias("h"),
        )
    )
    fs = sh.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(fs, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.expr(
                "CAST(10000 * SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)"
                " DIV COUNT(*) AS BIGINT)"
            ).alias("novel_bp"),
        )
    )


_DSIR_TOKS = """
    toks AS (
        SELECT doc_id, lang,
               CAST(CAST(('0x' || substring(md5(UNNEST(string_split(text, ' '))), 1, 15))
                    AS BIGINT) % 256 AS INT) AS bucket
        FROM documents
    )
"""


@register(
    "q_dsir_weights",
    oracle="WITH "
    + _DSIR_TOKS
    + """,
    tagged AS (
        SELECT doc_id, bucket,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t
        FROM toks
    ),
    tot AS (
        SELECT SUM(is_t) AS n_t, SUM(1 - is_t) AS n_b FROM tagged
    ),
    counts AS (
        SELECT bucket, SUM(is_t) AS c_t, SUM(1 - is_t) AS c_b
        FROM tagged GROUP BY bucket
    ),
    delta AS (
        SELECT bucket,
               CAST(ROUND(LOG10(CAST(c_t + 1 AS DOUBLE) / (t.n_t + 256))
                          * 1000000) AS BIGINT)
               - CAST(ROUND(LOG10(CAST(c_b + 1 AS DOUBLE) / (t.n_b + 256))
                            * 1000000) AS BIGINT) AS delta_micro
        FROM counts CROSS JOIN tot t
    )
    SELECT g.doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(d.delta_micro) AS BIGINT) AS dsir_micro
    FROM tagged g JOIN delta d ON d.bucket = g.bucket
    GROUP BY g.doc_id
    """,
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X155: DSIR-style importance weights for data selection.

    Data Selection via Importance Resampling (Xie et al. 2023, public
    method): score every document by the hashed-n-gram log-likelihood
    ratio log p_target(doc) - log p_background(doc), here with unigram
    features over the 256-bucket md5 feature space (X71's hashing
    trick), target = English corpus slice, background = the rest.
    Documents scoring high read like the target distribution and win
    the sampling lottery (X13's quota sampler consumes the weights).
    Exactness: both smoothed bucket log10-likelihoods micro-round
    BEFORE the per-doc sum (X72's discipline), so each doc's weight is
    a pure bigint dot product. Plan: two scalar totals, one 256-row
    broadcast delta table, one token-bucket aggregate per doc — no
    vocabulary state, one fact-table shuffle.
    """
    d = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("token")), 1, 15), 16, 10).cast("bigint")
        % 256
    ).cast("int")
    tagged = d.select(
        "doc_id",
        (F.col("lang") == "en").cast("bigint").alias("is_t"),
        F.explode(F.split("text", " ")).alias("token"),
    ).select("doc_id", "is_t", bucket.alias("bucket"))
    tot = tagged.agg(
        F.sum("is_t").alias("n_t"), F.sum(1 - F.col("is_t")).alias("n_b")
    )
    counts = tagged.groupBy("bucket").agg(
        F.sum("is_t").alias("c_t"), F.sum(1 - F.col("is_t")).alias("c_b")
    )
    micro = lambda num, den: F.round(  # noqa: E731
        F.log10(num.cast("double") / den) * 1_000_000
    ).cast("bigint")
    delta = counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            micro(F.col("c_t") + 1, F.col("n_t") + 256)
            - micro(F.col("c_b") + 1, F.col("n_b") + 256)
        ).alias("delta_micro"),
    )
    return (
        tagged.join(F.broadcast(delta), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("delta_micro").cast("bigint").alias("dsir_micro"),
        )
    )


@register(
    "q_incremental_dedup",
    oracle=r"""
    WITH fp AS (
        SELECT doc_id,
               md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS f
        FROM documents
    ),
    old AS (SELECT DISTINCT f FROM fp WHERE doc_id < 250),
    new_docs AS (SELECT doc_id, f FROM fp WHERE doc_id >= 250),
    flagged AS (
        SELECT n.doc_id,
               CASE WHEN o.f IS NOT NULL THEN 1 ELSE 0 END AS dup_of_old,
               CASE WHEN EXISTS (
                   SELECT 1 FROM new_docs p
                   WHERE p.f = n.f AND p.doc_id < n.doc_id
               ) THEN 1 ELSE 0 END AS dup_within_new
        FROM new_docs n LEFT JOIN old o ON o.f = n.f
    )
    SELECT doc_id, CAST(dup_of_old AS INT) AS dup_of_old,
           CAST(dup_within_new AS INT) AS dup_within_new,
           CAST(CASE WHEN dup_of_old = 0 AND dup_within_new = 0
                     THEN 1 ELSE 0 END AS INT) AS keep
    FROM flagged
    """,
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X175: dedup a NEW ingest batch against the EXISTING corpus.

    The daily-ingest path L1 (full-corpus dedup) does not cover: new
    documents (doc_id >= 250 stand in for today's batch) must be
    checked (a) against the historical fingerprint set — a broadcast
    or bloom-pruned semi-join against a SMALL digest table, never a
    rescan of the 100 TB corpus — and (b) against EARLIER documents
    in the same batch (first-seen wins, the X147 attribution rule).
    Both checks ride on the 16-byte whitespace-normalized md5 of
    q_text_fingerprint, so the historical side stores digests only.
    keep = clean on both axes; the within-batch check is one
    MIN(doc_id) aggregate + join, not the oracle's quadratic EXISTS.
    """
    from laser_hadoop_spark.operators.dedup import normalized_fingerprint

    d = table(spark, sf_dir, "documents")
    fp = d.select("doc_id", normalized_fingerprint("text").alias("f"))
    old = fp.where(F.col("doc_id") < 250).select("f").distinct()
    new_docs = fp.where(F.col("doc_id") >= 250)
    first_new = new_docs.groupBy("f").agg(F.min("doc_id").alias("first_id"))
    flagged = (
        new_docs.join(
            F.broadcast(old.withColumn("__in_old", F.lit(1))), "f", "left"
        )
        .join(first_new, "f")
        .select(
            "doc_id",
            F.coalesce("__in_old", F.lit(0)).cast("int").alias("dup_of_old"),
            (F.col("doc_id") > F.col("first_id"))
            .cast("int")
            .alias("dup_within_new"),
        )
    )
    return flagged.select(
        "doc_id",
        "dup_of_old",
        "dup_within_new",
        (
            (F.col("dup_of_old") == 0) & (F.col("dup_within_new") == 0)
        )
        .cast("int")
        .alias("keep"),
    )


@register(
    "q_cross_source_dupes",
    oracle="""
    WITH toks AS (
        SELECT source, string_split(text, ' ') AS t FROM documents
    ),
    sh AS (
        SELECT DISTINCT source,
               md5(UNNEST(list_transform(generate_series(1, len(t) - 2),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS h
        FROM toks WHERE len(t) >= 3
    ),
    per_n AS (SELECT source, COUNT(*) AS n_sh FROM sh GROUP BY source),
    pairs AS (
        SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS shared
        FROM sh a JOIN sh b ON b.h = a.h AND b.source > a.source
        GROUP BY a.source, b.source
    )
    SELECT p.src_a, p.src_b, CAST(p.shared AS BIGINT) AS n_shared_shingles,
           CAST(10000 * p.shared // LEAST(na.n_sh, nb.n_sh) AS BIGINT)
               AS containment_bp
    FROM pairs p
    JOIN per_n na ON na.source = p.src_a
    JOIN per_n nb ON nb.source = p.src_b
    """,
)
def q_cross_source_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X187: cross-source n-gram overlap audit (boilerplate leakage).

    Which SOURCE PAIRS share 3-gram shingles — the mirror-site /
    shared-template signal that within-corpus dedup totals (L1) and
    per-source quality profiles (X169) both hide (this corpus has zero
    exact cross-source duplicates, but plenty of shared phrasing — the
    realistic case). Shingles dedup to the (source, digest) level
    SCAN-LOCALLY (array_distinct before explode, the X147 lesson),
    the pair join keys on 16-byte digests with fanout bounded by
    sources-per-shingle^2 (|sources| = 20 here; at extreme source
    counts the X69 rare-token prefix filter applies), and the
    containment share normalizes by the smaller side's shingle
    vocabulary, exact bp.
    """
    d = table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    sh = (
        d.select("source", "text")
        .repartition(d.sparkSession.sparkContext.defaultParallelism)
        .where(F.size(t) >= 3)
        .select(
            "source",
            F.explode(F.transform(word_shingles("text", 3), F.md5)).alias("h"),
        )
        .distinct()
        # pinned: consumed three times (per_n + both self-join sides) —
        # without the pin the explode+md5+distinct recomputes per
        # subtree (the q_binary_segmentation multi-consumer discipline)
        .localCheckpoint(eager=False)
    )
    per_n = sh.groupBy("source").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.h") == F.col("a.h"))
            & (F.col("b.source") > F.col("a.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").alias("shared"))
    )
    na = per_n.select(F.col("source").alias("src_a"), F.col("n_sh").alias("na"))
    nb = per_n.select(F.col("source").alias("src_b"), F.col("n_sh").alias("nb"))
    return (
        pairs.join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("shared").cast("bigint").alias("n_shared_shingles"),
            F.expr(
                "CAST(10000 * shared DIV LEAST(na, nb) AS BIGINT)"
            ).alias("containment_bp"),
        )
    )


@register(
    "q_ingest_drift",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               NTILE(10) OVER (ORDER BY doc_id) AS decile,
               len(string_split(text, ' ')) AS n_words,
               len(replace(text, ' ', '')) AS n_chars
        FROM documents
    ),
    f AS (
        SELECT decile,
               CASE WHEN n_words >= 50 AND n_words <= 100000
                    THEN 1 ELSE 0 END AS ok_wc,
               CASE WHEN 3 * n_words <= n_chars AND n_chars <= 10 * n_words
                    THEN 1 ELSE 0 END AS ok_mwl,
               n_words
        FROM m
    )
    SELECT CAST(decile AS INT) AS decile, COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS words,
           CAST(10000 * SUM(ok_wc) // COUNT(*) AS BIGINT) AS wc_pass_bp,
           CAST(10000 * SUM(ok_mwl) // COUNT(*) AS BIGINT) AS mwl_pass_bp
    FROM f GROUP BY decile
    """,
)
def q_ingest_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X194: ingestion drift monitor (quality pass rates by arrival
    decile).

    The X162 quality gates as a TREND: doc_id order stands in for
    ingestion order (the X147/X175 convention), docs bucket into ten
    equal-count arrival deciles via X118's closed-form ntile over the
    two-pass global rank, and each decile reports its rule pass rates
    in exact bp. A degrading crawl shows as a pass-rate slope long
    before the corpus-wide average moves — the alerting input for the
    X180 ingest plan's quality counter. One scan + the two-pass rank
    + one aggregate.
    """
    from laser_hadoop_spark.operators.cumulative import (
        closed_form_ntile,
        ordered_cumsum,
    )

    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    base = d.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).alias(
            "n_chars"
        ),
    )
    ranked = ordered_cumsum(base, order_by=["doc_id"], row_number_col="rn")
    n_row = base.agg(F.count("*").alias("n"))
    decile = closed_form_ntile()
    f = ranked.crossJoin(F.broadcast(n_row)).select(
        decile.cast("int").alias("decile"),
        "n_words",
        ((F.col("n_words") >= 50) & (F.col("n_words") <= 100000))
        .cast("int")
        .alias("ok_wc"),
        (
            (3 * F.col("n_words") <= F.col("n_chars"))
            & (F.col("n_chars") <= 10 * F.col("n_words"))
        )
        .cast("int")
        .alias("ok_mwl"),
    )
    return f.groupBy("decile").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("words"),
        F.expr("CAST(10000 * SUM(ok_wc) DIV COUNT(*) AS BIGINT)").alias(
            "wc_pass_bp"
        ),
        F.expr("CAST(10000 * SUM(ok_mwl) DIV COUNT(*) AS BIGINT)").alias(
            "mwl_pass_bp"
        ),
    )


@register(
    "q_minhash_accuracy",
    tags=("pairs",),
    oracle=f"""
    WITH pairs AS (SELECT * FROM ({_minhash_band_sql()}) q),
    toks2 AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    sh2 AS (
        SELECT DISTINCT doc_id,
               UNNEST(list_transform(generate_series(1, len(t) - 2),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        FROM toks2 WHERE len(t) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh2 GROUP BY doc_id),
    inter AS (
        SELECT p.doc_a, p.doc_b, p.est_jaccard_bp, COUNT(*) AS i
        FROM pairs p
        JOIN sh2 a ON a.doc_id = p.doc_a
        JOIN sh2 b ON b.doc_id = p.doc_b AND b.s = a.s
        GROUP BY p.doc_a, p.doc_b, p.est_jaccard_bp
    ),
    err AS (
        SELECT ABS(x.est_jaccard_bp
                   - 10000 * x.i // (sa.n + sb.n - x.i)) AS e
        FROM inter x
        JOIN sizes sa ON sa.doc_id = x.doc_a
        JOIN sizes sb ON sb.doc_id = x.doc_b
    )
    SELECT COUNT(*) AS n_pairs,
           CAST(SUM(e) // COUNT(*) AS BIGINT) AS mean_abs_err_bp,
           CAST(MAX(e) AS BIGINT) AS max_abs_err_bp,
           CAST(SUM(CASE WHEN e <= 1250 THEN 1 ELSE 0 END) AS BIGINT)
               AS within_one_seed
    FROM err
    """,
)
def q_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X203: MinHash estimator accuracy on its own LSH candidates.

    The audit the approximate-dedup stack owes its users: for every
    X135 band-collision pair, |estimated - exact| Jaccard in bp, with
    the exact value from the definitional shingle-set intersection
    (10000*|A and B| DIV |A or B|). An 8-seed signature quantizes the
    estimate to 1250-bp steps, so `within_one_seed` counts pairs
    inside one quantum — the theoretically-expected band. Exactness:
    candidate shingles join on RAW shingle strings (set identity needs
    equality only); the summary row is pure integer arithmetic, so
    the estimator's measured error itself is hash-verified
    cross-engine. Scale shape: the intersection join is restricted to
    LSH candidates (never all pairs), and the per-doc shingle sets
    dedup scan-locally before exploding.
    """
    pairs = q_minhash_band_pairs(spark, sf_dir)
    d = table(spark, sf_dir, "documents")
    # short docs yield an empty shingle array and drop at the explode
    sh = (
        d.select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.explode(word_shingles("text", 3)).alias("s"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "s")
    b = sh.select(F.col("doc_id").alias("doc_b2"), F.col("s").alias("s_b"))
    inter = (
        pairs.join(a, "doc_a")
        .join(
            b,
            (F.col("doc_b") == F.col("doc_b2"))
            & (F.col("s") == F.col("s_b")),
        )
        .groupBy("doc_a", "doc_b", "est_jaccard_bp")
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    err = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.abs(
                F.col("est_jaccard_bp")
                - F.expr("10000 * i DIV (na + nb - i)")
            ).alias("e")
        )
    )
    return err.agg(
        F.count("*").alias("n_pairs"),
        F.expr("CAST(SUM(e) DIV COUNT(*) AS BIGINT)").alias(
            "mean_abs_err_bp"
        ),
        F.max("e").cast("bigint").alias("max_abs_err_bp"),
        F.sum(F.when(F.col("e") <= 1250, 1).otherwise(0))
        .cast("bigint")
        .alias("within_one_seed"),
    )


# --- X210: deterministic weighted sample -----------------------------------

_SAMPLE_K = 10


@register(
    "q_weighted_sample",
    oracle=f"""
    WITH recs AS (
        SELECT c_custkey AS id, c_mktsegment AS seg,
               GREATEST(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT), 1) AS w,
               ('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT
                   AS h
        FROM customer
    ),
    ranked AS (
        SELECT seg, id, h // w AS priority,
               ROW_NUMBER() OVER (PARTITION BY seg
                                  ORDER BY h // w, id) AS rk
        FROM recs
    )
    SELECT seg, id, CAST(priority AS BIGINT) AS priority, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= {_SAMPLE_K}
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X210: deterministic weighted sampling (per-stratum k smallest
    priority = hash DIV weight).

    Weight-biased reproducible selection: a 60-bit md5 priority
    divided by the row's integer weight makes heavy rows
    proportionally likelier to rank early, with NO RNG state — the
    sample is a pure function of the data, stable under re-runs,
    insertion order, and partitioning (the property X139's hash split
    relies on; seeded samplers like X13's sampleBy are rows-only by
    nature). Ties broken by id.

    100 TB: one window partitioned by stratum; at extreme stratum
    cardinality skew the two-level salted top-k (X157) substitutes.
    """
    c = table(spark, sf_dir, "customer")
    recs = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_mktsegment").alias("seg"),
        F.greatest(
            F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("bigint"),
            F.lit(1),
        ).alias("w"),
        F.expr(
            "CAST(conv(substring(md5(CAST(c_custkey AS STRING)), 1, 15), 16, 10) "
            "AS BIGINT)"
        ).alias("h"),
    )
    ranked = recs.select(
        "seg",
        "id",
        F.expr("h DIV w").alias("priority"),
        F.row_number()
        .over(Window.partitionBy("seg").orderBy(F.expr("h DIV w"), F.col("id")))
        .alias("rk"),
    )
    return ranked.where(F.col("rk") <= _SAMPLE_K).select(
        "seg", "id", F.col("priority").cast("bigint"), F.col("rk").cast("int")
    )


# --- X222: canonical-survivor selection after transitive dedup -------------

_SURV_THRESHOLD = 0.8
_PACK = 100_000_000


@register(
    "q_dedup_survivors",
    oracle=f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), shingles AS (
        SELECT DISTINCT doc_id,
               UNNEST(list_transform(generate_series(1, len(t) - 2),
                                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                   AS shingle
        FROM toks
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id
    ), cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), edges AS (
        SELECT doc_a, doc_b
        FROM cand
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE n_common * 1.0 / (sa.n + sb.n - n_common) > {_SURV_THRESHOLD}
    ), sym AS (
        SELECT doc_a AS a, doc_b AS b FROM edges
        UNION SELECT doc_b, doc_a FROM edges
    ), walk AS (
        SELECT a AS node, a AS comp FROM sym
        UNION
        SELECT s.a, w.comp FROM sym s JOIN walk w ON s.b = w.node
    ), clus AS (
        SELECT node AS doc_id, MIN(comp) AS cid FROM walk GROUP BY node
    ), members AS (
        SELECT d.doc_id, d.source, COALESCE(c.cid, d.doc_id) AS cid,
               d.n_chars * {_PACK} + ({_PACK} - 1 - d.doc_id) AS packed
        FROM documents d LEFT JOIN clus c ON c.doc_id = d.doc_id
    ), winners AS (
        SELECT cid, {_PACK} - 1 - MAX(packed) % {_PACK} AS surv_id
        FROM members GROUP BY cid
    )
    SELECT m.source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN w.surv_id = m.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_survivors,
           CAST(SUM(CASE WHEN w.surv_id = m.doc_id THEN 0 ELSE 1 END)
                AS BIGINT) AS n_dropped
    FROM members m JOIN winners w ON w.cid = m.cid
    GROUP BY m.source
    """,
)
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X222: canonical-survivor selection after transitive dedup, with
    the per-source retention census.

    The last mile of the near-dup pipeline that X12 stops short of:
    3-gram Jaccard pairs -> connected components -> per cluster keep
    the HIGHEST-QUALITY member (longest text, ties to smallest id; the
    argmax is one integer MAX over packed n_chars*1e8 + (1e8 - id), no
    join-back), singletons survive by definition; census per source of
    kept vs dropped — the number a curation run actually reports.

    100 TB: clusters come from the banded pair-join (digests on the
    wire) + min-label propagation; the winner pick is ONE aggregate on
    the cluster key and the census one more on source — no step holds a
    cluster's texts in memory.
    """
    from laser_hadoop_spark.operators.dedup import ngram_jaccard_pairs
    from laser_hadoop_spark.operators.graph import dedup_clusters

    d = table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, id_col="doc_id", text_col="text", n=3, threshold=_SURV_THRESHOLD
    )
    clusters = dedup_clusters(pairs).select("doc_id", "cluster_id")
    members = (
        d.select("doc_id", "source", "n_chars")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("cluster_id", "doc_id").alias("cid"),
            (
                F.col("n_chars") * _PACK + (F.lit(_PACK - 1) - F.col("doc_id"))
            ).alias("packed"),
        )
    )
    winners = members.groupBy("cid").agg(
        (F.lit(_PACK - 1) - F.max("packed") % _PACK).alias("surv_id")
    )
    kept = F.when(F.col("surv_id") == F.col("doc_id"), 1).otherwise(0)
    return (
        members.join(winners, "cid")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(kept).alias("n_survivors"),
            F.sum(1 - kept).alias("n_dropped"),
        )
    )


# --- X223: greedy set-cover corpus selection -------------------------------


def _setcover_oracle() -> str:
    head = """
    WITH toks AS (
        SELECT source, string_split(text, ' ') AS t FROM documents
    ), flat AS (
        SELECT source,
               UNNEST(list_transform(generate_series(1, len(t) - 2),
                                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                   AS s
        FROM toks
    ), r1 AS (
        SELECT DISTINCT source, md5(s) AS sh FROM flat
    )"""
    steps = []
    for t in (1, 2, 3):
        prev = f"r{t}"
        steps.append(
            f"""
    w{t} AS (
        SELECT source, COUNT(*) AS c FROM {prev} GROUP BY source
        ORDER BY c DESC, source LIMIT 1
    )"""
        )
        if t < 3:
            steps.append(
                f"""
    cov{t} AS (
        SELECT DISTINCT x.sh FROM {prev} x JOIN w{t} USING (source)
    ),
    r{t + 1} AS (
        SELECT r.* FROM {prev} r
        WHERE NOT EXISTS (SELECT 1 FROM cov{t} c WHERE c.sh = r.sh)
    )"""
            )
    return (
        head
        + ","
        + ",".join(steps)
        + """
    SELECT 1 AS step, w1.source, CAST(w1.c AS BIGINT) AS n_new_covered,
           CAST(w1.c AS BIGINT) AS cum_covered
    FROM w1
    UNION ALL
    SELECT 2, w2.source, CAST(w2.c AS BIGINT), CAST(w1.c + w2.c AS BIGINT)
    FROM w1, w2
    UNION ALL
    SELECT 3, w3.source, CAST(w3.c AS BIGINT),
           CAST(w1.c + w2.c + w3.c AS BIGINT)
    FROM w1, w2, w3
    """
    )


@register("q_set_cover", oracle=_setcover_oracle())
def q_set_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X223: greedy set-cover corpus selection, three exactly-verified
    iterations.

    The coverage-driven data-selection loop: each round picks the
    SOURCE whose documents cover the most not-yet-covered 3-gram
    shingles (ties to source name), then removes everything it covers.
    This is the greedy (1-1/e)-approximation every corpus-dedup /
    budget-selection pipeline runs; three unrolled rounds under X50's
    verified-iteration discipline, reporting marginal and cumulative
    coverage per pick.

    100 TB: the live relation is (source, 16-byte shingle digest)
    DISTINCT — digests on the wire, never text; each round is one
    per-source count, a 1-row winner broadcast, and one anti-join that
    only ever SHRINKS the relation; lineage is truncated per round.
    """
    d = table(spark, sf_dir, "documents")
    r = (
        d.select("source", F.explode(word_shingles("text", 3)).alias("s"))
        .select("source", F.md5("s").alias("sh"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    winners = []
    for step in (1, 2, 3):
        w = (
            r.groupBy("source")
            .agg(F.count("*").alias("c"))
            .orderBy(F.desc("c"), "source")
            .limit(1)
            .localCheckpoint(eager=True)
        )
        winners.append(w)
        if step < 3:
            cov = r.join(F.broadcast(w.select("source")), "source").select("sh")
            r = r.join(cov, "sh", "left_anti").localCheckpoint(eager=True)
    w1, w2, w3 = (
        w.select(
            F.col("source").alias(f"s{i+1}"), F.col("c").alias(f"c{i+1}")
        )
        for i, w in enumerate(winners)
    )
    base = w1.crossJoin(w2).crossJoin(w3)
    rows = [
        base.select(
            F.lit(1).alias("step"),
            F.col("s1").alias("source"),
            F.col("c1").cast("bigint").alias("n_new_covered"),
            F.col("c1").cast("bigint").alias("cum_covered"),
        ),
        base.select(
            F.lit(2).alias("step"),
            F.col("s2").alias("source"),
            F.col("c2").cast("bigint").alias("n_new_covered"),
            (F.col("c1") + F.col("c2")).cast("bigint").alias("cum_covered"),
        ),
        base.select(
            F.lit(3).alias("step"),
            F.col("s3").alias("source"),
            F.col("c3").cast("bigint").alias("n_new_covered"),
            (F.col("c1") + F.col("c2") + F.col("c3"))
            .cast("bigint")
            .alias("cum_covered"),
        ),
    ]
    out = rows[0]
    for df in rows[1:]:
        out = out.unionByName(df)
    return out


# --- X294: duplicated-span census --------------------------------------------

_SPAN_GRAM = 20
_SPAN_TOP = 25


@register(
    "q_dup_spans",
    tags=("pairs",),
    oracle=f"""
    WITH grams AS (
        SELECT doc_id, g.i AS pos,
               substr(text, g.i, {_SPAN_GRAM}) AS gram
        FROM documents,
             UNNEST(generate_series(
                 1, GREATEST(len(text) - {_SPAN_GRAM} + 1, 0))) AS g(i)
    ),
    dup_grams AS (
        SELECT gram FROM grams
        GROUP BY gram HAVING COUNT(DISTINCT doc_id) > 1
    ),
    hits AS (
        SELECT g.doc_id, g.pos FROM grams g
        JOIN dup_grams d ON d.gram = g.gram
    ),
    islands AS (
        SELECT doc_id, pos,
               CASE WHEN pos <= MAX(pos + {_SPAN_GRAM} - 1) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 0 ELSE 1 END AS is_start
        FROM hits
    ),
    spans AS (
        SELECT doc_id, pos,
               SUM(is_start) OVER (PARTITION BY doc_id ORDER BY pos)
                   AS span_id
        FROM islands
    ),
    sized AS (
        SELECT doc_id, span_id,
               MAX(pos) - MIN(pos) + {_SPAN_GRAM} AS span_chars
        FROM spans GROUP BY doc_id, span_id
    ),
    per_doc AS (
        SELECT s.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(span_chars) AS BIGINT) AS dup_chars,
               CAST(MAX(span_chars) AS BIGINT) AS longest_span
        FROM sized s GROUP BY s.doc_id
    )
    SELECT p.doc_id, n_spans, dup_chars, longest_span,
           CAST(dup_chars * 10000 // d.n_chars AS BIGINT) AS dup_ratio_bp
    FROM per_doc p JOIN documents d ON d.doc_id = p.doc_id
    ORDER BY dup_chars DESC, p.doc_id LIMIT {_SPAN_TOP}
    """,
)
def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X294: duplicated-span census — bounded-window exact substring dedup.

    The windowed form of suffix-array substring deduplication (Lee et
    al. 2022): every char 20-gram that occurs in MORE THAN ONE doc
    marks its positions; per doc, overlapping marked windows merge
    into maximal spans via gaps-and-islands (a span starts where the
    running max of previous window-ends can't reach), giving per-doc
    removable-duplicate char totals and a dup-ratio gate in basis
    points. X26's repetition ratio is within-doc; this is the
    cross-doc substring census the suffix-array pipeline feeds dedup.

    100 TB: gram extraction is scan-local (spread_scan's repartition
    is a no-op once the scan has >= cores splits); the only full
    shuffle carries (hash(gram), doc_id, pos) — 20-byte windows
    reduced to 8-byte xxhash64 fingerprints, never text (collision
    odds over corpus-scale gram counts are the standard 2^-64 regime,
    and the oracle's string-keyed check pins exactness at test scale).
    The duplicate-gram filter is a vectorized per-partition kernel
    over that single exchange (round 13 — the stream is exploded and
    hashed ONCE; the r12 aggregate+semi-join form consumed it twice);
    span merging is a per-doc window over hit positions only.
    """
    d = table(spark, sf_dir, "documents")
    # Round 13: the gram explode + per-char xxhash64 is the query's
    # dominant compute and it sat on the scan stage — ONE task on the
    # single-row-group test parquet (measured 1.83 s of the 3.5 s).
    # spread_scan parallelizes it across cores; guarded no-op at
    # corpus scale (see tables.spread_scan).
    grams = spread_scan(d.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        F.posexplode(
            F.expr(
                # Guard: sequence(1, 0) DESCENDS in Spark ([1, 0]); a doc
                # shorter than the gram width must emit zero grams (the
                # DuckDB oracle's generate_series(1, n) is empty for n < 1).
                #
                # Round 12: xxhash64 runs INSIDE the transform, so the
                # exploded array is long[] — the generator and both its
                # consumers stream 8-byte fingerprints instead of 20-char
                # strings hashed in a later Project (guide §2.3 narrower
                # types; with the min/max dup test below: 3.77 -> 3.24 s
                # at sf0.1).
                f"transform(CASE WHEN length(text) >= {_SPAN_GRAM}"
                f"               THEN sequence(1, length(text) - {_SPAN_GRAM} + 1)"
                f"               ELSE array() END,"
                f" i -> xxhash64(substring(text, i, {_SPAN_GRAM})))"
            )
        ).alias("idx", "gram_h"),
    ).select(
        "doc_id",
        (F.col("idx") + 1).alias("pos"),
        "gram_h",
    )
    # Round 13 (guide §2.4 remove shuffles outright / §4.2 batch the
    # boundary): the r12 form consumed the gram stream TWICE — a
    # min/max dup-set aggregate plus a shuffle_hash semi-join probe —
    # so the explode + xxhash64 pass over every character ran twice
    # and the stream crossed two exchanges (grams by gram_h + the
    # partial-agg relation). Here the stream is exploded ONCE, crosses
    # ONE hash exchange on gram_h, and the "gram appears in >1 doc"
    # test runs as a vectorized per-partition numpy kernel: lexsort by
    # (gram_h, doc_id), a run of equal hashes is duplicated iff its
    # first and last doc differ (docs are sorted within the run — the
    # same min!=max test as the r12 aggregate). Measured 3.69 ->
    # 2.42 s noop best-of-3 at sf0.1 (plan: 2 Generate -> 1,
    # 3 Exchange -> 2, semi-join gone); hash-green vs the DuckDB
    # oracle at sf0.001/0.01/0.1.
    #
    # Partition-output determinism: a row's emission depends only on
    # the global multiset of (gram_h, doc_id) pairs sharing its hash —
    # all of which land in its partition — never on batch or partition
    # boundaries. The kernel holds one partition's gram slice
    # (~24 B/row); adaptive_kernel_partitions bounds that slice by
    # bytes at corpus scale (x24: Catalyst's estimate is the text scan
    # size, the gram stream is ~24 bytes per character) while pinning
    # the r12 defaultParallelism floor here, where AQE coalescing
    # would serialize the kernel stage.
    from laser_hadoop_spark.session import adaptive_kernel_partitions

    n_part = adaptive_kernel_partitions(grams, multiplier=24.0)

    def dup_hits(it):
        import pandas as pd

        chunks = [pdf for pdf in it if len(pdf)]
        if not chunks:
            return
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        gh = pdf["gram_h"].values
        doc = pdf["doc_id"].values
        order = np.lexsort((doc, gh))
        gh_s = gh[order]
        doc_s = doc[order]
        new_run = np.empty(len(gh_s), dtype=bool)
        new_run[0] = True
        np.not_equal(gh_s[1:], gh_s[:-1], out=new_run[1:])
        starts = np.flatnonzero(new_run)
        ends = np.concatenate((starts[1:], [len(gh_s)]))  # exclusive
        dup = doc_s[starts] != doc_s[ends - 1]
        sel = order[dup[np.cumsum(new_run) - 1]]
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].values[sel], "pos": pdf["pos"].values[sel]}
        )

    hits = grams.repartition(n_part, "gram_h").mapInPandas(
        dup_hits, "doc_id bigint, pos int"
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = hits.select(
        "doc_id",
        "pos",
        F.when(
            F.col("pos") <= F.max(F.col("pos") + _SPAN_GRAM - 1).over(w_prev),
            0,
        )
        .otherwise(1)
        .alias("is_start"),
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    spans = islands.select(
        "doc_id", "pos", F.sum("is_start").over(w_run).alias("span_id")
    )
    sized = spans.groupBy("doc_id", "span_id").agg(
        (F.max("pos") - F.min("pos") + _SPAN_GRAM).alias("span_chars")
    )
    per_doc = sized.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum("span_chars").cast("bigint").alias("dup_chars"),
        F.max("span_chars").cast("bigint").alias("longest_span"),
    )
    dc = F.col("dup_chars") * 10000
    joined = per_doc.join(d.select("doc_id", "n_chars"), "doc_id")
    return (
        joined.select(
            "doc_id",
            "n_spans",
            "dup_chars",
            "longest_span",
            ((dc - dc % F.col("n_chars")) / F.col("n_chars"))
            .cast("bigint")
            .alias("dup_ratio_bp"),
        )
        .orderBy(F.desc("dup_chars"), "doc_id")
        .limit(_SPAN_TOP)
    )


# --- X311: temperature-scaled mixture weights --------------------------------


@register(
    "q_temperature_mixture",
    oracle="""
    WITH src AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    powed AS (
        SELECT source, n_docs, n_tokens,
               CAST(ROUND(1000000 * SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT)
                   AS pow_micro
        FROM src
    ),
    tot AS (SELECT SUM(pow_micro) AS t, SUM(n_tokens) AS tok FROM powed)
    SELECT source, n_docs, n_tokens,
           CAST(n_tokens * 10000 // tok AS BIGINT) AS raw_share_bp,
           CAST(pow_micro * 10000 // t AS BIGINT) AS temp_share_bp
    FROM powed CROSS JOIN tot ORDER BY source
    """,
)
def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X311: temperature-scaled sampling weights, alpha = 1/2.

    The multilingual/multi-source smoothing every large LM mixture
    uses (sample source s proportional to n_s^alpha): alpha < 1
    up-weights tail sources so low-resource data isn't drowned.
    Each source's n_tokens^0.5 micro-rounds once; the normalized
    shares are integer basis points against the exact integer total —
    reported next to the raw (alpha=1) shares so the table shows what
    the temperature moved. X136's DSIR reweighting targets a
    DISTRIBUTION; this is the simpler power-law knob.

    100 TB: one partial-aggregated source census (bounded by
    |sources|), then constant-size arithmetic.
    """
    d = table(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " ")))
        .cast("bigint")
        .alias("n_tokens"),
    )
    # |sources|-row relation probed twice (total + shares) —
    # checkpoint so the fact-scale token census runs once
    powed = src.select(
        "*",
        F.round(1000000 * F.sqrt(F.col("n_tokens").cast("double")))
        .cast("bigint")
        .alias("pow_micro"),
    ).localCheckpoint(eager=True)
    tot = powed.agg(
        F.sum("pow_micro").alias("t"), F.sum("n_tokens").alias("tok")
    )
    raw = F.col("n_tokens") * 10000
    tmp = F.col("pow_micro") * 10000
    return (
        powed.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            ((raw - raw % F.col("tok")) / F.col("tok"))
            .cast("bigint")
            .alias("raw_share_bp"),
            ((tmp - tmp % F.col("t")) / F.col("t"))
            .cast("bigint")
            .alias("temp_share_bp"),
        )
        .orderBy("source")
    )


# --- X312: packing-boundary audit --------------------------------------------

_PACK_CONTEXTS = (512, 1024, 2048, 4096)


@register(
    "q_pack_boundaries",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        FROM documents
    ),
    cum AS (
        SELECT doc_id, n,
               SUM(n) OVER (ORDER BY doc_id) AS cend
        FROM toks
    ),
    ctx AS (SELECT UNNEST(ARRAY{list(_PACK_CONTEXTS)}) AS l),
    audited AS (
        SELECT c.l, t.n, t.cend - t.n AS cstart, t.cend
        FROM cum t CROSS JOIN ctx c
    )
    SELECT CAST(l AS BIGINT) AS context_len,
           CAST(SUM(n) AS BIGINT) AS total_tokens,
           CAST((SUM(n) + l - 1) // l AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN n > 0
                          AND cstart // l < (cend - 1) // l
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
           CAST(((SUM(n) + l - 1) // l) * l - SUM(n) AS BIGINT)
               AS waste_tokens
    FROM audited GROUP BY l ORDER BY l
    """,
)
def q_pack_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X312: concatenate-and-chunk packing economics, audited exactly.

    The packing every pretraining pipeline actually runs (concatenate
    docs in corpus order, slice into fixed context windows) has two
    costs: terminal padding waste and documents SPLIT across a chunk
    boundary (whose truncated halves train on broken context). Both
    are closed-form from one global token cumulative: doc [start,end)
    crosses a boundary iff start DIV L < (end-1) DIV L. Audited at
    four context lengths from the SAME cumulative — no packing
    simulation, no per-L pass. X44 packs sequences; this prices the
    packing before you run it.

    100 TB: one scan-local token count, one two-pass cumulative
    (ordered_cumsum — no single-partition window), then a 4-wide
    literal cross join and a 4-row aggregate.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n")
    )
    cum = ordered_cumsum(toks, order_by=["doc_id"], values={"n": "cend"})
    ctx = _ctx_lengths(spark)
    audited = cum.crossJoin(F.broadcast(ctx)).select(
        "l", "n", (F.col("cend") - F.col("n")).alias("cstart"), "cend"
    )
    ln = F.col("l")
    total = F.sum("n")
    chunks = (total + ln - 1) - (total + ln - 1) % ln
    split = F.sum(
        F.when(
            (F.col("n") > 0)
            & (
                F.col("cstart") - F.col("cstart") % ln
                < (F.col("cend") - 1) - (F.col("cend") - 1) % ln
            ),
            1,
        ).otherwise(0)
    )
    return (
        audited.groupBy("l")
        .agg(
            total.cast("bigint").alias("total_tokens"),
            (chunks / ln).cast("bigint").alias("n_chunks"),
            split.cast("bigint").alias("n_split_docs"),
            (chunks - total).cast("bigint").alias("waste_tokens"),
        )
        .select(
            F.col("l").cast("bigint").alias("context_len"),
            "total_tokens",
            "n_chunks",
            "n_split_docs",
            "waste_tokens",
        )
        .orderBy("context_len")
    )


def _ctx_lengths(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(int(lv),) for lv in _PACK_CONTEXTS], "l bigint"
    )


# --- X344: split-document stitch join ----------------------------------------


@register(
    "q_doc_stitch",
    oracle="""
    WITH t AS (
        SELECT doc_id, source, string_split(text, ' ') AS toks
        FROM documents
    ),
    ends AS (
        SELECT doc_id, source,
               array_to_string(toks[-3:], ' ') AS tail3,
               array_to_string(toks[1:3], ' ') AS head3,
               len(toks) AS n_toks
        FROM t
        WHERE len(toks) >= 3
    )
    SELECT a.doc_id AS left_id, b.doc_id AS right_id,
           a.tail3 AS shingle,
           CAST(a.n_toks + b.n_toks AS BIGINT) AS stitched_tokens,
           CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS same_source
    FROM ends a JOIN ends b
      ON b.head3 = a.tail3 AND b.doc_id <> a.doc_id
    ORDER BY left_id, right_id
    """,
)
def q_doc_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X344: split-document stitch candidates via boundary shingles.

    A doc pair (a, b) is a stitch candidate when a's trailing 3-token
    shingle equals b's leading one — the signature a chunker (X8)
    leaves when it splits a document mid-stream. Re-joining such pairs
    before training removes artificial context breaks; the same-source
    flag separates true splits from cross-source coincidences. Pure
    equi-join on the boundary shingle (each doc contributes ONE head
    key and ONE tail key — never an n-gram explosion), so candidates
    scale with real matches, not with corpus size squared.

    100 TB: scan-local shingle extraction; one shuffle on the
    boundary-shingle key; skew-safe because a repeated boilerplate
    boundary fans out only within its own key.
    """
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    # Docs shorter than one full shingle are excluded on BOTH sides (and in
    # the oracle): Spark's slice(toks, -3, 3) returns [] for len < 3 while
    # DuckDB's toks[-3:] returns the whole list, and an empty-string tail3
    # would fabricate stitch pairs between unrelated short docs.
    ends = d.select(
        "doc_id",
        "source",
        F.concat_ws(" ", F.slice(toks, -3, 3)).alias("tail3"),
        F.concat_ws(" ", F.slice(toks, 1, 3)).alias("head3"),
        F.size(toks).alias("n_toks"),
    ).where(F.size(toks) >= 3)
    a = ends.alias("a")
    b = ends.select(
        F.col("doc_id").alias("b_id"),
        F.col("source").alias("b_source"),
        F.col("head3").alias("b_head3"),
        F.col("n_toks").alias("b_n_toks"),
    )
    return (
        a.join(
            b,
            (F.col("b_head3") == F.col("a.tail3"))
            & (F.col("b_id") != F.col("a.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("left_id"),
            F.col("b_id").alias("right_id"),
            F.col("a.tail3").alias("shingle"),
            (F.col("a.n_toks") + F.col("b_n_toks"))
            .cast("bigint")
            .alias("stitched_tokens"),
            F.when(F.col("a.source") == F.col("b_source"), 1)
            .otherwise(0)
            .alias("same_source"),
        )
        .orderBy("left_id", "right_id")
    )


# --- X367: MinHash-LSH s-curve calibration audit -----------------------------------

def _scurve_oracle() -> str:
    seeds = ", ".join(str(s) for s in range(MINHASH_SEEDS))
    band_rows = "\n        UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, s{2 * b} || '|' || s{2 * b + 1} AS bv"
        " FROM wide"
        for b in range(MINHASH_BANDS)
    )
    sig_cols = ",\n               ".join(
        f"MIN(CASE WHEN seed = {s} THEN mh END) AS s{s}" for s in range(MINHASH_SEEDS)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               UNNEST(list_transform(generate_series(1, len(t) - 2),
                                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                   AS shingle
        FROM toks WHERE len(t) >= 3
    ),
    shd AS (SELECT doc_id, md5(shingle) AS g FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        FROM shd a JOIN shd b ON b.g = a.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT x.doc_a, x.doc_b,
               x.i * 10000 // (sa.n + sb.n - x.i) AS j_bp
        FROM inter x
        JOIN sizes sa ON sa.doc_id = x.doc_a
        JOIN sizes sb ON sb.doc_id = x.doc_b
    ),
    sigs AS (
        SELECT doc_id, seed,
               MIN(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS mh
        FROM sh CROSS JOIN (SELECT UNNEST([{seeds}]) AS seed) s
        GROUP BY doc_id, seed
    ),
    wide AS (
        SELECT doc_id, {sig_cols}
        FROM sigs GROUP BY doc_id
    ),
    bands AS ({band_rows}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
    ),
    scored AS (
        SELECT t.j_bp,
               CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS is_cand,
               CAST(ROUND(1000000 * (1 - POWER(
                   1 - POWER(t.j_bp / 10000.0, 2), {MINHASH_BANDS})))
                   AS BIGINT) AS p_theory_micro
        FROM truth t
        LEFT JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    )
    SELECT CAST(j_bp // 1000 AS INT) AS j_decile,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(is_cand) AS BIGINT) AS n_candidates,
           CAST(1000000 * SUM(is_cand) // COUNT(*) AS BIGINT)
               AS measured_micro,
           CAST(SUM(p_theory_micro) // COUNT(*) AS BIGINT)
               AS theory_micro
    FROM scored
    GROUP BY 1
    ORDER BY 1
    """


@register("q_lsh_scurve_audit", oracle=_scurve_oracle(), tags=("pairs",))
def q_lsh_scurve_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X367: MinHash-LSH s-curve calibration audit — does q_dedup_near's
    b=4/r=2 banding hit its textbook collision probability
    1-(1-s^r)^b on THIS corpus's similarity distribution? For every
    co-shingle pair (ground truth exact Jaccard from the 3-gram
    census), the measured candidate rate per Jaccard decile is set
    against the mean theoretical curve (each pair's theory value
    micro-rounded BEFORE the integer average, so the comparison is
    hash-exact). The table a production dedup pipeline reads before
    trusting its recall — miscalibration here means the minhash family
    is broken or the banding misconfigured.

    The banding is q_dedup_near's (dedup.MINHASH_BANDS bands of 2
    rows). 100 TB: reuses the two relations the dedup pipeline already
    computes (shingle equi-join truth, dedup.minhash_band_pairs
    candidates); both are collision-bounded, never all-pairs. The audit itself
    runs on a SAMPLE at production scale (the decile table needs only
    statistical mass).
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "text").where(F.size(F.split("text", " ")) >= 3)
    # the shingle relation feeds the exact-Jaccard census twice (via
    # shd) and the signature table both band-join sides — eager
    # checkpoints stop each reference from replaying the corpus
    # explode (34 exchanges pre-fix, 6 after; the operators/graph.py
    # discipline). word_shingles is already per-doc distinct, but the
    # DISTINCT's shuffle spreads a one-file corpus over the cores
    sh = (
        toks.select("doc_id", F.explode(word_shingles("text", 3)).alias("shingle"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    shd = sh.select("doc_id", F.md5("shingle").alias("g"))
    sizes = shd.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = shd.select(F.col("doc_id").alias("doc_a"), "g")
    b = shd.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("g2"))
    inter = (
        a.join(b, (F.col("g") == F.col("g2")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    truth = (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr("i * 10000 DIV (na + nb - i)").alias("j_bp"),
        )
    )
    wide = minhash_signatures(d).localCheckpoint(eager=True)
    cand = minhash_band_pairs(wide).withColumn("is_cand", F.lit(1))
    scored = truth.join(cand, ["doc_a", "doc_b"], "left").select(
        "j_bp",
        F.coalesce(F.col("is_cand"), F.lit(0)).alias("is_cand"),
        F.round(
            1000000
            * (
                1
                - F.pow(
                    1 - F.pow(F.col("j_bp") / 10000.0, 2), F.lit(MINHASH_BANDS)
                )
            )
        )
        .cast("bigint")
        .alias("p_theory_micro"),
    )
    return (
        scored.groupBy(F.expr("CAST(j_bp DIV 1000 AS INT)").alias("j_decile"))
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("is_cand").cast("bigint").alias("n_candidates"),
            F.expr("CAST(1000000 * SUM(is_cand) DIV COUNT(*) AS BIGINT)").alias(
                "measured_micro"
            ),
            F.expr("CAST(SUM(p_theory_micro) DIV COUNT(*) AS BIGINT)").alias(
                "theory_micro"
            ),
        )
        .orderBy("j_decile")
    )


# --- X369: DoReMi exponentiated-gradient mixture step --------------------------------

_DOREMI_LR_MILLI = 500  # learning rate 0.5


@register(
    "q_doremi_step",
    oracle=f"""
    WITH per_dom AS (
        SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS chars
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT SUM(n_docs) AS n, SUM(chars) AS c FROM per_dom
    ),
    losses AS (
        -- deterministic excess-loss proxy: how much LONGER the
        -- domain's mean doc is than the corpus mean, in milli
        -- (stands in for the per-domain excess loss a proxy model
        -- reports; the UPDATE below is the operator under test)
        SELECT p.source, p.n_docs,
               -- HUGEINT floor division (DuckDB's DECIMAL / and //
               -- both degrade to double — probed in X349)
               CAST(1000 * (CAST(p.chars AS HUGEINT) * t.n)
                    // (CAST(t.c AS HUGEINT) * p.n_docs) - 1000
                    AS BIGINT) AS excess_milli,
               CAST(10000 * p.n_docs // t.n AS BIGINT) AS old_share_bp
        FROM per_dom p CROSS JOIN tot t
    ),
    upd AS (
        SELECT source, old_share_bp, excess_milli,
               -- w * exp(lr * excess): exp micro-rounded per domain
               CAST(old_share_bp * CAST(ROUND(1000000 * EXP(
                    {_DOREMI_LR_MILLI} * excess_milli / 1000000.0))
                    AS BIGINT) AS BIGINT) AS w_raw
        FROM losses
    ),
    norm AS (SELECT SUM(w_raw) AS z FROM upd)
    SELECT u.source, u.old_share_bp, u.excess_milli,
           -- HUGEINT floor division (DECIMAL // degrades to double)
           CAST(10000 * CAST(u.w_raw AS HUGEINT) // n.z AS BIGINT)
               AS new_weight_bp
    FROM upd u CROSS JOIN norm n
    ORDER BY u.source
    """,
)
def q_doremi_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X369: one DoReMi-style exponentiated-gradient update of the
    training-mixture domain weights — the ITERATIVE data-mixture
    optimizer next to the static reweightings (X136 share clamp, X311
    temperature smoothing): w'_d proportional to w_d * exp(lr *
    excess_loss_d), renormalized. The excess-loss input here is a
    deterministic proxy (each domain's mean-doc-length gap vs the
    corpus, in milli — a real run feeds per-domain proxy-model excess
    losses into the SAME update); the operator under test is the
    update arithmetic: exp micro-rounded per domain BEFORE the integer
    multiply, renormalization one exact DECIMAL(38) floor division, so
    every weight is hash-checkable and the step is replayable.

    100 TB: one per-domain partial aggregate (domains are few); the
    update itself is arithmetic on the broadcast domain relation.
    """
    d = table(spark, sf_dir, "documents")
    # per_dom feeds both the totals and the per-domain rows — the
    # eager checkpoint (domains are few) keeps the corpus scan single
    per_dom = d.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("chars")
    ).localCheckpoint(eager=True)
    tot = per_dom.agg(F.sum("n_docs").alias("n"), F.sum("chars").alias("c"))
    dec = "decimal(38,0)"
    losses = per_dom.crossJoin(F.broadcast(tot)).select(
        "source",
        # Spark decimal DIV returns BIGINT; the quotient here is
        # milli-scaled (~1000), far inside int64
        F.expr(
            "CAST(1000 * (CAST(chars AS DECIMAL(38,0)) * n)"
            " DIV (CAST(c AS DECIMAL(38,0)) * n_docs) - 1000 AS BIGINT)"
        ).alias("excess_milli"),
        F.expr("CAST(10000 * n_docs DIV n AS BIGINT)").alias("old_share_bp"),
    )
    upd = losses.select(
        "source",
        "old_share_bp",
        "excess_milli",
        (
            F.col("old_share_bp")
            * F.round(
                1000000
                * F.exp(_DOREMI_LR_MILLI * F.col("excess_milli") / 1000000.0)
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("w_raw"),
    )
    norm = upd.agg(F.sum("w_raw").alias("z"))
    return (
        upd.crossJoin(F.broadcast(norm))
        .select(
            "source",
            "old_share_bp",
            "excess_milli",
            F.expr(
                "CAST(10000 * CAST(w_raw AS DECIMAL(38,0)) DIV z AS BIGINT)"
            ).alias("new_weight_bp"),
        )
        .orderBy("source")
    )
