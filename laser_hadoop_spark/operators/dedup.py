"""Deduplication operators (SURVEY.md §2.11 L1/L2).

Four tiers, cheapest to most robust:
  exact_dedup          — dropDuplicates on keys (hash aggregate)
  fingerprint_dedup    — group on md5 of normalized text (16-byte shuffle)
  ngram_jaccard_pairs  — exact near-dup pairs via shingle equi-join
  minhash_lsh_pairs    — LSH-banded candidates (pyspark.ml), the 100 TB path
  simhash / simhash_pairs — 32/64-bit bit-sketch + hamming-distance pairs

Everything except the MinHashLSH model is pure column expressions.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# prefix_filter_pairs hot-token sharding (r10): a token whose prefix
# posting list exceeds _HOT_POSTINGS generates its candidates through
# the (token, sa, sb) triangle-sharded join — _N_SHARDS^2 tasks per
# token instead of one. 4096 postings = ~8M generated pairs, about one
# second of one task's codegen loop: the crossover where splitting
# starts to pay for its replication.
_HOT_POSTINGS = 4096
_N_SHARDS = 8

SIMHASH_BITS = 32


def exact_dedup(df: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """L1: exact dedup — whole-row distinct or key-based dropDuplicates."""
    return df.distinct() if keys is None else df.dropDuplicates(keys)


def normalized_fingerprint(text_col: str = "text") -> Column:
    """md5 digest of whitespace-normalized, case-folded text."""
    return F.md5(F.lower(F.trim(F.regexp_replace(text_col, r"\s+", " "))))


def fingerprint_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup on the normalized digest: the shuffle moves 16 bytes
    per row instead of the document body."""
    fp = normalized_fingerprint(text_col).alias("__fp")
    return df.withColumn("__fp", fp).dropDuplicates(["__fp"]).drop("__fp")


def _ngram_fold(t: Column, n: int, combine) -> Column:
    """Distinct n-grams of the array ``t``, each the ``combine`` fold of
    n consecutive elements.

    Built as a zip_with fold over n shifted views of the array (slice is
    O(1) per view; each output element is one pass) — ~6x faster than
    indexing element_at(t, i+j) inside a transform over a sequence,
    which re-walks the array per index. ``t`` appears n + 1 times in
    the result, so pass a column reference, not an expression to be
    recomputed per appearance.
    """
    m = F.greatest(F.size(t) - (n - 1), F.lit(0))
    shifted = [F.slice(t, j + 1, m) for j in range(n)]
    acc = shifted[0]
    for nxt in shifted[1:]:
        acc = F.zip_with(acc, nxt, combine)
    return F.array_distinct(acc)


def word_shingles(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingle array for a text column."""
    return _ngram_fold(
        F.split(F.col(text_col), " "), n, lambda a, b: F.concat_ws(" ", a, b)
    )


def _rot_xor(a: Column, b: Column) -> Column:
    """Order-sensitive 64-bit hash combine: rotate-left-13 then xor.

    Pure bitwise ops — no arithmetic overflow, so the expression is
    safe under ANSI mode (Spark 4's default; a wrapping multiply-add
    combine raises ARITHMETIC_OVERFLOW there). Inputs are xxhash64
    values, so the combined value stays uniformly distributed.
    """
    rot = F.shiftleft(a, 13).bitwiseOR(F.shiftrightunsigned(a, 51))
    return rot.bitwiseXOR(b)


def _token_hashes(text_col: str) -> Column:
    return F.transform(F.split(F.col(text_col), " "), lambda w: F.xxhash64(w))


def word_shingle_hashes(text_col: str, n: int = 3) -> Column:
    """Distinct 64-bit hashes of word n-grams, no n-gram strings built.

    Each token is xxhash64'd ONCE; the n shifted hash arrays combine
    with rotate-xor (the word_shingles fold). Skipping the concat_ws
    string materialization per shingle is ~20% faster end-to-end on the
    n-gram self-join at sf0.1 — and the join key was already a hash, so
    downstream semantics are unchanged (hash identity only needs to be
    consistent within the engine).

    As one column expression the token-hash array is inlined at each of
    its n + 1 uses, and their distinct lambda ids keep subexpression
    elimination from sharing it; to explode the shingles of a relation
    use shingle_hash_rows, which projects the array once.
    """
    return _ngram_fold(_token_hashes(text_col), n, _rot_xor)


def shingle_hash_rows(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """One row per distinct word n-gram hash of each document:
    ``(doc, n, shingle)``, where ``n`` is the document's count of
    distinct shingles. The rows equal
    ``explode(word_shingle_hashes(text_col, n))`` with its size; a NULL
    or short document yields none.

    Two plan shapes keep the hashing to one pass, above any exchange
    under ``df``:

    - the token-hash array is its own projected column, and the
      shingles are built from that column. CollapseProject leaves a
      non-trivial projection in place when the next projection reads it
      more than once, so each token is hashed once per row instead of
      once per use of the array.
    - the explode is ``explode_outer`` followed by
      ``isNotNull(shingle)``. No shingle hash is NULL, so the rows are
      the same as a plain explode's. A plain explode makes Catalyst's
      InferFiltersFromGenerate add ``size(sh) > 0 AND isnotnull(sh)``,
      and that filter is pushed below projections and repartitions
      alike. Below ``tables.spread_scan``'s exchange it computes every
      shingle hash in the one-task scan stage, only to throw the array
      away and hash again above the exchange.
    """
    tokens = df.select(
        F.col(id_col).alias("doc"), _token_hashes(text_col).alias("__t")
    )
    sh = tokens.select("doc", _ngram_fold(F.col("__t"), n, _rot_xor).alias("__sh"))
    # Under ANSI size() is nullable, and a join on n would infer an
    # isnotnull(n) that is pushed to the scan just the same; the
    # coalesce (never taken: NULL arrays leave no rows) makes n non-null.
    n_sh = F.coalesce(F.size("__sh"), F.lit(0))
    return sh.select(
        "doc", n_sh.alias("n"), F.explode_outer("__sh").alias("shingle")
    ).where(F.col("shingle").isNotNull())


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact near-dup pairs with Jaccard(shingles) > threshold.

    Candidates come from an equi-join on the 64-bit shingle hash
    (xxhash64 — an 8-byte shuffle key instead of the n-gram string). The
    per-doc shingle count is computed from the array BEFORE exploding
    and carried through the join, so no separate sizes table and no
    post-join re-joins: one self-join + one aggregate total. The
    shingle rows come from shingle_hash_rows above spread_scan's
    exchange, so on a one-task scan every token is hashed once, on all
    cores, and the scan stage only reads (measured at sf0.1 on 4 cores:
    scan stage 0.37-0.47 s -> 0.03 s, PERF_NOTES 2026-10-18).

    At scale pass max_shingle_df to drop ubiquitous shingles (stopword
    n-grams) before the self-join — a shingle shared by m docs
    contributes m^2 candidate rows, so capping document frequency
    bounds the join output.
    """
    # shuffle_hash (not broadcast): the two self-join sides share one
    # shuffle exchange (ReusedExchange), so shingles are computed once;
    # a broadcast build would re-compute the subplan per side — and at
    # 100 TB the shingle table could never broadcast anyway.
    # Raw rows are repartitioned BEFORE the shingle/hash projection: a
    # single sub-split input file would otherwise serialize all the
    # hashing into one scan task (PERF_NOTES round 4b). spread_scan is
    # keyed hash partitioning and a guarded no-op once the scan has
    # >= cores splits; shingle_hash_rows keeps every hash above it.
    from laser_hadoop_spark.tables import spread_scan

    shingles = shingle_hash_rows(
        spread_scan(df.select(id_col, text_col), id_col), id_col, text_col, n
    ).hint("shuffle_hash")
    if max_shingle_df is not None:
        rare = (
            shingles.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") <= max_shingle_df)
            .select("shingle")
        )
        shingles = shingles.join(rare, "shingle")
    a, b = shingles.alias("a"), shingles.alias("b")
    # Size-ratio prune: jaccard(A,B) <= min(|A|,|B|)/max(|A|,|B|), so
    # pairs whose shingle counts differ by more than the threshold
    # ratio can never qualify — dropping them inside the join condition
    # keeps them out of the aggregation entirely.
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc"))
            & (F.col("b.n") * F.lit(threshold) <= F.col("a.n"))
            & (F.col("a.n") * F.lit(threshold) <= F.col("b.n")),
        )
        .groupBy(
            F.col("a.doc").alias("doc_a"),
            F.col("a.n").alias("n_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("b.n").alias("n_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return pairs.where(jac > threshold).select(
        "doc_a", "doc_b", F.round(jac, 4).alias("jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    distance: float = 0.5,
    num_hash_tables: int = 5,
    num_features: int = 1 << 18,
    seed: int = 42,
) -> DataFrame:
    """L2 scale path: MinHash-LSH candidate pairs (Jaccard distance < d).

    shingle array -> HashingTF sparse vector -> MinHashLSH banding ->
    approxSimilarityJoin. Candidate generation cost is bounded by the
    LSH bands instead of shingle collisions. Deterministic per seed.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = df.select(
        F.col(id_col).alias("doc"), word_shingles(text_col, n).alias("shingles")
    ).where(F.size("shingles") > 0)
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=num_features)
    feat = tf.transform(docs)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=seed
    )
    model = lsh.fit(feat)
    joined = model.approxSimilarityJoin(feat, feat, distance, distCol="jaccard_dist")
    return (
        joined.where(F.col("datasetA.doc") < F.col("datasetB.doc"))
        .select(
            F.col("datasetA.doc").alias("doc_a"),
            F.col("datasetB.doc").alias("doc_b"),
            F.round(1 - F.col("jaccard_dist"), 4).alias("jaccard_est"),
        )
    )


def simhash(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_hash: str = "xxhash64(t)",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """SimHash sketch per document, entirely in column expressions.

    Each token hashes once (default xxhash64, JVM codegen); bit i of
    the sketch is the majority vote of bit i across token hashes.
    Near-dup docs differ in few bits -> pair via simhash_pairs.
    `token_hash` is a SQL fragment over the bound token `t`; pass the
    cross-engine md5 prefix
    (`cast(conv(substring(md5(t),1,15),16,10) as bigint)`) when the
    sketch must be reproducible outside Spark (oracle verification,
    multi-engine pipelines) — xxhash64 is faster but Spark-only.

    `bits` (32 or 64): sketch width. 32 keeps the oracle-facing
    queries compact; 64 is the PRODUCTION width (Manku, Jain & Das
    Sarma, WWW'07 — Google's web-scale near-dup setting) and the one
    that scales: band keys are bits/n_bands wide, so a 32-bit sketch
    in 8 bands has 4-bit keys = 16 buckets per band and candidate
    generation degrades to ~n²/16 per band as the corpus grows; 64-bit
    keys give 256 buckets at 8 bands (or 65k at 4) and keep buckets
    shuffle-partition sized. The sign bit is safe: bit 63's addend is
    min-long, every partial sum stays in int64 (subset sums of
    distinct powers of two), and band extraction masks after the
    arithmetic shift.

    Round 12 (guide §4.2): token hashing stays in the JVM (one
    `transform(split(text), t -> hash)` per doc — md5/conv/xxhash64
    are codegen built-ins), and the bit-vote fold runs as ONE numpy
    kernel per Arrow batch: the former SQL higher-order fold allocated
    two `bits`-wide arrays PER TOKEN (zip_with accumulator + the
    shiftright bit row — measured 2.3 s of the 2.8 s sketch build at
    sf0.1/64-bit); the kernel unpacks each doc's hash vector with one
    broadcasted shift (`(H[:,None] >> arange(bits)) & 1`), majority-
    votes, and repacks — 0.24 s for identical int64-exact sketches
    (uint64 two's-complement views make bit 63 safe on both sides).
    The Arrow boundary carries (id, array<bigint>) only — token
    hashes, never text.
    """
    if bits not in (32, 64):
        raise ValueError(f"bits must be 32 or 64, got {bits}")
    token_hashes = df.select(
        F.col(id_col),
        F.expr(f"transform(split({text_col}, ' '), t -> {token_hash})").alias(
            "__hs"
        ),
    )
    id_type = df.schema[id_col].dataType.simpleString()
    shifts = np.arange(bits, dtype=np.uint64)

    def bit_vote(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            sketches = np.empty(len(pdf), dtype=np.int64)
            # NULL text -> NULL token array -> NULL sketch, matching the
            # former SQL fold's null propagation (ADVICE r12: the bare
            # np.asarray(None) raised and failed the whole task).
            nulls: list[int] = []
            for r, hs in enumerate(pdf["__hs"].values):
                if hs is None:
                    nulls.append(r)
                    sketches[r] = 0
                    continue
                h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
                counts = ((h[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
                majority = (2 * counts > len(h)).astype(np.uint64)
                sketches[r] = (
                    (majority << shifts).sum(dtype=np.uint64).astype(np.int64)
                )
            col = pd.Series(sketches)
            if nulls:
                col = col.astype(object)
                col.iloc[nulls] = None
            yield pd.DataFrame({id_col: pdf[id_col].values, "simhash": col})

    return token_hashes.mapInPandas(bit_vote, f"{id_col} {id_type}, simhash bigint")


def simhash_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 6,
    n_bands: int = 8,
    token_hash: str = "xxhash64(t)",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Banding makes candidate generation an equi-join: a pair within
    max_hamming must agree exactly on at least one of n_bands bit-bands
    (pigeonhole, which REQUIRES max_hamming < n_bands — enforced below;
    the round-1 defaults 6/4 silently missed pairs whose differing bits
    spread across all bands), so only band-collisions are compared — no
    O(n^2) scan.

    Scale note (measured, PERF_NOTES round 7): band-key cardinality is
    2^(bits/n_bands). At the 32-bit default with 8 bands that is 16
    buckets per band — fine at test scale, but buckets grow O(n/16) on
    a large corpus and candidate generation degrades toward quadratic.
    For production corpora pass bits=64 (the WWW'07 web-scale
    setting): 256 buckets at 8 bands, 65k at 4, keeping buckets
    shuffle-partition sized. The hamming filter runs BEFORE the
    distinct so the dedup exchange carries only true near-dup pairs,
    not every band collision.

    The sketch relation is eagerly materialized before the self-join
    (round 8): the banded self-join plans as a BroadcastHashJoin with
    ZERO exchange reuse, so without the checkpoint the full corpus
    tokenize+hash+bit-vote pipeline executed on BOTH join sides —
    measured 10.5 -> 3.0 s end-to-end at sf0.1 with the cross-engine
    md5 token hash. At 100 TB the sketch is (id, int64) — corpus-scale
    input, sketch-scale output — so materializing it is exactly the
    cheap side of the asymmetry.
    """
    if max_hamming >= n_bands:
        raise ValueError(
            f"pigeonhole guarantee needs max_hamming < n_bands, got "
            f"max_hamming={max_hamming}, n_bands={n_bands}"
        )
    if bits % n_bands:
        raise ValueError(f"n_bands={n_bands} must divide {bits}")
    sk = simhash(
        df, id_col=id_col, text_col=text_col, token_hash=token_hash, bits=bits
    ).localCheckpoint(eager=True)
    band_width = bits // n_bands
    bands = sk.select(
        F.col(id_col).alias("doc"),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("simhash", i * band_width)
                        .bitwiseAND(F.lit((1 << band_width) - 1))
                        .alias("key"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a, b = bands.alias("a"), bands.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .where(hamming <= max_hamming)
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
    )


def contamination_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_overlap: float = 0.2,
) -> DataFrame:
    """Train/eval contamination check: corpus docs sharing >= min_overlap
    of their n-gram shingles with ANY benchmark document.

    The decontamination pass every pretraining pipeline runs before
    training. Same equi-join-on-shingle-hash shape as
    ngram_jaccard_pairs, but across two corpora and one-directional
    (overlap is measured against the corpus doc's own shingle count);
    both sides' shingle rows come from shingle_hash_rows.
    Output: (doc_id, n_shingles, n_contaminated, overlap) per flagged
    corpus doc. The benchmark side is typically small -> its shingle
    set broadcasts; the corpus side never shuffles its text, only
    8-byte hashes.
    """
    c = shingle_hash_rows(corpus, id_col, text_col, n).select(
        "doc", F.col("n").alias("n_shingles"), F.col("shingle").alias("h")
    )
    b = (
        shingle_hash_rows(benchmark, id_col, text_col, n)
        .select(F.col("shingle").alias("h"))
        .distinct()
    )
    hits = (
        c.join(F.broadcast(b), "h")
        .groupBy("doc", "n_shingles")
        .agg(F.count("*").alias("n_contaminated"))
    )
    overlap = F.col("n_contaminated") / F.col("n_shingles")
    return (
        hits.where(overlap >= min_overlap)
        .select(
            F.col("doc").alias(id_col),
            "n_shingles",
            "n_contaminated",
            F.round(overlap, 4).alias("overlap"),
        )
    )


def line_dedup(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_tokens: int = 3,
    max_docs_per_line: int = 1,
) -> DataFrame:
    """Falcon/RefinedWeb-style line-level dedup: drop every line that
    appears in more than max_docs_per_line distinct documents, keep the
    rest in document order.

    Real corpora split on newlines; the synthetic documents table is
    single-line word soup, so lines here are fixed-width token windows
    (line_tokens wide) — the operator shape (line extraction -> corpus
    line-frequency aggregate -> per-doc filter -> ordered reassembly)
    is identical either way.

    Scale shape: lines explode scan-side; the corpus aggregate groups
    by md5(line) (16-byte shuffle keys, never bodies); the frequency
    table joins back by hash — AQE broadcasts it when the duplicate
    set is small, which it is by construction (only lines crossing the
    threshold matter). Reassembly sorts WITHIN each doc's collected
    line structs (array_sort on (pos, line)), not across docs — no
    global sort. Output: (id, n_lines, n_kept, new_text).
    """
    w = F.split(F.col(text_col), " ")
    n_lines = F.floor((F.size(w) + F.lit(line_tokens - 1)) / F.lit(line_tokens))
    lines = (
        df.select(
            F.col(id_col),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), (n_lines - 1).cast("int")),
                    lambda i: F.array_join(
                        F.slice(w, i * line_tokens + 1, line_tokens), " "
                    ),
                )
            ).alias("pos", "line"),
        )
        .withColumn("h", F.md5("line"))
    )
    dup = (
        lines.groupBy("h")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .where(F.col("n_docs") > max_docs_per_line)
        .select("h")
    )
    kept = lines.join(dup, "h", "left_anti")
    return (
        lines.groupBy(id_col)
        .agg(F.count("*").alias("n_lines"))
        .join(
            kept.groupBy(id_col).agg(
                F.count("*").alias("n_kept"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "line"))),
                        lambda s: s["line"],
                    ),
                    " ",
                ).alias("new_text"),
            ),
            id_col,
            "left",
        )
        .select(
            id_col,
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("new_text", F.lit("")).alias("new_text"),
        )
    )


def prefix_filter_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_bp: int = 7000,
    materialize: bool = True,
) -> DataFrame:
    """Token-set Jaccard pairs >= threshold via PREFIX FILTERING (PPJoin
    family) — candidates from the rarest few tokens only.

    The shingle equi-join (ngram_jaccard_pairs) generates a candidate
    per SHARED token; prefix filtering generates one only when two docs
    share a token within their (|d| - ceil(t|d|) + 1)-token PREFIX
    under a global rarity order (ascending document frequency, token as
    tiebreak). The prefix-filtering principle guarantees no false
    negatives: two sets with Jaccard >= t must overlap inside those
    prefixes. Common tokens — which create the quadratic candidate
    blowups — are exactly the ones prefixes exclude.

    Everything is exact integer arithmetic: prefix length uses
    ceil(t*n) = (t_bp*n + 9999) DIV 10000, and the final verify keeps
    pairs with overlap * 10000 >= t_bp * (|a| + |b| - overlap), emitted
    as jaccard_bp (basis points, truncating division).

    Scale: one distinct + one df aggregate + one per-doc rank window,
    then an equi-join on the (rare) prefix tokens — candidate count is
    bounded by the square of each RARE token's df, not the corpus's
    stopword df. The verify join touches only candidate pairs.
    """
    tok = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    ).distinct()
    if materialize:
        # tok feeds six consumers (sizes, dfs, rank join, candidate
        # pair sides, two verify sides); Catalyst inlines each into a
        # pruned recompute of the explode+distinct over the corpus.
        # Materializing the distinct token relation once — exactly the
        # posting list an index build produces — trades one write for
        # five re-scans. Measured 18 -> 7 exchanges on the query path.
        tok = tok.localCheckpoint(eager=True)
    sizes = tok.groupBy("doc").agg(F.count("*").alias("n"))
    dfreq = tok.groupBy("token").agg(F.count("*").alias("df"))
    w_rank = Window.partitionBy("doc").orderBy("df", "token")
    ranked = (
        tok.join(dfreq, "token")
        .withColumn("rank", F.row_number().over(w_rank))
        .join(sizes, "doc")
    )
    prefix = ranked.where(
        F.col("rank")
        <= F.col("n") - F.expr(f"({threshold_bp} * n + 9999) DIV 10000") + 1
    ).select("doc", "token", "rank", "n")
    if materialize:
        # the cold/hot split (below) makes prefix a FIVE-consumer
        # relation (posting counts, two cold sides, two hot sides);
        # inlined, each consumer re-runs the df join + rank window.
        # The relation is sketch-scale (ids + 3 ints), same tradeoff
        # as tok above — measured 38.5 -> 28.6 s at sf0.1 (the full
        # r10 series: 125.9 s original, 21.0 s positional+repartition,
        # 28.6 s final hybrid whose ~7 s 1x overhead buys the 10x
        # robustness; HOT=2048 was tried and rejected at 84 s — the
        # sharded join's replication+sort overhead only pays when a
        # token's cartesian actually dominates a task).
        prefix = prefix.localCheckpoint(eager=True)
    # r10 scale fix (the X135/X79 treatment, measured in PERF_NOTES.md
    # "q_prefix_filter_pairs: the probe found a real scale-killer"): on
    # a small-vocabulary corpus even the "rare" prefix tokens carry df
    # in the thousands, and raw candidate generation is sum(df_t^2) —
    # 66M rows at sf0.1, 6.6G at the x10 probe corpus. Three exact
    # countermeasures:
    # (a) PPJoin's POSITIONAL filter (Xiao et al. 2008), evaluated on
    #     every generated row BEFORE the distinct: a true pair with
    #     Jaccard >= t needs overlap alpha = ceil(t(na+nb)/(1+t)), and
    #     a match at prefix ranks (pa, pb) bounds the achievable
    #     overlap by min(pa-1, pb-1) + 1 + min(na-pa, nb-pb) — shared
    #     tokens sort identically under the global rarity order, so
    #     every shared token of a qualifying pair passes the bound: no
    #     false negatives (the md5 oracle hash keeps proving this).
    #     This also subsumes the length filter (size-mismatched pairs
    #     fail the bound at every rank).
    # (b) an explicit 64-way repartition of both join sides: AQE
    #     coalesces this shuffle by INPUT bytes (the prefix relation is
    #     tiny), which serialized the df^2 OUTPUT blow-up onto a
    #     handful of tasks at the 10x probe; a user-specified partition
    #     count is exempt from coalescing and keeps the quadratic
    #     token blocks spread across the executor pool.
    # (c) TRIANGLE SHARDING of hot tokens (prefix postings above
    #     _HOT_POSTINGS): one token is one SMJ group, so (b) cannot
    #     split a single stopword-class token whose df^2 block
    #     serializes onto one task (the x10 probe's 38k-posting tokens
    #     are ~1.5G generated pairs EACH). Hot postings join on
    #     (token, sa, sb) instead: each side hashes its doc into one
    #     of _N_SHARDS shards and replicates over the other side's
    #     shard axis, so every (a, b) pair still meets EXACTLY once
    #     (a's row with sb = h(b.doc) meets b's row with sa =
    #     h(a.doc)) but one token spreads over _N_SHARDS^2 tasks.
    #     Replication is _N_SHARDS x the hot postings only — ids and
    #     ints, bounded, and hot tokens are by definition few.
    pc = prefix.groupBy("token").agg(F.count("*").alias("__pc"))
    pref = prefix.join(pc, "token")
    cold = pref.where(F.col("__pc") <= _HOT_POSTINGS).drop("__pc")
    hot = pref.where(F.col("__pc") > _HOT_POSTINGS).drop("__pc")
    shards = F.sequence(F.lit(0), F.lit(_N_SHARDS - 1))
    hot_a = hot.withColumn(
        "sa", F.pmod(F.xxhash64("doc"), F.lit(_N_SHARDS))
    ).withColumn("sb", F.explode(shards))
    hot_b = hot.withColumn(
        "sb", F.pmod(F.xxhash64("doc"), F.lit(_N_SHARDS))
    ).withColumn("sa", F.explode(shards))

    def _positional(a, b):
        alpha = F.expr(
            f"({threshold_bp} * ({a}.n + {b}.n) + {10000 + threshold_bp} - 1)"
            f" DIV {10000 + threshold_bp}"
        )
        ubound = (
            F.least(F.col(f"{a}.rank") - 1, F.col(f"{b}.rank") - 1)
            + 1
            + F.least(
                F.col(f"{a}.n") - F.col(f"{a}.rank"),
                F.col(f"{b}.n") - F.col(f"{b}.rank"),
            )
        )
        return ubound >= alpha

    cand_cold = (
        cold.repartition(64, "token")
        .alias("a")
        .join(
            cold.repartition(64, "token").alias("b"),
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .where(_positional("a", "b"))
        .select(F.col("a.doc").alias("da"), F.col("b.doc").alias("db"))
    )
    cand_hot = (
        hot_a.alias("a")
        .join(
            hot_b.alias("b"),
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.sa") == F.col("b.sa"))
            & (F.col("a.sb") == F.col("b.sb"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .where(_positional("a", "b"))
        .select(F.col("a.doc").alias("da"), F.col("b.doc").alias("db"))
    )
    cand = cand_cold.unionByName(cand_hot).distinct()
    overlap = (
        cand.join(tok.alias("ta"), F.col("da") == F.col("ta.doc"))
        .join(
            tok.alias("tb"),
            (F.col("db") == F.col("tb.doc"))
            & (F.col("ta.token") == F.col("tb.token")),
        )
        .groupBy("da", "db")
        .agg(F.count("*").alias("overlap"))
    )
    sa = sizes.select(F.col("doc").alias("da"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc").alias("db"), F.col("n").alias("nb"))
    return (
        overlap.join(sa, "da")
        .join(sb, "db")
        .where(
            F.col("overlap") * 10000
            >= threshold_bp * (F.col("na") + F.col("nb") - F.col("overlap"))
        )
        .select(
            "da",
            "db",
            F.expr(
                "CAST(overlap * 10000 DIV (na + nb - overlap) AS BIGINT)"
            ).alias("jaccard_bp"),
        )
    )
