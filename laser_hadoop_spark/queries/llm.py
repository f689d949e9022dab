"""LLM-training-data pipeline queries (SURVEY.md §2.11, all [C]).

Dedup (exact / n-gram Jaccard / MinHash-LSH / SimHash), embedding
similarity search (brute-force + blocked), and text analysis
(wordcount, token counting, quality scoring, language-ID heuristic,
fingerprinting) over the `documents` and `embeddings` tables.

Scale notes are per-operator; the general pattern: shingle/token
explosion is bounded per document, candidate generation is always
key-join-based (never an unblocked cross join), and everything stays
JVM-side (codegen'd higher-order array functions) except the
vectorized kernels (SimHash bit vote, similarity scoring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from laser_hadoop_spark.operators.dedup import (
    minhash_band_pairs,
    minhash_signatures,
    normalized_fingerprint,
    word_shingles,
)
from laser_hadoop_spark.operators.similarity import brute_force_pairs_grid
from laser_hadoop_spark.registry import register
from laser_hadoop_spark.tables import register_views, table

# Shared stopword/marker list for quality + langid (kept tiny and fixed
# so the oracle can restate it inline).
_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on")
_STOP_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)


@register(
    "q_text_wordcount",
    oracle="""
    SELECT token, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
    FROM (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
        FROM documents
    )
    GROUP BY token
    """,
)
def q_text_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: tokenize + term statistics (the canonical explode/groupBy)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


@register(
    "q_text_tokens",
    oracle=r"""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
                AS INT) AS n_bpe_tokens
    FROM documents
    """,
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex tokenizer."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_ws_tokens"),
        F.size(
            F.regexp_extract_all(
                F.col("text"), F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0
            )
        ).alias("n_bpe_tokens"),
    )


@register(
    "q_text_quality",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           CAST(len(string_split(text, ' ')) AS INT) AS n_words,
           ROUND(CAST(length(text) AS DOUBLE)
                 / len(string_split(text, ' ')), 4) AS avg_word_span,
           ROUND(CAST(len(list_filter(string_split(text, ' '),
                                      t -> t IN ({_STOP_SQL}))) AS DOUBLE)
                 / len(string_split(text, ' ')), 4) AS stopword_ratio,
           ROUND(CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
                      AS DOUBLE) / length(text), 4) AS punct_ratio
    FROM documents
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / stopword-ratio / punctuation-ratio.

    All JVM-side string+array expressions — no Python in the hot path.
    """
    d = table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_words = F.size(words)
    return d.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars_actual"),
        n_words.alias("n_words"),
        F.round(F.length("text").cast("double") / n_words, 4).alias("avg_word_span"),
        F.round(
            F.size(F.filter(words, lambda t: F.array_contains(stop_arr, t))).cast(
                "double"
            )
            / n_words,
            4,
        ).alias("stopword_ratio"),
        F.round(
            F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", "")).cast("double")
            / F.length("text"),
            4,
        ).alias("punct_ratio"),
    )


@register(
    "q_text_langid",
    oracle=f"""
    SELECT doc_id, lang AS labeled_lang,
           ROUND(CAST(len(list_filter(string_split(text, ' '),
                                      t -> t IN ({_STOP_SQL}))) AS DOUBLE)
                 / len(string_split(text, ' ')), 4) AS en_score,
           CASE WHEN CAST(len(list_filter(string_split(text, ' '),
                                          t -> t IN ({_STOP_SQL}))) AS DOUBLE)
                     / len(string_split(text, ' ')) >= 0.05
                THEN 'en' ELSE 'other' END AS predicted_lang
    FROM documents
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: marker-word (n-gram) ratio -> label.

    A deliberately simple deterministic classifier so the oracle can
    restate it; a production engine would swap in per-language marker
    tables via operators/text.py without changing the query shape.
    """
    d = table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    score = F.size(F.filter(words, lambda t: F.array_contains(stop_arr, t))).cast(
        "double"
    ) / F.size(words)
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.round(score, 4).alias("en_score"),
        F.when(score >= 0.05, "en").otherwise("other").alias("predicted_lang"),
    )


@register(
    "q_text_fingerprint",
    oracle=r"""
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
    FROM documents
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: hash of whitespace-normalized text.

    The exact-dedup key (L1) at scale: group/join on the 128-bit digest
    instead of the full text, so the dedup shuffle moves 16 bytes per
    doc rather than the document body.
    """
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", normalized_fingerprint("text").alias("fingerprint"))


@register(
    "q_text_lm_score",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    vocab AS (SELECT token, COUNT(*) AS n FROM toks GROUP BY token),
    tot AS (SELECT SUM(n) AS total, COUNT(*) AS v FROM vocab)
    SELECT doc_id,
           ROUND(CAST(SUM(CAST(ROUND(
                     LOG10((n + 0.5) / (total + 0.5 * v)) * 1000000.0
                 ) AS BIGINT)) AS BIGINT) / 1000000.0 / COUNT(*),
                 4) AS lm_score,
           COUNT(*) AS n_tokens
    FROM toks JOIN vocab USING (token) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def q_text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 extension: CCNet-style unigram-LM quality scoring.

    The corpus trains its own unigram LM (one vocab aggregate); each
    document scores as its mean smoothed token log10-probability —
    the classic cheap perplexity proxy for pretraining-data quality
    filtering. operators/text.unigram_lm_scores; vocabulary (not
    corpus) size bounds the lookup join's build side.
    """
    from laser_hadoop_spark.operators.text import unigram_lm_scores

    d = table(spark, sf_dir, "documents")
    return unigram_lm_scores(d, id_col="doc_id", text_col="text", alpha=0.5)


# --- near-duplicate detection ------------------------------------------------

_JACCARD_THRESHOLD = 0.8


@register(
    "q_dedup_ngram_jaccard",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), shingles AS (
        SELECT DISTINCT doc_id,
               UNNEST(list_transform(generate_series(1, len(t) - 2),
                                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                   AS shingle
        FROM toks
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(n_common * 1.0 / (sa.n + sb.n - n_common), 4) AS jaccard
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE n_common * 1.0 / (sa.n + sb.n - n_common) > {_JACCARD_THRESHOLD}
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 (exact form): n-gram Jaccard near-dup pairs via shingle join.

    Delegates to operators.dedup.ngram_jaccard_pairs: zip_with shingle
    construction, xxhash64 8-byte join keys, per-doc sizes carried
    through the join (no sizes-table re-joins), and a shuffle-hash
    self-join whose exchange is computed once and reused for both
    sides. Candidate generation is an equi-join on shingle hash — never
    a cross join — so cost scales with shingle-collision counts, and
    the same plan holds at 100 TB (optionally with max_shingle_df
    capping stopword shingles; q_dedup_near replaces the exact join
    with MinHash-LSH when even that is too hot).
    """
    from laser_hadoop_spark.operators.dedup import ngram_jaccard_pairs

    d = table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        d, id_col="doc_id", text_col="text", n=3, threshold=_JACCARD_THRESHOLD
    )


@register(
    "q_dedup_near",
    tags=("pairs",),
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
    ),
    shd AS (SELECT doc_id, md5(shingle) AS g FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS i
        FROM cand c
        JOIN shd a ON a.doc_id = c.doc_a
        JOIN shd b ON b.doc_id = c.doc_b AND b.g = a.g
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT x.doc_a, x.doc_b,
           CAST(x.i * 10000 // (sa.n + sb.n - x.i) AS BIGINT) AS jaccard_bp
    FROM inter x
    JOIN sizes sa ON sa.doc_id = x.doc_a
    JOIN sizes sb ON sb.doc_id = x.doc_b
    WHERE x.i * 10000 // (sa.n + sb.n - x.i) >= 5000
    """,
)
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 (scale form): MinHash-LSH near-dup pairs, exactly verified
    end-to-end.

    The production near-dup recipe: (1) candidate pairs from the
    oracle-exact md5 MinHash banding (dedup.minhash_signatures and
    dedup.minhash_band_pairs, the X102 signatures and X135 band
    equi-join — recall stage, never all-pairs); (2) each candidate
    verified with its EXACT 3-gram shingle Jaccard (precision stage) —
    only pairs with jaccard >= 0.5 (10000*|A∩B| DIV |A∪B| >= 5000 bp,
    pure integer) survive. Both stages are deterministic and
    hash-checked against DuckDB.

    100 TB shape: banding bounds the candidate set; the verify join
    touches only candidate docs (broadcast semi-filter of the shingle
    relation), and every shuffle carries 32-hex digests, never text.
    """
    d = table(spark, sf_dir, "documents")
    # (doc, shingle-digest) relation, per-doc distinct, scan-local
    shd = (
        d.select("doc_id", "text")
        .where(F.size(F.split("text", " ")) >= 3)
        .select(
            "doc_id", F.explode(F.transform(word_shingles("text", 3), F.md5)).alias("g")
        )
    )
    # signature relation materialized before the band self-join (round
    # 8, the simhash_pairs discipline): (doc_id, 8x32-hex) is
    # sketch-scale while its lineage — 8 md5 array-mins over every
    # shingle — is corpus-scale; without the checkpoint the self-join
    # recomputed it per side (measured 1.62 -> 1.08 s candidate stage
    # at sf0.1)
    wide = minhash_signatures(d).localCheckpoint(eager=True)
    cand = minhash_band_pairs(wide).localCheckpoint(eager=False)
    # verify stage touches only candidate docs
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    shf = shd.join(F.broadcast(cand_docs), "doc_id").localCheckpoint(eager=False)
    sizes = shf.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa, sb = shf.alias("sa"), shf.alias("sb")
    inter = (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(
            sb,
            (F.col("doc_b") == F.col("sb.doc_id"))
            & (F.col("sa.g") == F.col("sb.g")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    na, nb = sizes.alias("na"), sizes.alias("nb")
    jac = F.expr("i * 10000 DIV (na_n + nb_n - i)")
    return (
        inter.join(na, F.col("doc_a") == F.col("na.doc_id"))
        .join(nb, F.col("doc_b") == F.col("nb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.col("na.n").alias("na_n"),
            F.col("nb.n").alias("nb_n"),
            "i",
        )
        .where(jac >= 5000)
        .select("doc_a", "doc_b", jac.cast("bigint").alias("jaccard_bp"))
    )


@register(
    "q_dedup_simhash",
    tags=("pairs",),
    oracle="""
    WITH toks AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents
    ),
    th AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT) AS h
        FROM toks
    ),
    bits AS (
        SELECT doc_id, b,
               SUM(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE 0 END) AS c,
               COUNT(*) AS n
        FROM th CROSS JOIN (SELECT UNNEST(generate_series(0, 31)) AS b) s
        GROUP BY doc_id, b
    ),
    sig AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN c * 2 > n THEN (CAST(1 AS BIGINT) << b)
                             ELSE 0 END) AS BIGINT) AS sh
        FROM bits GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 6
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 (bit-sketch form): SimHash near-dup pairs, hamming <= 6.

    Token hashes fold into a 32-bit majority-vote sketch entirely with
    array/bitwise expressions — no Python. Candidate pairs come from
    8-way bit-banding (pigeonhole: a pair within hamming 6 < 8 bands
    must agree exactly on >= 2 bands), so only band-collisions are
    compared — never the O(n^2) scan. Pinned from rows-only to a full
    oracle (round-6 VERDICT item 2): tokens hash via the 60-bit md5
    prefix both engines spell (`conv(substr(md5,1,15),16,10)` /
    `'0x'-cast`), and the oracle computes the same sketches then the
    QUADRATIC hamming join — hash equality certifies the banding
    lossless against the brute-force definition (the q_dbscan_core
    certification pattern). The xxhash64 default in
    operators/dedup.simhash stays for Spark-only speed;
    `token_hash` selects the portable digest.
    """
    from laser_hadoop_spark.operators.dedup import simhash_pairs

    d = table(spark, sf_dir, "documents")
    pairs = simhash_pairs(
        d,
        id_col="doc_id",
        text_col="text",
        max_hamming=6,
        n_bands=8,
        token_hash="cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)",
    )
    return pairs.select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))


@register(
    "q_dedup_simhash64",
    tags=("pairs",),
    oracle="""
    WITH toks AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents
    ),
    th AS (
        SELECT doc_id,
               CAST(CAST(('0x' || substring(md5(t), 9, 8)) AS BIGINT) AS HUGEINT)
                   * 4294967296
                   + CAST(('0x' || substring(md5(t), 1, 8)) AS BIGINT) AS h
        FROM toks
    ),
    bits AS (
        SELECT doc_id, b,
               SUM(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE 0 END) AS c,
               COUNT(*) AS n
        FROM th CROSS JOIN (SELECT UNNEST(generate_series(0, 63)) AS b) s
        GROUP BY doc_id, b
    ),
    sig AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN c * 2 > n THEN (CAST(1 AS HUGEINT) << b)
                             ELSE CAST(0 AS HUGEINT) END)
                    - CASE WHEN SUM(CASE WHEN c * 2 > n AND b = 63 THEN 1
                                         ELSE 0 END) = 1
                           THEN (CAST(1 AS HUGEINT) << 64) ELSE 0 END
                    AS BIGINT) AS sh
        FROM bits GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 3
    """,
)
def q_dedup_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 at PRODUCTION width: 64-bit SimHash pairs, hamming <= 3,
    4 bands — the WWW'07 web-scale configuration, oracle-verified.

    The r7 probe showed this is the configuration that scales (32-bit
    banding funnels into 16-value band keys on a dup-dense corpus;
    64-bit/4-band ran the same corpus at exponent 1.06); this query
    pins it cross-engine. The 64-bit token hash both engines spell is
    two md5 32-bit halves: Spark `shiftleft(hi,32)|lo` (bitwise —
    shifts never overflow-check), DuckDB `hi::HUGEINT*2^32+lo` with
    the sketch accumulated in HUGEINT then converted to signed BIGINT
    by subtracting 2^64 when bit 63 is set — the one spelling whose
    sign semantics match Spark's long exactly. The quadratic-hamming
    oracle again certifies the banding lossless at this width (the
    pytest proves the same set-equality against Spark's own quadratic
    definition; this adds the independent engine).
    """
    from laser_hadoop_spark.operators.dedup import simhash_pairs

    d = table(spark, sf_dir, "documents")
    h64 = (
        "(shiftleft(cast(conv(substring(md5(t), 9, 8), 16, 10) as bigint), 32)"
        " | cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint))"
    )
    pairs = simhash_pairs(
        d,
        id_col="doc_id",
        text_col="text",
        max_hamming=3,
        n_bands=4,
        bits=64,
        token_hash=h64,
    )
    return pairs.select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))


# --- embedding similarity ----------------------------------------------------

_COSINE_THRESHOLD = 0.35


def _cosine(a, b):  # column expr: cosine similarity of two float arrays
    da = F.transform(a, lambda x: x.cast("double"))
    db = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(da, db, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(F.aggregate(da, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(db, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot / (na * nb)


@register(
    "q_embedding_topk",
    oracle="""
    WITH q AS (
        SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        FROM embeddings WHERE vec_id = 0
    )
    SELECT vec_id,
           ROUND(list_cosine_similarity(
               list_transform(embedding, x -> CAST(x AS DOUBLE)),
               (SELECT qv FROM q)), 4) AS cosine_sim
    FROM embeddings
    WHERE vec_id <> 0
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 10
    """,
)
def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: brute-force cosine top-k against a query vector.

    The query vector rides in as a 1-row broadcast cross join; the
    per-row cosine is codegen'd array math; top-k plans as
    TakeOrderedAndProject. This is the exact baseline an IVF/LSH path
    (q_ann_lsh) approximates.
    """
    emb = table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    scored = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(_cosine(F.col("embedding"), F.col("qv")), 4).alias("cosine_sim"),
        )
    )
    return scored.orderBy(F.col("cosine_sim").desc(), F.col("vec_id")).limit(10)


@register(
    "q_embedding_threshold",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_cosine_similarity(a.v, b.v), 4) AS cosine_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) > {_COSINE_THRESHOLD}
    """,
)
def q_embedding_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4/near-dup: all-pairs cosine above a threshold (embedding dedup).

    Physical strategy: grid-blocked matmul (operators/similarity.py
    brute_force_pairs_grid) — both sides hash into blocks, the
    upper-triangle grid of block pairs is cogrouped, and each cell is
    scored with one BLAS matmul. Nothing touches the driver, no task
    holds more than two blocks, and the n^2/2 cosine work spreads over
    n_blocks*(n_blocks+1)/2 independent tasks — the shape that survives
    a 100x scale-up (vs the broadcast-one-side variant, whose envelope
    ends at driver/executor memory).
    """
    emb = table(spark, sf_dir, "embeddings")
    return brute_force_pairs_grid(
        emb, id_col="vec_id", vec_col="embedding", threshold=_COSINE_THRESHOLD
    )


_ANN_TABLES = 8
_ANN_PLANES = 2
_ANN_K = 5
_ANN_DIM = 64  # embeddings table dim at every sf (TESTDATA.md)


def _ann_lsh_oracle() -> str:
    """DuckDB SQL reproducing ann_lsh_topk bit-for-bit.

    The md5-Rademacher hyperplanes inline as ±1 list literals (the
    exact same values the Spark plan uses — both sides call
    rademacher_planes-equivalent constructions with no RNG), so bucket
    assignment, candidate pairs, micro-rounded cosines, and ranks are
    all engine-neutral. Only schema-fixed constants are interpolated.
    """
    from laser_hadoop_spark.operators.similarity import rademacher_planes

    tables = rademacher_planes(_ANN_TABLES, _ANN_PLANES, _ANN_DIM)
    branches = []
    for t, planes in enumerate(tables):
        bits = " + ".join(
            f"(CASE WHEN list_inner_product(v, "
            f"[{', '.join(str(w) for w in plane)}]) > 0 "
            f"THEN {1 << p} ELSE 0 END)"
            for p, plane in enumerate(planes)
        )
        branches.append(f"SELECT vec_id, v, {t} AS tbl, {bits} AS bucket FROM e")
    buckets = "\n        UNION ALL ".join(branches)
    return f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    buckets AS (
        {buckets}
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM buckets a JOIN buckets b
          ON a.tbl = b.tbl AND a.bucket = b.bucket
         AND a.vec_id <> b.vec_id
    ),
    scored AS (
        SELECT c.id_a, c.id_b,
               CAST(ROUND(1000000 * list_inner_product(ea.v, eb.v)
                    / (SQRT(list_inner_product(ea.v, ea.v))
                       * SQRT(list_inner_product(eb.v, eb.v))))
                    AS BIGINT) AS cosine_micro
        FROM cand c
        JOIN e ea ON ea.vec_id = c.id_a
        JOIN e eb ON eb.vec_id = c.id_b
    ),
    ranked AS (
        SELECT id_a, id_b, cosine_micro,
               ROW_NUMBER() OVER (PARTITION BY id_a
                                  ORDER BY cosine_micro DESC, id_b) AS rnk
        FROM scored
    )
    SELECT id_a, id_b, cosine_micro, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {_ANN_K}
    ORDER BY id_a, rnk
    """


@register("q_ann_lsh", oracle=_ann_lsh_oracle(), tags=("pairs",))
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 (scale path): LSH-bucketed approximate nearest neighbors —
    fully oracle-pinned (round-5 verdict item 5).

    Random-hyperplane sign-LSH buckets vectors; exact cosine runs only
    within buckets. The hyperplanes are md5-derived ±1 literals
    (operators/similarity.rademacher_planes) instead of seeded
    np.random, so the DuckDB oracle reproduces bucket assignment and
    candidate generation exactly; scores are micro-rounded bigints and
    ranks break ties on neighbor id, so the whole (id_a, id_b,
    cosine_micro, rnk) output hash-checks.

    100 TB: candidates are generated per (table, bucket) after one hash
    repartition — never a cross join; per-bucket width is tuned by
    n_planes, recall by n_tables (OR-amplification), and the vector
    payload crosses the wire once, in that repartition
    (operators/similarity.ann_lsh_topk, the one sign-LSH entry point).
    """
    from laser_hadoop_spark.operators.similarity import ann_lsh_topk

    emb = table(spark, sf_dir, "embeddings")
    return (
        ann_lsh_topk(
            emb,
            id_col="vec_id",
            vec_col="embedding",
            k=_ANN_K,
            n_planes=_ANN_PLANES,
            n_tables=_ANN_TABLES,
        )
        .orderBy("id_a", "rnk")
    )


_ANN_PROD_PLANES = 8
_ANN_PROD_TABLES = 32


@register("q_ann_lsh_prod", oracle=None, tags=("pairs",))  # density study: rows-only
def q_ann_lsh_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 (scale path): sign-LSH ANN at PRODUCTION bucket density
    (VERDICT_r11 item 6).

    Same ann_lsh_topk kernel and md5-Rademacher plane family as
    q_ann_lsh, but parameterized by the r8 scaling rule instead of the
    oracle's recall envelope: n_planes = log2(n / target_bucket_rows)
    = 8 at the sf0.1 corpus (2000 vectors / 256 buckets ≈ 8-row
    buckets — the bucket size you'd tune to at any n), with the
    OR-banding widened to n_tables=32 to buy recall back. Measured on
    this corpus (near-isotropic, LSH's worst case): candidate fraction
    13.4% of all pairs vs 89% under the oracle-pinned n_planes=2 —
    the 6.6x candidate cut IS the production-cost story the bench line
    tracks — at recall@1 0.49-0.57 (deterministic planes, so the
    numbers are exact per dataset; recall-gated vs the exact top-k
    sibling in tests/test_round12_fixes.py, the q_embedding_topk
    discipline).

    Rows-only: output depends on every bucket's membership under 256
    buckets x 32 tables — inlining 32x8x64 plane literals into a
    DuckDB oracle would be a 16k-term SQL string; the kernel itself is
    already hash-certified end-to-end by q_ann_lsh at the oracle
    setting, and the driver's rows>0/schema check plus the pytest
    recall gate cover this parameterization. Plan shape: identical to
    q_ann_lsh's — the planes ride in the bucketing kernel's closure,
    so plan size is O(1) in the widths (an unrolled literal tree at
    these widths would be 16k Column constructions, ~140 s of pure
    plan build).
    """
    from laser_hadoop_spark.operators.similarity import ann_lsh_topk

    emb = table(spark, sf_dir, "embeddings")
    return (
        ann_lsh_topk(
            emb,
            id_col="vec_id",
            vec_col="embedding",
            k=_ANN_K,
            n_planes=_ANN_PROD_PLANES,
            n_tables=_ANN_PROD_TABLES,
        )
        .orderBy("id_a", "rnk")
    )


@register("q_ann_ivf", oracle=None, tags=("pairs",))  # seeded k-means cells: rows-only
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 (scale path, IVF form): inverted-file approximate neighbors.

    Deterministic k-means partitions the space into Voronoi cells;
    every vector joins only against its n_probe nearest cells, with
    n_probe AUTO-TUNED from the training sample to an estimated 0.5
    recall@k (tune_n_probe — on the isotropic synthetic embeddings
    this lands higher than the old fixed n_probe=2's measured 0.38;
    clustered real embeddings tune lower/cheaper). Cell membership
    depends on the seeded centroids -> rows-only check; recall against
    the brute-force baseline is pytest-verified in
    tests/test_operators.py.
    """
    from laser_hadoop_spark.operators.similarity import ivf_topk

    emb = table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, id_col="vec_id", vec_col="embedding", k=5, recall_target=0.5
    )


def _marker_sql(markers: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in markers)
    return (
        "CAST(len(list_filter(string_split(text, ' '), t -> t IN (" + inlist + "))) "
        "AS DOUBLE) / len(string_split(text, ' '))"
    )


@register(
    "q_curation_pipeline",
    oracle=rf"""
    WITH deduped AS (
        SELECT * FROM documents
        QUALIFY doc_id = MIN(doc_id) OVER (
            PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))))
    ), scored AS (
        SELECT doc_id, text,
               {_marker_sql(("the", "a", "of", "and", "to", "in", "is", "on"))} AS s_en,
               {_marker_sql(("el", "la", "de", "que", "y", "en"))} AS s_es,
               {_marker_sql(("le", "la", "de", "et", "les", "des"))} AS s_fr,
               {_marker_sql(("der", "die", "und", "das", "ist", "von"))} AS s_de,
               CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
                   / length(text) AS punct
        FROM deduped
        WHERE length(text) BETWEEN 50 AND 10000
    ), labeled AS (
        SELECT doc_id, text,
               CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
                    WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                    WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                    WHEN s_es >= s_fr THEN 'es'
                    ELSE 'fr' END AS predicted_lang
        FROM scored
        WHERE s_en >= 0.02 AND punct <= 0.2
    )
    SELECT doc_id, predicted_lang,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens
    FROM labeled
    WHERE predicted_lang = 'en'
    """,
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation core (plans/curation.py stages 1-3): exact
    fingerprint dedup -> quality band -> language-ID filter, plus a
    whitespace token count per surviving document.

    The SQL-expressible spine of the training-data pipeline; the
    SimHash near-dup stage (stage 4) is engine-specific and covered by
    pytest (tests/test_pipeline.py) instead. One full-data shuffle
    (the fingerprint dedup); the filters fuse into the stage above it,
    which runs one task per core.
    """
    from laser_hadoop_spark.operators.text import token_count_ws
    from laser_hadoop_spark.plans.curation import curation_plan

    d = table(spark, sf_dir, "documents")
    return curation_plan(d).select(
        "doc_id", "predicted_lang", token_count_ws().alias("n_tokens")
    )


@register(
    "q_text_chunks",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), sized AS (
        SELECT doc_id, w, len(w) AS n FROM t
    ), starts AS (
        SELECT doc_id, w, n,
               UNNEST(list_transform(
                   generate_series(0, CAST(ceil(greatest(n - 64, 0) * 1.0 / 48) AS INT)),
                   i -> least(1 + i * 48, greatest(n - 64 + 1, 1)))) AS chunk_start
        FROM sized
    )
    SELECT doc_id, CAST(chunk_start AS INT) AS chunk_start,
           array_to_string(w[chunk_start : chunk_start + 63], ' ') AS chunk_text
    FROM starts
    """,
)
def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM context-window chunking: 64-token windows every 48 tokens,
    tail clamped to a full window. One row per (doc, chunk); the whole
    transform is scan-local (split once, slice per window, explode) —
    no shuffle at any scale.
    """
    from laser_hadoop_spark.operators.text import token_chunks

    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.explode(token_chunks("text", size=64, stride=48)).alias("c")
    ).select("doc_id", F.col("c.chunk_start"), F.col("c.chunk_text"))


@register(
    "q_text_tfidf",
    oracle="""
    WITH toks AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents
    ), tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token
    ), df AS (
        SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY token
    ), n AS (
        SELECT COUNT(*) AS n_docs FROM documents
    )
    SELECT tf.doc_id, tf.token, tf.tf, df.df,
           ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS tfidf
    FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
    """,
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 extension: TF-IDF scores per (document, token).

    Two aggregations over one exploded token relation. The tf-df join
    strategy is left to AQE: at test scale the df table broadcasts on
    its runtime size; at 100 TB its rare-token long tail can outgrow a
    broadcast and AQE falls back to a shuffle join instead of OOMing a
    forced hint (cap the vocabulary with a document-frequency floor to
    get the broadcast back). The corpus count rides in as a 1-row
    broadcast cross join so the whole query is one lazy plan — no
    separate driver count action.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = toks.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count("*").cast("double").alias("__n_docs"))
    return tf.join(df_, "token").crossJoin(F.broadcast(n)).select(
        "doc_id",
        "token",
        "tf",
        "df",
        F.round(
            F.col("tf") * F.log(F.col("__n_docs") / F.col("df")), 4
        ).alias("tfidf"),
    )


@register(
    "q_dedup_clusters",
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
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), edges AS (
        SELECT doc_a, doc_b
        FROM pairs
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE n_common * 1.0 / (sa.n + sb.n - n_common) > {_JACCARD_THRESHOLD}
    ), sym AS (
        SELECT doc_a AS a, doc_b AS b FROM edges
        UNION SELECT doc_b, doc_a FROM edges
    ), walk AS (
        SELECT a AS node, a AS comp FROM sym
        UNION
        SELECT s.a, w.comp FROM sym s JOIN walk w ON s.b = w.node
    )
    SELECT node AS doc_id, MIN(comp) AS cluster_id,
           node = MIN(comp) AS is_representative
    FROM walk GROUP BY node
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: n-gram Jaccard pairs -> connected
    components -> min-id representative per cluster.

    The iterative min-label propagation (operators/graph.py) is the
    non-SQL-expressible step the oracle restates with a recursive CTE —
    both compute the unique fixpoint, so even this iterative operator
    is value-checked, not just rows-checked.
    """
    from laser_hadoop_spark.operators.dedup import ngram_jaccard_pairs
    from laser_hadoop_spark.operators.graph import dedup_clusters

    d = table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, id_col="doc_id", text_col="text", n=3, threshold=_JACCARD_THRESHOLD
    )
    return dedup_clusters(pairs)


@register(
    "q_sample_quota",
    oracle="""
    SELECT doc_id, source FROM documents
    QUALIFY ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) <= 50
    """,
)
def q_sample_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture quota: exactly 50 documents per source,
    deterministic (ranked by doc_id). One shuffle on the stratum key."""
    from laser_hadoop_spark.operators.sampling import quota_sample

    d = table(spark, sf_dir, "documents")
    return quota_sample(
        d.select("doc_id", "source"), strata_col="source",
        n_per_stratum=50, order_col="doc_id",
    )


@register(
    "q_sample_stratified",
    oracle="""
    SELECT doc_id, text, lang, source, n_chars FROM documents
    WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|42'), 1, 6))
               AS BIGINT)
          < CASE WHEN CAST(('0x' || substring(md5(source), 1, 15)) AS BIGINT)
                      % 2 = 0
                 THEN 8388608 ELSE 3355443 END
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture weights: deterministic per-source Bernoulli sample.

    Sampling decisions are per-row md5-threshold coin flips against a
    fraction DERIVED per-row from the stratum value (even source-hash
    -> 0.5, odd -> 0.2) — no distinct-collect of the strata, no count
    pass, no shuffle; the mixture rule travels with the scan. Pinned
    from rows-only to a full oracle (round-6 VERDICT item 2) by
    replacing the engine-seeded `rand(42)` with the X218 md5-uniform
    threshold (keep iff the 24-bit digest prefix of md5(doc_id||'|42')
    is below floor(frac * 2^24): 8388608 for 0.5, 3355443 for 0.2);
    the stratum parity rule moves from xxhash64 (Spark-only) to a
    60-bit md5 prefix both engines spell. Same binomial semantics,
    but reproducible across engines/runs/partitionings — the property
    a 100 TB backfill actually needs. The pytest binomial-tolerance
    test stays as a secondary distributional check.
    """
    from laser_hadoop_spark.operators.sampling import stratified_sample_hash

    d = table(spark, sf_dir, "documents")
    src_hash = F.conv(F.substring(F.md5("source"), 1, 15), 16, 10).cast("bigint")
    frac = F.when(src_hash % 2 == 0, F.lit(0.5)).otherwise(F.lit(0.2))
    return stratified_sample_hash(d, key=F.col("doc_id"), fraction=frac, salt="42")


@register(
    "q_contamination",
    tags=("pairs",),
    oracle="""
    WITH corpus AS (
        SELECT * FROM documents WHERE source <> 'src0'
    ), bench AS (
        SELECT * FROM documents WHERE source = 'src0'
    ), ctoks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM corpus
    ), cshingles AS (
        SELECT DISTINCT doc_id,
               UNNEST(list_transform(generate_series(1, len(t) - 2),
                                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                   AS shingle
        FROM ctoks
    ), btoks AS (
        SELECT string_split(text, ' ') AS t FROM bench
    ), bshingles AS (
        SELECT DISTINCT UNNEST(list_transform(generate_series(1, len(t) - 2),
                                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                   AS shingle
        FROM btoks
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n_shingles FROM cshingles GROUP BY doc_id
    ), hits AS (
        SELECT c.doc_id, COUNT(*) AS n_contaminated
        FROM cshingles c JOIN bshingles b ON c.shingle = b.shingle
        GROUP BY c.doc_id
    )
    SELECT h.doc_id, s.n_shingles, h.n_contaminated,
           ROUND(h.n_contaminated * 1.0 / s.n_shingles, 4) AS overlap
    FROM hits h JOIN sizes s ON h.doc_id = s.doc_id
    WHERE h.n_contaminated * 1.0 / s.n_shingles >= 0.2
    """,
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination pass: corpus docs (sources != src0) sharing >=20%
    of their 3-gram shingles with the held-out benchmark split (src0).
    Benchmark shingle hashes broadcast; the corpus shuffles 8-byte
    hashes only."""
    from laser_hadoop_spark.operators.dedup import contamination_overlap

    d = table(spark, sf_dir, "documents")
    return contamination_overlap(
        d.where(F.col("source") != "src0"),
        d.where(F.col("source") == "src0"),
        id_col="doc_id", text_col="text", n=3, min_overlap=0.2,
    )


@register(
    "q_doc_repetition",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
        SELECT doc_id, len(t) - 2 AS n_shingles,
               UNNEST(list_transform(generate_series(1, len(t) - 2),
                                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                   AS shingle
        FROM toks WHERE len(t) >= 3
    )
    SELECT doc_id, n_shingles, COUNT(DISTINCT shingle) AS n_distinct,
           ROUND(1.0 - COUNT(DISTINCT shingle) * 1.0 / n_shingles, 4) AS rep_ratio
    FROM sh
    GROUP BY doc_id, n_shingles
    """,
)
def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition ratio: 1 - distinct/total 3-gram shingles.

    The duplicated-n-gram quality signal used by C4/Gopher-style
    filters: boilerplate and looping generations repeat n-grams, clean
    prose doesn't. Both counts come from the shingle array built
    scan-side (no explode, no shuffle of shingle strings — the only
    exchange is the final tiny per-doc aggregate, and even that
    disappears because the counts are computed per row). At 100 TB this
    stays a pure map: each doc computes its own ratio independently.
    """
    d = table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    n_shingles = F.size(t) - 2
    n_distinct = F.size(word_shingles("text", n=3))
    return (
        d.where(F.size(t) >= 3)
        .select(
            "doc_id",
            n_shingles.cast("bigint").alias("n_shingles"),
            n_distinct.cast("bigint").alias("n_distinct"),
            F.round(1.0 - n_distinct / n_shingles, 4).alias("rep_ratio"),
        )
    )


@register(
    "q_embedding_centroid",
    oracle="""
    WITH e AS (
        SELECT label, embedding,
               UNNEST(generate_series(1, len(embedding))) AS pos1
        FROM embeddings
    )
    SELECT label, pos1 - 1 AS pos, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(embedding[pos1] AS DECIMAL(18,7))) / COUNT(*), 4)
                AS DOUBLE) + 0.0 AS centroid_val
    FROM e
    GROUP BY 1, 2
    """,
)
def q_embedding_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids via posexplode + exact decimal mean.

    The building block of semantic dedup / cluster-then-sample
    pipelines: mean vector per class. Floats are snapped to
    decimal(18,7) before summing so the mean is order-independent and
    hash-matches the oracle (same pattern as money_sum; float
    summation order would otherwise differ between engines). Shuffles
    |labels|·dim tiny rows after a map-side partial aggregate.
    """
    e = table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("p", "v"))
        .groupBy("label", F.col("p").cast("bigint").alias("pos"))
        .agg(
            F.count("*").alias("n"),
            (
                F.round(
                    F.sum(F.col("v").cast("decimal(18,7)")) / F.count("*"), 4
                ).cast("double")
                + F.lit(0.0)  # -0.0 -> +0.0, IEEE; keeps driver hash stable
            ).alias("centroid_val"),
        )
    )


@register(
    "q_semantic_dedup",
    tags=("pairs",),
    oracle="""
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    )
    SELECT b.label, b.vec_id AS drop_id, MIN(a.vec_id) AS keep_id
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) > 0.25
    GROUP BY b.label, b.vec_id
    """,
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) dedup within clusters.

    Each vector with an earlier same-label neighbor above cosine 0.25 is
    mapped to its lowest-id keeper — the cluster-then-dedup pattern
    (SemDeDup-style) where clustering bounds the pairwise work. One
    shuffle on the cluster key, then a per-cluster BLAS gram matrix.
    """
    from laser_hadoop_spark.operators.similarity import semantic_dedup

    emb = table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, id_col="vec_id", vec_col="embedding", cluster_col="label",
        threshold=0.25,
    )


@register(
    "q_pretrain_pipeline",
    oracle=rf"""
    WITH corpus AS (
        SELECT * FROM documents WHERE source <> 'src0'
    ), bench AS (
        SELECT * FROM documents WHERE source = 'src0'
    ), deduped AS (
        SELECT * FROM corpus
        QUALIFY doc_id = MIN(doc_id) OVER (
            PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))))
    ), scored AS (
        SELECT doc_id, source, text,
               {_marker_sql(("the", "a", "of", "and", "to", "in", "is", "on"))} AS s_en,
               {_marker_sql(("el", "la", "de", "que", "y", "en"))} AS s_es,
               {_marker_sql(("le", "la", "de", "et", "les", "des"))} AS s_fr,
               {_marker_sql(("der", "die", "und", "das", "ist", "von"))} AS s_de,
               CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
                   / length(text) AS punct
        FROM deduped
        WHERE length(text) BETWEEN 50 AND 10000
    ), curated AS (
        SELECT * FROM (
            SELECT doc_id, source, text,
                   CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
                        WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                        WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                        WHEN s_es >= s_fr THEN 'es'
                        ELSE 'fr' END AS predicted_lang
            FROM scored
            WHERE s_en >= 0.02 AND punct <= 0.2
        ) WHERE predicted_lang = 'en'
    ), ctoks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM curated
    ), cshingles AS (
        SELECT DISTINCT doc_id,
               UNNEST(list_transform(generate_series(1, len(t) - 2),
                                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                   AS shingle
        FROM ctoks
    ), bshingles AS (
        SELECT DISTINCT UNNEST(list_transform(generate_series(1, len(t) - 2),
                                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                   AS shingle
        FROM (SELECT string_split(text, ' ') AS t FROM bench)
    ), contaminated AS (
        SELECT c.doc_id
        FROM cshingles c JOIN bshingles b ON c.shingle = b.shingle
        GROUP BY c.doc_id
        HAVING COUNT(*) * 1.0
               / (SELECT COUNT(*) FROM cshingles s WHERE s.doc_id = c.doc_id) >= 0.2
    ), sampled AS (
        SELECT doc_id, source, text FROM curated
        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
        QUALIFY ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) <= 20
    ), chunks AS (
        SELECT doc_id, source,
               array_to_string(w[chunk_start : chunk_start + 63], ' ') AS chunk_text
        FROM (
            SELECT doc_id, source, w,
                   UNNEST(list_transform(
                       generate_series(0, CAST(ceil(greatest(len(w) - 64, 0) * 1.0
                                                    / 48) AS INT)),
                       i -> least(1 + i * 48, greatest(len(w) - 64 + 1, 1))))
                       AS chunk_start
            FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM sampled)
        )
    )
    SELECT source, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_chunks,
           CAST(SUM(len(regexp_split_to_array(trim(chunk_text), '\s+'))) AS BIGINT)
               AS n_tokens
    FROM chunks
    GROUP BY source
    """,
)
def q_pretrain_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship composition: the full pretraining-data pipeline's
    per-source accounting (plans/pretrain.py — curation, benchmark
    decontamination, per-source quota sampling, sliding-window
    chunking, token totals), hash-matched against a DuckDB restatement
    of all five stages.

    One full-data shuffle (fingerprint dedup) + one broadcast
    (benchmark shingle hashes) + one window (quota) — everything else
    is scan-local; the 100 TB shape of the whole pipeline.
    """
    from laser_hadoop_spark.plans.pretrain import pretrain_plan

    d = table(spark, sf_dir, "documents")
    res = pretrain_plan(
        d.where(F.col("source") != "src0"),
        d.where(F.col("source") == "src0"),
    )
    return res.source_stats


@register(
    "q_pack_sequences",
    oracle=r"""
    WITH RECURSIVE sized AS (
        SELECT CAST(doc_id % 8 AS INT) AS shard,
               doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                   AS n_tokens,
               ROW_NUMBER() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
        FROM documents
    ), pack AS (
        SELECT shard, doc_id, n_tokens, rn,
               CAST(0 AS BIGINT) AS bin_id,
               n_tokens AS bin_fill
        FROM sized WHERE rn = 1
        UNION ALL
        SELECT s.shard, s.doc_id, s.n_tokens, s.rn,
               CAST(CASE WHEN p.bin_fill + s.n_tokens > 128
                         THEN p.bin_id + 1 ELSE p.bin_id END AS BIGINT),
               CAST(CASE WHEN p.bin_fill + s.n_tokens > 128
                         THEN s.n_tokens ELSE p.bin_fill + s.n_tokens END AS BIGINT)
        FROM pack p JOIN sized s ON s.shard = p.shard AND s.rn = p.rn + 1
    )
    SELECT shard, doc_id, n_tokens, bin_id, bin_fill FROM pack
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X44: sequence packing — documents greedily packed into
    128-token training bins within 8 id-hash shards (operators/
    packing.pack_sequences). The greedy fold is inherently sequential,
    so the oracle restates it as a per-shard recursive CTE walking docs
    in id order; the Spark side runs one applyInPandas kernel per
    shard over (id, n_tokens) pairs only — 16 bytes/row to Python,
    shard count scales with the cluster."""
    from laser_hadoop_spark.operators.packing import pack_sequences

    d = table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint").alias("n_tokens"),
    )
    return pack_sequences(
        sized, id_col="doc_id", tokens_col="n_tokens", budget=128, n_shards=8
    )


@register(
    "q_line_dedup",
    oracle="""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), lines AS (
        SELECT doc_id, pos,
               array_to_string(w[pos * 3 + 1 : pos * 3 + 3], ' ') AS line
        FROM (
            SELECT doc_id, w,
                   UNNEST(generate_series(0,
                       CAST(ceil(len(w) / 3.0) AS INT) - 1)) AS pos
            FROM w
        )
    ), dup AS (
        SELECT line FROM lines GROUP BY line HAVING COUNT(DISTINCT doc_id) > 1
    ), kept AS (
        SELECT * FROM lines WHERE line NOT IN (SELECT line FROM dup)
    )
    SELECT n.doc_id, n.n_lines,
           COALESCE(k.n_kept, 0) AS n_kept,
           COALESCE(k.new_text, '') AS new_text
    FROM (SELECT doc_id, COUNT(*) AS n_lines FROM lines GROUP BY doc_id) n
    LEFT JOIN (
        SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(line, ' ' ORDER BY pos) AS new_text
        FROM kept GROUP BY doc_id
    ) k ON n.doc_id = k.doc_id
    """,
)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style line-level dedup (operators/dedup.line_dedup):
    drop every 3-token line appearing in >1 distinct documents, then
    reassemble remaining lines in document order. Corpus line
    frequencies group by 16-byte md5 keys; the oracle groups by the
    line text itself (md5 is injective on this corpus), so values must
    agree end-to-end."""
    from laser_hadoop_spark.operators.dedup import line_dedup

    d = table(spark, sf_dir, "documents")
    return line_dedup(
        d.select("doc_id", "text"), id_col="doc_id", text_col="text",
        line_tokens=3, max_docs_per_line=1,
    )


@register(
    "q_redact_pii",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
               '[a-zA-Z0-9._%+-]{1,64}@[a-zA-Z0-9.-]{1,255}\.[a-zA-Z]{2,63}')) AS INT)
               AS n_email,
           CAST(len(regexp_extract_all(text,
               '\b\d{3}-\d{3}-\d{4}\b')) AS INT) AS n_phone,
           CAST(len(regexp_extract_all(text,
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ipv4,
           regexp_replace(
               regexp_replace(
                   regexp_replace(text,
                       '[a-zA-Z0-9._%+-]{1,64}@[a-zA-Z0-9.-]{1,255}\.[a-zA-Z]{2,63}',
                       '<EMAIL>', 'g'),
                   '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')
               AS redacted
    FROM documents
    """,
)
def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (operators/text.redact_pii): emails / phones
    / IPv4s replaced with typed placeholders + per-category counts.
    Pure codegen'd regexp expressions, scan-local, no shuffle; the
    patterns stay in the regex subset Java and RE2 agree on."""
    from laser_hadoop_spark.operators.text import redact_pii

    d = table(spark, sf_dir, "documents")
    return redact_pii(d.select("doc_id", "text"), text_col="text").select(
        "doc_id", "n_email", "n_phone", "n_ipv4", "redacted"
    )


@register(
    "q_quantize_embeddings",
    oracle="""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), s AS (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        FROM v
    ), q AS (
        SELECT vec_id, v, scale,
               list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INT)) AS qv,
               list_transform(v, x -> floor(x / scale + 0.5) * scale) AS deq
        FROM s
    ), m AS (
        SELECT vec_id, scale, qv,
               list_max(list_transform(generate_series(1, len(v)),
                                       i -> abs(v[i] - deq[i]))) AS max_err,
               list_sum(list_transform(generate_series(1, len(v)),
                                       i -> v[i] * deq[i]))
               / (sqrt(list_sum(list_transform(v, x -> x * x)))
                  * sqrt(list_sum(list_transform(deq, x -> x * x))))
                   AS cos_fid
        FROM q
    )
    SELECT vec_id, ROUND(scale, 6) AS scale,
           ROUND(max_err, 6) AS max_err,
           ROUND(cos_fid, 6) AS cos_fidelity,
           UNNEST(generate_series(0, len(qv) - 1)) AS pos,
           UNNEST(qv) AS q_val
    FROM m
    """,
)
def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization (operators/similarity.
    quantize_embeddings): per-vector symmetric scale, quantized values
    (posexploded — the driver canonicalizer rejects array cells),
    max reconstruction error and cosine fidelity. Pure codegen'd
    higher-order array expressions; round-half-up spelled as
    floor(x/scale + 0.5) so both engines agree bit-for-bit."""
    from laser_hadoop_spark.operators.similarity import quantize_embeddings

    e = table(spark, sf_dir, "embeddings")
    q = quantize_embeddings(e, id_col="vec_id", vec_col="embedding", bits=8)
    return q.select(
        "vec_id", "scale", "max_err", "cos_fidelity",
        F.posexplode("q_vec").alias("pos", "q_val"),
    )


@register(
    "q_inverted_index",
    oracle="""
    WITH toks AS (
        SELECT DISTINCT token, doc_id FROM (
            SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
            FROM documents
        )
    ),
    g AS (
        SELECT token, COUNT(*) AS df,
               STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
                   AS postings
        FROM toks GROUP BY token
    )
    SELECT token, df, postings FROM g WHERE df BETWEEN 5 AND 40
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-closure: inverted-index (posting-list) construction.

    token -> document frequency + the sorted posting list of doc ids,
    for mid-frequency tokens (5 <= df <= 40; head stopwords and
    singleton hapaxes are the classic index prune). The search-index
    build shape: explode -> distinct (token, doc) -> one groupBy. The
    posting list is emitted as a CSV string because the driver
    canonicalizer hashes scalar cells.

    Scale: distinct + groupBy shuffle on the token hash; posting lists
    are bounded above by the df cap, so no group outgrows memory —
    uncapped index builds should instead chunk postings per (token,
    bucket) the way operators/chunking.py batches rows.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).distinct()
    return (
        toks.groupBy("token")
        .agg(
            F.count("*").alias("df"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
        .where(F.col("df").between(5, 40))
    )


@register(
    "q_winnow_fingerprints",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS arr FROM documents
    ),
    grams AS (
        SELECT doc_id, i,
               CAST(('0x' || substring(
                   md5(arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2]),
                   1, 15)) AS BIGINT) AS h
        FROM (
            SELECT doc_id, arr,
                   unnest(generate_series(1, len(arr) - 2)) AS i
            FROM toks WHERE len(arr) >= 3
        )
    ),
    wins AS (
        SELECT doc_id, i,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
               COUNT(*) OVER (PARTITION BY doc_id) AS m
        FROM grams
    )
    SELECT DISTINCT doc_id, fp FROM wins WHERE i <= m - 3
    """,
)
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-closure: winnowing document fingerprints (MOSS algorithm).

    Robust near-dup/plagiarism fingerprinting: hash every 3-gram, then
    keep the MINIMUM hash of each sliding window of 4 — guarantees any
    shared substring of >= 6 tokens contributes at least one identical
    fingerprint to both documents, while storing only ~1/4 of the gram
    hashes (the winnowing density bound). Candidate pairs then come
    from an equi-join on fp, exactly like the shingle join in
    operators/dedup.py — this query verifies the fingerprint extraction
    itself.

    Cross-engine exactness: grams hash via a 60-bit md5 prefix, the one
    hash both engines spell identically (conv(substr(md5,1,15),16,10)
    here, '0x'-cast in DuckDB) — xxhash64 keys elsewhere are
    engine-internal, but winnowing SELECTS BY hash ORDER, so the hash
    itself must agree. Plan: scan-local gram hashing (zip_with over
    slice views, no per-gram string explode until posexplode), one
    window per doc_id partition, one distinct. The raw rows are
    repartitioned BEFORE the gram/hash projection: on the bench's
    single sub-split parquet file the scan is one task, and without
    the rebalance all the md5 work runs serially (PERF_NOTES round
    4b); on a multi-split corpus AQE coalesces the no-op.
    """
    d = table(spark, sf_dir, "documents").select("doc_id", "text").repartition(
        spark.sparkContext.defaultParallelism
    )
    t = F.split(F.col("text"), " ")
    m3 = F.greatest(F.size(t) - 2, F.lit(0))
    s0, s1, s2 = (F.slice(t, j + 1, m3) for j in range(3))
    grams = F.zip_with(F.zip_with(s0, s1, lambda a, b: F.concat_ws(" ", a, b)),
                       s2, lambda a, b: F.concat_ws(" ", a, b))
    hashes = F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("bigint"),
    )
    exploded = (
        d.where(F.size(t) >= 3)
        .select("doc_id", F.posexplode(hashes).alias("i0", "h"))
        .select("doc_id", (F.col("i0") + 1).alias("i"), "h")
    )
    w_min = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, 3)
    w_cnt = Window.partitionBy("doc_id")
    wins = exploded.select(
        "doc_id",
        "i",
        F.min("h").over(w_min).alias("fp"),
        F.count("*").over(w_cnt).alias("m"),
    )
    return wins.where(F.col("i") <= F.col("m") - 3).select("doc_id", "fp").distinct()


# Bounded sweep variant (VERDICT_r11 item 5, q_damerau_pairs
# precedent): the DuckDB oracle is the exact ALL-shared-tokens join —
# 471 s at sf0.1, ~quadratic in document count, all oracle-side cost —
# so above driver scale BOTH sides restrict to the same deterministic
# md5 quarter-sample of doc_ids (first hex nibble in {0..3} => 1/4 of
# docs => ~1/16 of token-join pairs). prefix_filter_pairs' global
# rarity order is then computed on the sample on BOTH engines, so the
# no-false-negative guarantee being certified is the same property on
# the restricted corpus; the driver (sf0.01) always runs the full
# oracle.
_PREFIX_SAMPLE_NIBBLES = ("0", "1", "2", "3")
_PREFIX_SAMPLE_SQL = (
    "substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1', '2', '3')"
)


def _prefix_filter_pairs_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_prefix_filter_pairs restricted to the deterministic md5 sample."""
    from laser_hadoop_spark.operators.dedup import prefix_filter_pairs

    d = table(spark, sf_dir, "documents").where(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
            *_PREFIX_SAMPLE_NIBBLES
        )
    )
    return prefix_filter_pairs(d, threshold_bp=7000)


@register(
    "q_prefix_filter_pairs",
    tags=("pairs",),
    oracle="""
    WITH tok AS (
        SELECT DISTINCT doc_id AS doc, token FROM (
            SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
            FROM documents
        )
    ),
    sizes AS (SELECT doc, COUNT(*) AS n FROM tok GROUP BY doc),
    pairs AS (
        SELECT a.doc AS da, b.doc AS db, COUNT(*) AS overlap
        FROM tok a JOIN tok b
          ON a.token = b.token AND a.doc < b.doc
        GROUP BY 1, 2
    )
    SELECT da, db,
           CAST(overlap * 10000 // (sa.n + sb.n - overlap) AS BIGINT)
               AS jaccard_bp
    FROM pairs
    JOIN sizes sa ON sa.doc = da
    JOIN sizes sb ON sb.doc = db
    WHERE overlap * 10000 >= 7000 * (sa.n + sb.n - overlap)
    """,
    bounded_fn=_prefix_filter_pairs_bounded,
    bounded_oracle=f"""
    WITH ds AS MATERIALIZED (SELECT * FROM documents WHERE {_PREFIX_SAMPLE_SQL}),
    tok AS MATERIALIZED (
        SELECT DISTINCT doc_id AS doc, token FROM (
            SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
            FROM ds
        )
    ),
    sizes AS (SELECT doc, COUNT(*) AS n FROM tok GROUP BY doc),
    pairs AS (
        SELECT a.doc AS da, b.doc AS db, COUNT(*) AS overlap
        FROM tok a JOIN tok b
          ON a.token = b.token AND a.doc < b.doc
        GROUP BY 1, 2
    )
    SELECT da, db,
           CAST(overlap * 10000 // (sa.n + sb.n - overlap) AS BIGINT)
               AS jaccard_bp
    FROM pairs
    JOIN sizes sa ON sa.doc = da
    JOIN sizes sb ON sb.doc = db
    WHERE overlap * 10000 >= 7000 * (sa.n + sb.n - overlap)
    """,
)
def q_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-closure: PPJoin-style prefix-filtered similarity join.

    Token-set Jaccard >= 0.70 pairs where candidates come ONLY from the
    rarest (|d| - ceil(0.7|d|) + 1) tokens of each document under a
    global rarity order (operators/dedup.prefix_filter_pairs). The
    oracle is the ALL-shared-tokens exact join — so a hash match proves
    the prefix filter's no-false-negative guarantee on this corpus, not
    just the arithmetic. Above driver scale the sweep uses the
    registered bounded variant (same kernel, md5 quarter-sampled
    documents on BOTH engines) because the oracle's token self-join is
    quadratic in document count — see _PREFIX_SAMPLE_SQL.
    """
    from laser_hadoop_spark.operators.dedup import prefix_filter_pairs

    d = table(spark, sf_dir, "documents")
    return prefix_filter_pairs(d, threshold_bp=7000)


@register(
    "q_feature_hashing",
    oracle="""
    WITH toks AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
        FROM documents
    ),
    hashed AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5(token), 1, 15)) AS BIGINT) % 256
                   AS bucket
        FROM toks
    )
    SELECT doc_id, CAST(bucket AS INT) AS bucket, COUNT(*) AS tf
    FROM hashed
    GROUP BY doc_id, bucket
    """,
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML-preprocessing closure: the hashing trick (feature hashing).

    Tokens hash into a fixed 256-bucket vocabulary-free feature space —
    the preprocessing step that makes text featurization stateless at
    100 TB (no vocabulary table to build, broadcast, or keep in sync;
    collisions are the accepted trade). Sparse (doc, bucket, tf)
    output; a dense vector view is one pivot/array_agg away. Uses the
    cross-engine 60-bit md5-prefix hash (the q_winnow_fingerprints
    convention) because bucket ids must agree with the oracle —
    in-engine pipelines would use xxhash64 for speed.
    """
    d = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("token")), 1, 15), 16, 10).cast("bigint") % 256
    )
    return (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .select("doc_id", bucket.cast("int").alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("tf"))
    )


@register(
    "q_naive_bayes_train",
    oracle="""
    WITH toks AS (
        SELECT lang, UNNEST(string_split(text, ' ')) AS token
        FROM documents
    ),
    hashed AS (
        SELECT lang,
               CAST(CAST(('0x' || substring(md5(token), 1, 15)) AS BIGINT) % 64
                    AS INT) AS bucket
        FROM toks
    ),
    class_tot AS (SELECT lang, COUNT(*) AS n_class FROM hashed GROUP BY lang),
    feat AS (
        SELECT lang, bucket, COUNT(*) AS n FROM hashed GROUP BY lang, bucket
    ),
    grid AS (
        SELECT c.lang, b.bucket, c.n_class, COALESCE(f.n, 0) AS n
        FROM class_tot c
        CROSS JOIN (SELECT DISTINCT bucket FROM hashed) b
        LEFT JOIN feat f ON f.lang = c.lang AND f.bucket = b.bucket
    )
    SELECT lang, bucket, n,
           CAST(ROUND(LOG10(CAST(n + 1 AS DOUBLE) / (n_class + 64))
                      * 1000000) AS BIGINT) AS loglik_micro
    FROM grid
    """,
)
def q_naive_bayes_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML-closure: multinomial Naive Bayes training, exactly verified.

    Trains class-conditional token-bucket likelihoods over the hashed
    feature space of q_feature_hashing (64 buckets, labels = document
    language): P(bucket|class) with add-one smoothing, emitted as
    micro-fixed-point log10 likelihoods. Every input to the LOG is an
    exact integer ratio, and the per-value log10 rounds to micro-units
    BEFORE any aggregation touches it (the q_text_lm_score discipline),
    so both engines produce identical integers — NB training is pure
    counting, which is exactly why it scales to 100 TB as two
    aggregates (class totals + (class, bucket) counts) and why it is
    hash-checkable where gradient-trained models are not.

    Scoring a document is then a broadcast join of this table against
    its hashed buckets + one sum per class — the q_contamination shape.
    """
    d = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("token")), 1, 15), 16, 10).cast("bigint") % 64
    ).cast("int")
    hashed = d.select(
        "lang", F.explode(F.split("text", " ")).alias("token")
    ).select("lang", bucket.alias("bucket"))
    class_tot = hashed.groupBy("lang").agg(F.count("*").alias("n_class"))
    feat = hashed.groupBy("lang", "bucket").agg(F.count("*").alias("n"))
    buckets = hashed.select("bucket").distinct()
    grid = (
        class_tot.crossJoin(buckets)
        .join(feat, ["lang", "bucket"], "left")
        .select("lang", "bucket", "n_class", F.coalesce("n", F.lit(0)).alias("n"))
    )
    loglik = F.round(
        F.log10((F.col("n") + 1).cast("double") / (F.col("n_class") + 64))
        * 1_000_000
    ).cast("bigint")
    return grid.select("lang", "bucket", "n", loglik.alias("loglik_micro"))


def _nb_pipeline_sql(explode_expr: str, bucket_expr: str) -> str:
    """Shared NB train+score SQL, parameterized on the two dialect
    deltas: token explosion (UNNEST/string_split vs explode/split) and
    the 60-bit md5-prefix hex parse ('0x'-cast vs conv). Everything
    else — integer scoring, argmax, confusion counts — is common SQL,
    so both engines walk the identical micro-integer recurrence. All
    consumers derive from ONE compact (doc, class, bucket, tf) base
    aggregate. DuckDB materializes the CTE once; Spark instead inlines
    and column-prunes each consumer's copy (measured: no ReusedExchange
    — each pruned aggregate is a different canonical subplan), which is
    the optimizer's recompute-narrow-vs-materialize-wide trade, both
    fine at scale."""
    return f"""
    WITH toks AS (
        SELECT doc_id, lang, {explode_expr} AS token
        FROM documents
    ),
    hashed AS (
        SELECT doc_id, lang, {bucket_expr} AS bucket
        FROM toks
    ),
    base AS (
        SELECT doc_id, lang, bucket, COUNT(*) AS tf
        FROM hashed GROUP BY doc_id, lang, bucket
    ),
    class_tot AS (SELECT lang, SUM(tf) AS n_class FROM base GROUP BY lang),
    feat AS (
        SELECT lang, bucket, SUM(tf) AS n FROM base GROUP BY lang, bucket
    ),
    model AS (
        SELECT c.lang, b.bucket,
               CAST(ROUND(LOG10(CAST(COALESCE(f.n, 0) + 1 AS DOUBLE)
                                / (c.n_class + 64)) * 1000000) AS BIGINT)
                   AS loglik_micro
        FROM class_tot c
        CROSS JOIN (SELECT DISTINCT bucket FROM base) b
        LEFT JOIN feat f ON f.lang = c.lang AND f.bucket = b.bucket
    ),
    doc_cls AS (SELECT doc_id, ANY_VALUE(lang) AS labeled_lang
                FROM base GROUP BY doc_id),
    n_docs AS (SELECT COUNT(*) AS total FROM doc_cls),
    prior AS (
        SELECT labeled_lang AS lang,
               CAST(ROUND(LOG10(CAST(COUNT(*) AS DOUBLE) / total) * 1000000)
                    AS BIGINT) AS prior_micro
        FROM doc_cls CROSS JOIN n_docs GROUP BY labeled_lang, total
    ),
    doc_feat AS (
        SELECT doc_id, bucket, SUM(tf) AS tf FROM base
        GROUP BY doc_id, bucket
    ),
    scores AS (
        SELECT d.doc_id, m.lang,
               MIN(p.prior_micro) + SUM(d.tf * m.loglik_micro) AS score_micro
        FROM doc_feat d
        JOIN model m ON m.bucket = d.bucket
        JOIN prior p ON p.lang = m.lang
        GROUP BY d.doc_id, m.lang
    ),
    predicted AS (
        SELECT doc_id, lang AS predicted_lang,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score_micro DESC, lang) AS rn
        FROM scores
    )
    SELECT c.labeled_lang, p.predicted_lang, COUNT(*) AS n_docs
    FROM doc_cls c
    JOIN predicted p ON p.doc_id = c.doc_id AND p.rn = 1
    GROUP BY c.labeled_lang, p.predicted_lang
    """


_NB_DUCK = _nb_pipeline_sql(
    "UNNEST(string_split(text, ' '))",
    "CAST(CAST(('0x' || substring(md5(token), 1, 15)) AS BIGINT) % 64 AS INT)",
)
_NB_SPARK = _nb_pipeline_sql(
    "explode(split(text, ' '))",
    "CAST(CAST(conv(substring(md5(token), 1, 15), 16, 10) AS BIGINT) % 64 AS INT)",
)


@register("q_naive_bayes_score", oracle=_NB_DUCK)
def q_naive_bayes_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML-closure: end-to-end NB train -> score -> confusion matrix,
    exactly verified.

    Extends q_naive_bayes_train to the full pipeline: micro-integer
    log-priors + per-document score = prior + Σ tf·loglik (PURE BIGINT
    summation — no float enters the scoring path at all), argmax with a
    deterministic (score, class) tiebreak, and the labeled-vs-predicted
    confusion matrix as exact counts. The one float appearance (log10)
    is per-model-cell and micro-rounded before any aggregation, so the
    entire train+inference loop is hash-identical across engines — a
    property no gradient-trained model has, and the reason counting
    classifiers remain the verifiable baseline at 100 TB.

    Plan: two training aggregates, one (doc, bucket) aggregate, a
    broadcast of the 64 x n_class model, one per-doc argmax window.
    """
    register_views(spark, sf_dir, names=("documents",))
    return spark.sql(_NB_SPARK)
