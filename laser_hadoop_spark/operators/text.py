"""Text-analysis operators (SURVEY.md §2.11): reusable column builders
behind the q_text_* queries — all JVM-side expressions, no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on")

# Tiny per-language marker lists for the n-gram/marker language-ID
# heuristic. Extend per deployment; kept small so oracles can inline it.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": DEFAULT_STOPWORDS,
    "es": ("el", "la", "de", "que", "y", "en"),
    "fr": ("le", "la", "de", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ist", "von"),
}


def words(text_col: str = "text") -> Column:
    return F.split(F.col(text_col), " ")


def token_count_ws(text_col: str = "text") -> Column:
    """Whitespace token count."""
    return F.size(F.split(F.trim(F.col(text_col)), r"\s+"))


def marker_ratio(
    text_col: str = "text",
    markers: tuple[str, ...] = DEFAULT_STOPWORDS,
    *,
    words_col: Column | None = None,
) -> Column:
    """Fraction of tokens that are in the marker list.

    Pass words_col (a pre-split token array column) when several ratios
    run over the same text — e.g. the 4-language predict_lang — so the
    split happens once instead of per marker list.
    """
    arr = F.array(*[F.lit(w) for w in markers])
    w = words(text_col) if words_col is None else words_col
    return F.size(F.filter(w, lambda t: F.array_contains(arr, t))).cast("double") / F.size(w)


def punct_ratio(text_col: str = "text") -> Column:
    return F.length(
        F.regexp_replace(text_col, "[a-zA-Z0-9 ]", "")
    ).cast("double") / F.length(text_col)


def quality_score(text_col: str = "text") -> Column:
    """Composite [0,1] quality heuristic: length band, stopword presence,
    low punctuation — the filter a pretraining pipeline applies first."""
    length_ok = (F.length(text_col) >= 50) & (F.length(text_col) <= 10000)
    stop_ok = marker_ratio(text_col) >= 0.02
    punct_ok = punct_ratio(text_col) <= 0.2
    return (
        length_ok.cast("double") * 0.4
        + stop_ok.cast("double") * 0.4
        + punct_ok.cast("double") * 0.2
    )


def predict_lang(text_col: str = "text", *, words_col: Column | None = None) -> Column:
    """Argmax of per-language marker ratios (deterministic tie-break by
    language code order).

    Implemented as array_max over (score, -code_index) structs — struct
    comparison is lexicographic, so the max is the highest score with
    the earliest sorted code on ties; one expression instead of a
    when-cascade that recomputes every score per branch.
    """
    codes = sorted(LANG_MARKERS)
    w = words(text_col) if words_col is None else words_col
    entries = F.array(
        *[
            F.struct(
                marker_ratio(text_col, LANG_MARKERS[c], words_col=w).alias("score"),
                F.lit(-i).alias("neg_idx"),
            )
            for i, c in enumerate(codes)
        ]
    )
    best = F.array_max(entries)
    code_arr = F.array(*[F.lit(c) for c in codes])
    return F.when(
        best["score"] > 0, F.element_at(code_arr, -best["neg_idx"] + 1)
    ).otherwise(F.lit("und"))


def rolling_hashes(text_col: str = "text", window: int = 8) -> Column:
    """Array of xxhash64 values over sliding character windows — the
    content-defined-chunking fingerprint set (rows-only territory:
    hash family is engine-specific)."""
    t = F.col(text_col)
    n = F.length(t)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(n - window + 1, F.lit(1))),
        lambda i: F.xxhash64(F.substring(t, i, window)),
    )


def token_chunks(
    text_col: str = "text", *, size: int = 64, stride: int = 48
) -> Column:
    """Sliding token windows for context-length chunking (LLM training).

    Emits windows of `size` tokens every `stride` tokens; the final
    window's start is clamped to len-size+1 so the document tail is
    always covered by one full-size window (short docs yield a single
    window). Returns array<struct<chunk_start int, chunk_text string>>;
    explode for one row per chunk. All JVM-side: one split, slice views
    per window.

    stride must be <= size: overlapping (or abutting) windows are what
    guarantee every token lands in at least one chunk — a property
    test (tests/test_properties.py) found stride > size silently drops
    the tokens between windows.
    """
    if stride > size:
        raise ValueError(f"stride ({stride}) must be <= size ({size})")
    w = F.split(F.col(text_col), " ")
    n = F.size(w)
    n_extra = F.ceil(F.greatest(n - size, F.lit(0)).cast("double") / stride)
    starts = F.transform(
        F.sequence(F.lit(0), n_extra.cast("int")),
        lambda i: F.least(1 + i * stride, F.greatest(n - size + 1, F.lit(1))),
    )
    return F.transform(
        starts,
        lambda s: F.struct(
            s.cast("int").alias("chunk_start"),
            F.array_join(F.slice(w, s, size), " ").alias("chunk_text"),
        ),
    )


# PII patterns kept to the regex subset Java (Spark) and RE2-ish engines
# agree on: no lookaround, no backreferences. \b is ASCII word boundary
# in both.
# All quantifiers are BOUNDED (RFC 5321 limits: local-part <= 64,
# domain <= 255, TLD label <= 63). An unbounded email pattern is
# quadratic under java.util.regex on adversarial @-containing runs
# (measured ~0.6 s/row at 40 KB — a redaction-pass DoS at corpus
# scale); the bounds cap backtracking per start position so matching
# stays linear, and no valid address is longer than the bounds anyway.
# The patterns stay in the regex subset Java and RE2 (DuckDB oracle)
# agree on: char classes, bounded repeats, \b.
PII_PATTERNS: dict[str, str] = {
    "email": r"[a-zA-Z0-9._%+-]{1,64}@[a-zA-Z0-9.-]{1,255}\.[a-zA-Z]{2,63}",
    "phone": r"\b\d{3}-\d{3}-\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def redact_pii(
    df: DataFrame,
    *,
    text_col: str = "text",
    out_col: str = "redacted",
) -> DataFrame:
    """Scrub emails / phone numbers / IPv4 addresses from a text column.

    The standard pretraining-data privacy pass: every match is replaced
    with a typed placeholder (``<EMAIL>``, ``<PHONE>``, ``<IP>``) and a
    per-category match count is emitted so the pipeline can audit
    redaction rates per source.

    Scale shape: pure codegen'd regexp_replace / regexp_count column
    expressions — scan-local, no shuffle, no Python; patterns chain in
    a fixed order (email first, so user@host never half-matches as an
    IP-like token after the @ strip).
    """
    t = F.col(text_col)
    counts = [
        F.regexp_count(t, F.lit(pat)).alias(f"n_{kind}")
        for kind, pat in PII_PATTERNS.items()
    ]
    red = t
    for kind, pat in PII_PATTERNS.items():
        red = F.regexp_replace(red, pat, f"<{kind.upper().replace('IPV4', 'IP')}>")
    return df.select("*", *counts, red.alias(out_col))


def unigram_lm_scores(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """CCNet-style unigram-LM document quality scoring.

    Trains the language model on the corpus itself — one token-count
    aggregate — and scores every document by its mean smoothed token
    log10-probability (higher = more typical text; boilerplate/garble
    scores low). Output: (id, lm_score, n_tokens).

    Scale shape: explode -> vocab aggregate (shuffle on token) ->
    token-logprob lookup join (AQE promotes the vocab side to broadcast
    when it fits) -> per-doc aggregate (shuffle on id). No Python, no
    driver state; vocabulary size, not corpus size, bounds the join
    build side. Additive smoothing alpha keeps unseen-token math total.

    Cross-engine determinism: each token logprob is fixed-pointed to
    integer micro-units BEFORE aggregating (the money-sum discipline) —
    a float AVG's value depends on summation order, which differs
    between engines and can flip a 4th-decimal rounding boundary; a
    bigint SUM of identical per-token integers cannot.
    """
    toks = df.select(F.col(id_col), F.explode(words(text_col)).alias("token"))
    vocab = toks.groupBy("token").agg(F.count("*").alias("n"))
    totals = vocab.agg(
        F.sum("n").alias("total"), F.count("*").alias("v")
    )
    logprob_micro = F.round(
        F.log10(
            (F.col("n") + F.lit(alpha)) / (F.col("total") + F.lit(alpha) * F.col("v"))
        )
        * F.lit(1_000_000.0)
    ).cast("bigint")
    return (
        toks.join(vocab, "token")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(
            F.round(
                F.sum(logprob_micro) / F.lit(1_000_000.0) / F.count("*"), 4
            ).alias("lm_score"),
            F.count("*").alias("n_tokens"),
        )
    )
