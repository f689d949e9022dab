"""Corpus and text statistics over the `documents` table.

Vocabulary and frequency laws (Zipf, Heaps, Good-Turing, Chao1),
collocations and n-gram continuations, tokenizer audits (BPE merges,
fertility, coverage), quality and readability signals, divergences
between sources, keyword extraction and ranked retrieval (BM25, RRF,
MRR, NDCG). The LLM-pipeline stages themselves live in `llm`.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from laser_hadoop_spark.queries.curation import _DSIR_TOKS
from laser_hadoop_spark.queries.llm import _STOP_SQL, _STOPWORDS
from laser_hadoop_spark.registry import register
from laser_hadoop_spark.tables import table


@register(
    "q_bigram_pmi",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    uni AS (
        SELECT UNNEST(t) AS w FROM toks
    ),
    uc AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
    n AS (SELECT SUM(c) AS n_tok FROM uc),
    big AS (
        SELECT UNNEST(list_transform(generate_series(1, len(t) - 1),
                                     i -> [t[i], t[i+1]])) AS pair
        FROM toks WHERE len(t) >= 2
    ),
    bc AS (
        SELECT pair[1] AS word_a, pair[2] AS word_b, COUNT(*) AS c_xy
        FROM big GROUP BY word_a, word_b
    )
    SELECT word_a, word_b, c_xy,
           CAST(ROUND(LOG10(CAST(c_xy AS DOUBLE) * n_tok
                            / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)))
                      * 1000000.0) AS BIGINT) AS pmi_micro
    FROM bc
    JOIN uc ca ON ca.w = word_a
    JOIN uc cb ON cb.w = word_b
    CROSS JOIN n
    ORDER BY c_xy DESC, word_a, word_b
    LIMIT 20
    """,
)
def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X101: collocation mining — top bigrams with pointwise mutual
    information.

    The classic phrase-detection signal for tokenizer/vocab curation:
    PMI = log10(c_xy * N / (c_x * c_y)) over corpus bigram and unigram
    counts. All counts are exact bigints; the single log10 runs on an
    identically-shaped double expression on both engines and is
    fixed-pointed to integer micro-units (the lm-score discipline), so
    the output is all ints and strings. Bigrams form per doc via one
    lead() window partitioned by doc_id (the tokenize shuffle); the
    two unigram lookups join on the word (AQE broadcasts the vocab
    side when it fits). Top-20 by support with full tiebreak.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    uc = toks.groupBy("w").agg(F.count("*").alias("c"))
    n_tok = uc.agg(F.sum("c").alias("n_tok"))
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    pairs = toks.withColumn("w_next", F.lead("w").over(w_doc)).where(
        F.col("w_next").isNotNull()
    )
    bc = pairs.groupBy(
        F.col("w").alias("word_a"), F.col("w_next").alias("word_b")
    ).agg(F.count("*").alias("c_xy"))
    ca = uc.select(F.col("w").alias("word_a"), F.col("c").alias("c_a"))
    cb = uc.select(F.col("w").alias("word_b"), F.col("c").alias("c_b"))
    pmi_micro = F.round(
        F.log10(
            F.col("c_xy").cast("double")
            * F.col("n_tok")
            / (F.col("c_a").cast("double") * F.col("c_b").cast("double"))
        )
        * F.lit(1_000_000.0)
    ).cast("bigint")
    return (
        bc.join(ca, "word_a")
        .join(cb, "word_b")
        .crossJoin(F.broadcast(n_tok))
        .select("word_a", "word_b", "c_xy", pmi_micro.alias("pmi_micro"))
        .orderBy(F.col("c_xy").desc(), "word_a", "word_b")
        .limit(20)
    )


@register(
    "q_zipf_fit",
    oracle="""
    WITH toks AS (
        SELECT UNNEST(string_split(text, ' ')) AS w FROM documents
    ),
    uc AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
    top AS (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rnk
        FROM uc ORDER BY c DESC, w LIMIT 500
    ),
    xy AS (
        SELECT CAST(ROUND(LOG10(CAST(rnk AS DOUBLE)) * 1000000.0) AS BIGINT) AS x,
               CAST(ROUND(LOG10(CAST(c AS DOUBLE)) * 1000000.0) AS BIGINT) AS y
        FROM top
    ),
    s AS (
        SELECT COUNT(*) AS k, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx
        FROM xy
    )
    SELECT k AS n_tokens,
           ROUND(CAST(k * sxy - sx * sy AS DOUBLE)
                 / CAST(k * sxx - sx * sx AS DOUBLE), 4) AS zipf_slope
    FROM s
    """,
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X105: Zipf rank-frequency fit over the corpus vocabulary.

    Least-squares slope of log10(freq) vs log10(rank) across the top
    500 tokens — the corpus-health fingerprint (natural text ~ -1;
    boilerplate-heavy corpora flatten). Log values fix-point to integer
    micro-units so all five regression sums are exact bigints on both
    engines; the slope is one double division of identical integers.
    The rank window runs over 500 rows (post top-k), bounded by k, not
    the vocabulary.
    """
    d = table(spark, sf_dir, "documents")
    uc = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    top = uc.orderBy(F.col("c").desc(), "w").limit(500)
    # 500 rows — bounded by k, not |vocab|
    ranked = top.select(
        "c", F.row_number().over(Window.orderBy(F.col("c").desc(), "w")).alias("rnk")
    )
    x = F.round(F.log10(F.col("rnk").cast("double")) * F.lit(1_000_000.0)).cast("bigint")
    y = F.round(F.log10(F.col("c").cast("double")) * F.lit(1_000_000.0)).cast("bigint")
    xy = ranked.select(x.alias("x"), y.alias("y"))
    s = xy.agg(
        F.count("*").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return s.select(
        F.col("k").alias("n_tokens"),
        F.round(
            (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"),
            4,
        ).alias("zipf_slope"),
    )


def _bm25_sql(tokens: str, terms_list: str, intdiv) -> str:
    """Shared BM25 SQL. k1 = 1.2, b = 0.75 kept RATIONAL: with
    T = total tokens, N = docs, dl = doc length, the per-term score
    tf*(k1+1) / (tf + k1*(1 - b + b*dl*N/T)) scales by 20*T into
    num = 44*T*tf, den = 20*T*tf + 6*T + 18*dl*N — pure bigints. Only
    idf = log10(N/df) touches a float, micro-rounded per term before
    the integer multiply-divide."""
    return f"""
    WITH toks AS (
        SELECT doc_id, {tokens} AS token FROM documents
    ),
    t AS (SELECT doc_id, token FROM toks WHERE token <> ''),
    dl AS (SELECT doc_id, COUNT(*) AS dlen FROM t GROUP BY doc_id),
    corpus AS (
        SELECT COUNT(*) AS total_tokens,
               COUNT(DISTINCT doc_id) AS n_docs
        FROM t
    ),
    q AS (SELECT term FROM ({terms_list}) qt),
    df AS (
        SELECT token AS term, COUNT(DISTINCT doc_id) AS n_df
        FROM t JOIN q ON q.term = t.token GROUP BY token
    ),
    idf AS (
        SELECT term, n_df,
               CAST(FLOOR(LOG10(CAST(c.n_docs AS DOUBLE) / n_df) * 1000000
                          + 0.5) AS BIGINT) AS idf_micro
        FROM df CROSS JOIN corpus c
    ),
    tf AS (
        SELECT t.doc_id, t.token AS term, COUNT(*) AS n_tf
        FROM t JOIN q ON q.term = t.token
        GROUP BY t.doc_id, t.token
    ),
    scored AS (
        SELECT tf.doc_id,
               {intdiv(
                   'i.idf_micro * (44 * c.total_tokens * tf.n_tf)',
                   '20 * c.total_tokens * tf.n_tf + 6 * c.total_tokens '
                   '+ 18 * d.dlen * c.n_docs'
               )} AS term_micro
        FROM tf
        JOIN idf i ON i.term = tf.term
        JOIN dl d ON d.doc_id = tf.doc_id
        CROSS JOIN corpus c
    )
    SELECT doc_id, CAST(SUM(term_micro) AS BIGINT) AS bm25_micro,
           COUNT(*) AS n_terms_matched
    FROM scored GROUP BY doc_id
    """


_BM25_DUCK = _bm25_sql(
    "UNNEST(string_split(text, ' '))",
    "SELECT UNNEST(['scan', 'merge', 'vector']) AS term",
    lambda a, b: f"(({a}) // ({b}))",
)
_BM25_SPARK = _bm25_sql(
    "explode(split(text, ' '))",
    "SELECT explode(array('scan', 'merge', 'vector')) AS term",
    lambda a, b: f"(({a}) DIV ({b}))",
)


@register("q_bm25_search", oracle=_BM25_DUCK)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X122: BM25 ranked search with a rational integer scoring core.

    Okapi BM25 (k1 = 1.2, b = 0.75) for a fixed 3-term query over the
    documents corpus — the retrieval scorer behind the inverted index
    (X54). The rational trick: k1 and b are exact fractions, so
    scaling the tf saturation term by 20*total_tokens turns the whole
    score into bigint multiply-divides; the single float (idf's log10)
    is micro-rounded per term BEFORE entering the integer pipeline —
    same lm-score discipline, applied to ranking. Plan: the corpus
    stats are one tiny aggregate broadcast everywhere, df/tf are
    semi-joined to the 3-term query list before grouping (the scan
    never aggregates unqueried tokens), and the final per-doc sum is
    one combine. At 100 TB with a query LIST, the same plan serves:
    terms broadcast, postings equi-join.
    """
    from laser_hadoop_spark.tables import register_views

    register_views(spark, sf_dir, names=("documents",))
    return spark.sql(_BM25_SPARK)


@register("q_compress_ratio", oracle=None)
def q_compress_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X140: zlib compression ratio as a text-quality signal
    (rows-only: no SQL twin for DEFLATE — exactness is pinned by the
    pytest reference against python zlib instead).

    Highly compressible text is boilerplate/repetition; nearly
    incompressible text is noise — pretraining curation keeps the
    middle band (the Gopher/RefinedWeb heuristic family, X26's
    repetition ratio measured a different way). ratio_bp =
    compressed_len * 10000 // raw_len at zlib level 6, computed in an
    Arrow-batched pandas UDF (CPU-bound per row, embarrassingly
    parallel; the same small-file repartition as every text kernel).
    Deterministic: zlib level 6 output length is fixed for fixed
    input.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def comp_len(texts: pd.Series) -> pd.Series:
        import zlib

        return texts.map(
            lambda t: len(zlib.compress(t.encode("utf-8"), 6)) if t else 0
        )

    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    raw_len = F.length(F.col("text").cast("binary"))
    return d.select(
        "doc_id",
        raw_len.alias("raw_len"),
        comp_len("text").alias("compressed_len"),
    ).select(
        "doc_id",
        "raw_len",
        "compressed_len",
        F.expr("compressed_len * 10000 DIV raw_len").alias("ratio_bp"),
    )


@register(
    "q_rrf_fusion",
    oracle="""
    WITH m AS (
        SELECT doc_id, n_chars,
               len(list_distinct(string_split(text, ' '))) AS n_vocab
        FROM documents
    ),
    r AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS r_len,
               ROW_NUMBER() OVER (ORDER BY n_vocab DESC, doc_id) AS r_vocab
        FROM m
    )
    SELECT doc_id, CAST(r_len AS BIGINT) AS r_len,
           CAST(r_vocab AS BIGINT) AS r_vocab,
           CAST(1000000 // (60 + r_len)
                + 1000000 // (60 + r_vocab) AS BIGINT) AS rrf_micro
    FROM r
    ORDER BY rrf_micro DESC, doc_id
    LIMIT 20
    """,
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X146: reciprocal rank fusion of two document rankings.

    The standard hybrid-retrieval combiner (RRF, k=60): fuse a length
    ranking and a vocabulary-size ranking into one score without
    calibrating either — score = sum 1/(60+rank), here exact integer
    micro-units since every rank is an integer. Both global rankings
    are total orders (metric desc, doc_id) computed by the two-pass
    row number — at 100 TB each ranking is a range shuffle, not a
    single-partition window; the fused top-20 is TakeOrderedAndProject.
    In a real retrieval stack the two input rankings arrive from the
    BM25 (X122) and ANN (X2) branches — the fusion algebra is
    identical.
    """
    from laser_hadoop_spark.operators.cumulative import ordered_cumsum

    d = table(spark, sf_dir, "documents")
    m = d.select(
        "doc_id",
        "n_chars",
        F.size(F.array_distinct(F.split("text", " "))).alias("n_vocab"),
    )
    r1 = ordered_cumsum(
        m.select("doc_id", "n_chars"),
        order_by=[F.col("n_chars").desc(), F.col("doc_id")],
        row_number_col="r_len",
    ).select("doc_id", "r_len")
    r2 = ordered_cumsum(
        m.select("doc_id", "n_vocab"),
        order_by=[F.col("n_vocab").desc(), F.col("doc_id")],
        row_number_col="r_vocab",
    ).select("doc_id", "r_vocab")
    fused = r1.join(r2, "doc_id").select(
        "doc_id",
        F.col("r_len").cast("bigint").alias("r_len"),
        F.col("r_vocab").cast("bigint").alias("r_vocab"),
        F.expr(
            "CAST(1000000 DIV (60 + r_len) + 1000000 DIV (60 + r_vocab)"
            " AS BIGINT)"
        ).alias("rrf_micro"),
    )
    return fused.orderBy(F.col("rrf_micro").desc(), "doc_id").limit(20)


@register(
    "q_mutual_info",
    oracle="WITH "
    + _DSIR_TOKS.replace("doc_id, lang,", "lang,")
    + """,
    n_tot AS (SELECT COUNT(*) AS n FROM toks),
    xy AS (SELECT lang, bucket, COUNT(*) AS n_xy FROM toks GROUP BY lang, bucket),
    x AS (SELECT lang, COUNT(*) AS n_x FROM toks GROUP BY lang),
    y AS (SELECT bucket, COUNT(*) AS n_y FROM toks GROUP BY bucket),
    cells AS (
        SELECT xy.bucket,
               xy.n_xy * CAST(ROUND(LOG10(CAST(t.n AS DOUBLE) * xy.n_xy
                                          / (x.n_x * y.n_y))
                                    * 1000000) AS BIGINT) AS term
        FROM xy
        JOIN x ON x.lang = xy.lang
        JOIN y ON y.bucket = xy.bucket
        CROSS JOIN n_tot t
    )
    SELECT bucket, CAST(SUM(term) // (SELECT n FROM n_tot) AS BIGINT)
               AS mi_micro
    FROM cells GROUP BY bucket
    """,
)
def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X156: token-bucket <-> language mutual information.

    Feature selection for the hashed-feature stack (X71/X72/X155):
    how much knowing a token's 256-space bucket tells you about the
    document language, as the per-bucket contribution to I(bucket;
    lang) = sum p(x,y) log(p(x,y)/(p(x)p(y))). The X108/X109 exactness
    pattern: every log argument is an exact integer ratio (N*n_xy /
    (n_x*n_y)), each cell's log10 micro-rounds to a bigint, cells are
    weighted by the integer count n_xy, and the single division by N
    truncates identically on both engines. Plan: three counting
    aggregates off one exploded scan (lang cardinality ~5, buckets
    256 — the joins are broadcasts), cells relation <= 5*256 rows.
    """
    d = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("token")), 1, 15), 16, 10).cast("bigint")
        % 256
    ).cast("int")
    toks = d.select(
        "lang", F.explode(F.split("text", " ")).alias("token")
    ).select("lang", bucket.alias("bucket"))
    n_tot = toks.agg(F.count("*").alias("n"))
    xy = toks.groupBy("lang", "bucket").agg(F.count("*").alias("n_xy"))
    x = toks.groupBy("lang").agg(F.count("*").alias("n_x"))
    y = toks.groupBy("bucket").agg(F.count("*").alias("n_y"))
    term = (
        F.col("n_xy")
        * F.round(
            F.log10(
                F.col("n").cast("double")
                * F.col("n_xy")
                / (F.col("n_x") * F.col("n_y"))
            )
            * 1_000_000
        ).cast("bigint")
    ).alias("term")
    cells = (
        xy.join(F.broadcast(x), "lang")
        .join(F.broadcast(y), "bucket")
        .crossJoin(F.broadcast(n_tot))
        .select("bucket", "n", term)
    )
    return cells.groupBy("bucket").agg(
        F.expr("CAST(SUM(term) DIV MIN(n) AS BIGINT)").alias("mi_micro")
    )


def _stop_sql_list() -> str:
    return _STOP_SQL


@register(
    "q_gopher_rules",
    oracle=f"""
    WITH m AS (
        SELECT doc_id,
               string_split(text, ' ') AS words,
               len(string_split(text, ' ')) AS n_words,
               len(replace(text, ' ', '')) AS n_chars
        FROM documents
    ),
    f AS (
        SELECT doc_id, n_words,
               CASE WHEN n_words >= 50 AND n_words <= 100000
                    THEN 1 ELSE 0 END AS ok_word_count,
               CASE WHEN 3 * n_words <= n_chars AND n_chars <= 10 * n_words
                    THEN 1 ELSE 0 END AS ok_mean_word_len,
               CASE WHEN len(list_filter(words,
                        w -> w IN ({_stop_sql_list()}))) >= 2
                    THEN 1 ELSE 0 END AS ok_stopwords,
               CASE WHEN 5 * len(list_filter(words,
                        w -> regexp_matches(w, '^[0-9]+$'))) <= n_words
                    THEN 1 ELSE 0 END AS ok_numeric_ratio
        FROM m
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(ok_word_count AS INT) AS ok_word_count,
           CAST(ok_mean_word_len AS INT) AS ok_mean_word_len,
           CAST(ok_stopwords AS INT) AS ok_stopwords,
           CAST(ok_numeric_ratio AS INT) AS ok_numeric_ratio,
           CAST(ok_word_count * ok_mean_word_len * ok_stopwords
                * ok_numeric_ratio AS INT) AS passes_all
    FROM f
    """,
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X162: Gopher-style quality rule suite (published filter family).

    The rule family of Rae et al. 2021 (Gopher, public paper) adapted
    to the corpus: word-count bounds, mean-word-length bounds,
    minimum stopword evidence, and a numeric-token-ratio cap — each
    spelled as a CROSS-MULTIPLIED integer predicate (3*n <= chars <=
    10*n instead of 3 <= chars/n <= 10), so no division exists
    anywhere and no boundary document can flip between engines. All
    four flags plus the conjunction per document; downstream the
    curation pipeline (X7) consumes passes_all exactly like its
    quality-score gate. Scan-local codegen over one documents pass —
    at 100 TB the filter costs one projection.
    """
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_words = F.size(words)
    n_chars = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    n_digit = F.size(F.filter(words, lambda w: w.rlike("^[0-9]+$")))
    m = d.select(
        "doc_id",
        n_words.alias("n_words"),
        ((n_words >= 50) & (n_words <= 100000)).cast("int").alias("ok_word_count"),
        ((3 * n_words <= n_chars) & (n_chars <= 10 * n_words))
        .cast("int")
        .alias("ok_mean_word_len"),
        (n_stop >= 2).cast("int").alias("ok_stopwords"),
        (5 * n_digit <= n_words).cast("int").alias("ok_numeric_ratio"),
    )
    return m.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        "ok_word_count",
        "ok_mean_word_len",
        "ok_stopwords",
        "ok_numeric_ratio",
        (
            F.col("ok_word_count")
            * F.col("ok_mean_word_len")
            * F.col("ok_stopwords")
            * F.col("ok_numeric_ratio")
        )
        .cast("int")
        .alias("passes_all"),
    )


@register(
    "q_langid_confusion",
    oracle=f"""
    WITH scored AS (
        SELECT lang AS labeled_lang,
               CASE WHEN 20 * len(list_filter(string_split(text, ' '),
                        w -> w IN ({_stop_sql_list()})))
                         >= len(string_split(text, ' '))
                    THEN 'en' ELSE 'other' END AS predicted_lang
        FROM documents
    )
    SELECT labeled_lang, predicted_lang, COUNT(*) AS n_docs
    FROM scored GROUP BY labeled_lang, predicted_lang
    """,
)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X163: confusion matrix for the L3 language-ID heuristic.

    Evaluates q_text_langid's marker-ratio classifier against the
    labeled lang column: (labeled, predicted) counts — the harness
    that would judge any production langid swap (fastText etc.)
    before it ships. The 5% threshold is cross-multiplied
    (20 * stopword_hits >= n_words) so the decision is pure integer —
    the float en_score of the display query never enters the
    comparison. One scan-local projection + one tiny aggregate.
    """
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    pred = F.when(20 * n_stop >= F.size(words), "en").otherwise("other")
    return (
        d.select(
            F.col("lang").alias("labeled_lang"), pred.alias("predicted_lang")
        )
        .groupBy("labeled_lang", "predicted_lang")
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "q_type_token_ratio",
    oracle="""
    WITH toks AS (
        SELECT source, UNNEST(string_split(text, ' ')) AS token
        FROM documents
    )
    SELECT source, COUNT(*) AS n_tokens,
           COUNT(DISTINCT token) AS n_types,
           CAST(10000 * COUNT(DISTINCT token) // COUNT(*) AS BIGINT)
               AS ttr_bp
    FROM toks GROUP BY source
    """,
)
def q_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X169: corpus type-token ratio (vocabulary richness) per source.

    The source-level diversity signal mixture re-weighting (X136)
    should read next to volume: a source whose TTR collapses is
    boilerplate/templated text even when every individual document
    passes the per-doc quality gates (X162's rules are per-doc blind
    to cross-doc repetition). Exact distinct-over-count in bp; one
    exploded aggregate with partial distinct. At extreme source
    counts the HLL sibling (X56) swaps in for COUNT(DISTINCT).
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split("text", " ")).alias("token")
    )
    return toks.groupBy("source").agg(
        F.count("*").alias("n_tokens"),
        F.count_distinct("token").alias("n_types"),
        F.expr(
            "CAST(10000 * COUNT(DISTINCT token) DIV COUNT(*) AS BIGINT)"
        ).alias("ttr_bp"),
    )


@register(
    "q_vocab_coverage",
    oracle="""
    WITH toks AS (
        SELECT UNNEST(string_split(text, ' ')) AS token FROM documents
    ),
    freq AS (SELECT token, COUNT(*) AS n FROM toks GROUP BY token),
    tot AS (SELECT SUM(n) AS total, COUNT(*) AS n_types FROM freq),
    ranked AS (
        SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rn
        FROM freq
    ),
    ks AS (
        SELECT 10 AS k UNION ALL SELECT 100 UNION ALL
        SELECT 1000 UNION ALL SELECT 10000
    )
    SELECT CAST(ks.k AS BIGINT) AS vocab_k,
           CAST(MIN(t.n_types) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN r.rn <= ks.k THEN r.n ELSE 0 END) AS BIGINT)
               AS covered_tokens,
           CAST(10000 * SUM(CASE WHEN r.rn <= ks.k THEN r.n ELSE 0 END)
                // MIN(t.total) AS BIGINT) AS coverage_bp
    FROM ks CROSS JOIN ranked r CROSS JOIN tot t
    GROUP BY ks.k
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X176: vocabulary coverage curve (tokenizer-sizing input).

    What fraction of corpus token MASS do the top-k types cover, for
    k in {10, 100, 1k, 10k} — the curve that decides a tokenizer's
    vocabulary size (and predicts the OOV rate a fixed vocab leaves
    behind; Zipf X105 fits the same relation's slope). Ranking is
    (freq DESC, token) — a total order, so every k's coverage is
    deterministic. Plan: one token count aggregate, then the rank over
    the type relation (|types|, not |tokens|) runs through the
    two-pass operator — no single-partition window even at extreme
    type cardinality — and a 4-row k axis joins in.
    """
    d = table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    tot = freq.agg(
        F.sum("n").alias("total"), F.count("*").alias("n_types")
    )
    from laser_hadoop_spark.operators.cumulative import ordered_cumsum

    ranked = ordered_cumsum(
        freq,
        order_by=[F.col("n").desc(), F.col("token")],
        row_number_col="rn",
    ).select("n", "rn")
    ks = spark.createDataFrame([(10,), (100,), (1000,), (10000,)], ["k"])
    return (
        ks.crossJoin(ranked)
        .crossJoin(F.broadcast(tot))
        .groupBy(F.col("k").cast("bigint").alias("vocab_k"))
        .agg(
            F.min("n_types").cast("bigint").alias("n_types"),
            F.sum(F.when(F.col("rn") <= F.col("k"), F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("covered_tokens"),
            F.expr(
                "CAST(10000 * SUM(CASE WHEN rn <= k THEN n ELSE 0 END)"
                " DIV MIN(total) AS BIGINT)"
            ).alias("coverage_bp"),
        )
    )


@register(
    "q_knee_point",
    oracle="""
    WITH toks AS (
        SELECT UNNEST(string_split(text, ' ')) AS token FROM documents
    ),
    freq AS (SELECT token, COUNT(*) AS n FROM toks GROUP BY token),
    top_ AS (SELECT token, n FROM freq ORDER BY n DESC, token LIMIT 200),
    curve AS (
        SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rn
        FROM top_
    ),
    ends AS (
        SELECT MIN(rn) AS x1, MAX(rn) AS x2,
               arg_min(n, rn) AS y1, arg_max(n, rn) AS y2
        FROM curve
    ),
    dist AS (
        SELECT c.rn, c.n,
               ABS((e.y2 - e.y1) * (c.rn - e.x1)
                   - (e.x2 - e.x1) * (c.n - e.y1)) AS d2a
        FROM curve c CROSS JOIN ends e
    ),
    best AS (
        SELECT rn, n, d2a,
               ROW_NUMBER() OVER (ORDER BY d2a DESC, rn) AS w
        FROM dist
    )
    SELECT CAST(rn AS BIGINT) AS knee_rank,
           CAST(n AS BIGINT) AS knee_freq,
           CAST(d2a AS BIGINT) AS doubled_area
    FROM best WHERE w = 1
    """,
)
def q_knee_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X188: knee/elbow of the rank-frequency curve (exact geometry).

    The automatic cut-point rule (Satopaa et al. 'kneedle' family,
    public method) over the top-200 (or full-vocabulary, if smaller)
    token ranks: the knee is the point furthest from the chord
    between the curve's ACTUAL endpoints (adaptive — a fixed rank-200
    endpoint would be NULL on a smaller vocabulary and kill every
    distance).
    Perpendicular distance = |cross product| / |chord|, and the chord
    is CONSTANT across candidates — so ranking by the doubled triangle
    area |(y2-y1)(x-x1) - (x2-x1)(y-y1)| is exact integer arithmetic
    with no sqrt or division anywhere; ties break to the earliest
    rank. The same rule picks k for X118's histograms or n_cells for
    the X2 IVF sweep. Curve = 200 rows off the type-frequency
    aggregate; everything after is constant-bounded.
    """
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    # top-200 via parallel TakeOrderedAndProject (the q_zipf_fit
    # spelling), THEN a row number over the <= 200-row result — a
    # global no-partition window over the full vocabulary would funnel
    # every token through one task
    top = freq.orderBy(F.col("n").desc(), "token").limit(200)
    w = Window.orderBy(F.col("n").desc(), F.col("token"))
    curve = top.select("n", F.row_number().over(w).alias("rn"))
    # endpoints are ADAPTIVE (arg at max rank) — a fixed rank-200
    # endpoint is NULL whenever the vocabulary is smaller, silently
    # killing every distance (found by probing the committed corpus:
    # 31 types)
    ends = curve.agg(
        F.min("rn").alias("x1"),
        F.max("rn").alias("x2"),
        F.min_by("n", "rn").alias("y1"),
        F.max_by("n", "rn").alias("y2"),
    )
    dist = curve.crossJoin(F.broadcast(ends)).select(
        "rn",
        "n",
        F.abs(
            (F.col("y2") - F.col("y1")) * (F.col("rn") - F.col("x1"))
            - (F.col("x2") - F.col("x1")) * (F.col("n") - F.col("y1"))
        ).alias("d2a"),
    )
    bw = Window.orderBy(F.col("d2a").desc(), F.col("rn"))
    return (
        dist.withColumn("w", F.row_number().over(bw))
        .where(F.col("w") == 1)
        .select(
            F.col("rn").cast("bigint").alias("knee_rank"),
            F.col("n").cast("bigint").alias("knee_freq"),
            F.col("d2a").cast("bigint").alias("doubled_area"),
        )
    )


@register(
    "q_readability",
    oracle="""
    WITH m AS (
        SELECT source,
               len(string_split(text, ' ')) AS w,
               GREATEST(len(regexp_extract_all(text, '[.!?]')), 1) AS s,
               GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
                   AS syl
        FROM documents
    ),
    agg AS (
        SELECT source, COUNT(*) AS n_docs,
               SUM(w) AS words, SUM(s) AS sentences, SUM(syl) AS syllables
        FROM m GROUP BY source
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(words AS BIGINT) AS words,
           CAST(sentences AS BIGINT) AS sentences,
           CAST(syllables AS BIGINT) AS syllables,
           CAST(100 * words // sentences AS BIGINT) AS wps_centi,
           CAST(100 * syllables // words AS BIGINT) AS spw_centi,
           CAST(206835 - 1015 * words // sentences
                - 84600 * syllables // words AS BIGINT) AS flesch_milli
    FROM agg
    """,
)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X189: Flesch-style readability per source, pure integers.

    Flesch reading ease = 206.835 - 1.015*(words/sentence) -
    84.6*(syllables/word), published formula — here scaled x1000 with
    BOTH ratios as truncating integer divisions over corpus-level
    sums (per-doc ratios would each truncate; corpus sums divide
    once). Syllables use the standard vowel-group proxy
    ('[aeiouy]+' runs, floor 1) and sentences the terminal-punctuation
    count (floor 1) — the proxies are crude but DETERMINISTIC and
    spelled with the identical regex on both engines (regexp_count /
    len(regexp_extract_all)). Scan-local counts + one aggregate; a
    quality-filter consumer thresholds flesch_milli exactly like
    X162's rule flags.
    """
    d = table(spark, sf_dir, "documents")
    m = d.select(
        "source",
        F.size(F.split("text", " ")).alias("w"),
        F.greatest(F.regexp_count("text", F.lit("[.!?]")), F.lit(1)).alias(
            "s"
        ),
        F.greatest(
            F.regexp_count(F.lower("text"), F.lit("[aeiouy]+")), F.lit(1)
        ).alias("syl"),
    )
    agg = m.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("w").alias("words"),
        F.sum("s").alias("sentences"),
        F.sum("syl").alias("syllables"),
    )
    return agg.select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("words").cast("bigint").alias("words"),
        F.col("sentences").cast("bigint").alias("sentences"),
        F.col("syllables").cast("bigint").alias("syllables"),
        F.expr("CAST(100 * words DIV sentences AS BIGINT)").alias(
            "wps_centi"
        ),
        F.expr("CAST(100 * syllables DIV words AS BIGINT)").alias(
            "spw_centi"
        ),
        F.expr(
            "CAST(206835 - 1015 * words DIV sentences"
            " - 84600 * syllables DIV words AS BIGINT)"
        ).alias("flesch_milli"),
    )


@register(
    "q_rare_token_exposure",
    oracle="""
    WITH toks AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
        FROM documents
    ),
    df_ AS (
        SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY token
    ),
    per_doc AS (
        SELECT t.doc_id, COUNT(*) AS n_tokens,
               COUNT(DISTINCT CASE WHEN d.df = 1 THEN t.token END)
                   AS hapax_tokens,
               SUM(CASE WHEN d.df <= 3 THEN 1 ELSE 0 END) AS rare_tokens
        FROM toks t JOIN df_ d ON d.token = t.token
        GROUP BY t.doc_id
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(hapax_tokens AS BIGINT) AS hapax_tokens,
           CAST(10000 * rare_tokens // n_tokens AS BIGINT) AS rare_bp
    FROM per_doc
    """,
)
def q_rare_token_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X200: rare-token (OOV-risk) exposure per document.

    X176 sized the vocabulary; this shows WHICH documents fall off a
    fixed one: per doc, the count of hapax legomena (document
    frequency 1 — tokens no other document shares) and the share of
    tokens with df <= 3, in exact bp. High exposure marks documents a
    trained tokenizer will shred into bytes (or an embedding model
    will see as noise) — a curation signal complementary to X162's
    surface rules. Plan: one df aggregate over the exploded relation,
    one broadcast-eligible token-df join back, one per-doc aggregate —
    df values, not text, move through the join.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    df_ = toks.groupBy("token").agg(
        F.count_distinct("doc_id").alias("df")
    )
    return (
        toks.join(df_, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            # hapax legomena are counted as TYPES (a doc repeating one
            # unique token 7x has hapax_tokens = 1, not 7)
            F.count_distinct(F.when(F.col("df") == 1, F.col("token")))
            .cast("bigint")
            .alias("hapax_tokens"),
            F.expr(
                "CAST(10000 * SUM(CASE WHEN df <= 3 THEN 1 ELSE 0 END)"
                " DIV COUNT(*) AS BIGINT)"
            ).alias("rare_bp"),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            "hapax_tokens",
            "rare_bp",
        )
    )


# --- X209: ranked-retrieval quality metrics --------------------------------

_N_QUERIES = 8


@register(
    "q_retrieval_metrics",
    oracle=f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS tok
        FROM documents
    ),
    meta AS (SELECT doc_id, source FROM documents),
    q AS (
        SELECT t.doc_id AS qid, t.tok, m.source AS qsrc
        FROM toks t JOIN meta m ON m.doc_id = t.doc_id
        WHERE t.doc_id < {_N_QUERIES}
    ),
    scored AS (
        SELECT q.qid, d.doc_id AS did, COUNT(*) AS score
        FROM q JOIN toks d ON d.tok = q.tok AND d.doc_id <> q.qid
        GROUP BY q.qid, d.doc_id
    ),
    ranked AS (
        SELECT s.qid, s.did, s.score,
               ROW_NUMBER() OVER (PARTITION BY s.qid
                                  ORDER BY s.score DESC, s.did) AS rk,
               CASE WHEN m.source = (SELECT DISTINCT qsrc FROM q q2
                                     WHERE q2.qid = s.qid)
                    THEN 1 ELSE 0 END AS rel
        FROM scored s JOIN meta m ON m.doc_id = s.did
    )
    SELECT qid AS query_id,
           COUNT(*) AS n_retrieved,
           CAST(COALESCE(MIN(CASE WHEN rel = 1 THEN rk END), 0) AS BIGINT)
               AS first_rel_rank,
           CAST(COALESCE(10000 // MIN(CASE WHEN rel = 1 THEN rk END), 0)
                AS BIGINT) AS mrr_bp,
           CAST(SUM(CASE WHEN rk <= 5 AND rel = 1 THEN 1 ELSE 0 END) * 2000
                AS BIGINT) AS p_at5_bp
    FROM ranked GROUP BY qid
    """,
)
def q_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X209: ranked-retrieval quality metrics (MRR, P@5), exact.

    Evaluates a token-overlap retrieval ranking (score = |shared
    distinct tokens|, ties broken by doc_id) against same-source
    relevance labels: per query, the rank of the first relevant hit,
    reciprocal rank in basis points (10000 DIV rank — integer, so
    cross-engine exact), and precision@5 in bp. Ranking is defined
    over retrieved docs (score >= 1) — the standard IR convention.

    100 TB shape: candidate scoring is a token equi-join (posting-list
    intersection, never query x corpus); the per-query ranking window
    partitions on query_id — parallel across queries, bounded by each
    query's retrieved-set size (BM25/X122's plan shape; two-level
    salted top-k as in X157 when one query retrieves the world).
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).distinct()
    meta = d.select("doc_id", "source")
    q = (
        toks.where(F.col("doc_id") < _N_QUERIES)
        .withColumnRenamed("doc_id", "qid")
        .join(
            meta.withColumnRenamed("doc_id", "qid").withColumnRenamed(
                "source", "qsrc"
            ),
            "qid",
        )
    )
    scored = (
        q.alias("q")
        .join(
            toks.select(
                F.col("doc_id").alias("did"), F.col("tok").alias("dtok")
            ),
            (F.col("dtok") == F.col("tok")) & (F.col("did") != F.col("qid")),
        )
        .groupBy("qid", "qsrc", "did")
        .agg(F.count("*").alias("score"))
    )
    ranked = scored.join(
        meta.select(F.col("doc_id").alias("did"), F.col("source").alias("dsrc")),
        "did",
    ).select(
        "qid",
        "did",
        "score",
        F.row_number()
        .over(Window.partitionBy("qid").orderBy(F.col("score").desc(), "did"))
        .alias("rk"),
        F.when(F.col("dsrc") == F.col("qsrc"), 1).otherwise(0).alias("rel"),
    )
    first_rel = F.min(F.when(F.col("rel") == 1, F.col("rk")))
    return ranked.groupBy(F.col("qid").alias("query_id")).agg(
        F.count("*").alias("n_retrieved"),
        F.coalesce(first_rel, F.lit(0)).cast("bigint").alias("first_rel_rank"),
        F.coalesce(
            F.expr("10000 DIV min(CASE WHEN rel = 1 THEN rk END)"), F.lit(0)
        )
        .cast("bigint")
        .alias("mrr_bp"),
        (F.sum(F.when((F.col("rk") <= 5) & (F.col("rel") == 1), 1).otherwise(0)) * 2000)
        .cast("bigint")
        .alias("p_at5_bp"),
    )


# --- X211: KL divergence of per-source token distributions -----------------

_KL_VOCAB = 50


@register(
    "q_kl_divergence",
    oracle=f"""
    WITH toks AS (
        SELECT source, UNNEST(string_split(text, ' ')) AS tok FROM documents
    ),
    gcnt AS (SELECT tok, COUNT(*) AS gc FROM toks GROUP BY tok),
    vocab AS (
        SELECT tok, gc FROM gcnt ORDER BY gc DESC, tok LIMIT {_KL_VOCAB}
    ),
    gtot AS (SELECT SUM(gc) AS gt FROM vocab),
    src AS (
        SELECT t.source, t.tok, COUNT(*) AS sc
        FROM toks t JOIN vocab v ON v.tok = t.tok
        GROUP BY t.source, t.tok
    ),
    stot AS (SELECT source, SUM(sc) AS st FROM src GROUP BY source),
    terms AS (
        SELECT s.source,
               10000 * s.sc // t.st AS p_bp,
               10000 * v.gc // g.gt AS q_bp
        FROM src s
        JOIN stot t ON t.source = s.source
        JOIN vocab v ON v.tok = s.tok
        CROSS JOIN gtot g
    )
    SELECT source,
           COUNT(*) AS n_vocab_present,
           CAST(SUM(CASE WHEN p_bp > 0 AND q_bp > 0
                    THEN p_bp * CAST(ROUND(LN(CAST(p_bp AS DOUBLE) / q_bp)
                                           * 1000000) AS BIGINT) // 10000
                    ELSE 0 END) AS BIGINT) AS kl_micro
    FROM terms GROUP BY source
    """,
)
def q_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X211: KL(source || corpus) over the global top-50 vocabulary.

    The distribution-shift measure behind DSIR-style data selection
    (X155) and ingest drift monitoring (X194): per-source token shares
    vs corpus shares in basis points, each term
    p * ln(p/q) in micro units via the PSI (X197) fixed-point
    discipline — shares are exact integer bp, the single float (ln of
    a ratio of identical small integers) rounds at 1e-6 before any
    arithmetic, so both engines see the same bigint.

    100 TB: token counting is the wordcount shuffle on token strings;
    the vocabulary is a 50-row broadcast; everything after is per
    (source, token) integer arithmetic.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    glob = toks.groupBy("tok").agg(F.count("*").alias("gc"))
    vocab = glob.orderBy(F.col("gc").desc(), "tok").limit(_KL_VOCAB)
    gtot = vocab.agg(F.sum("gc").alias("gt"))
    src = (
        toks.join(F.broadcast(vocab.select("tok")), "tok")
        .groupBy("source", "tok")
        .agg(F.count("*").alias("sc"))
    )
    stot = src.groupBy("source").agg(F.sum("sc").alias("st"))
    terms = (
        src.join(stot, "source")
        .join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(gtot))
        .select(
            "source",
            F.expr("10000 * sc DIV st").alias("p_bp"),
            F.expr("10000 * gc DIV gt").alias("q_bp"),
        )
    )
    term = F.when(
        (F.col("p_bp") > 0) & (F.col("q_bp") > 0),
        F.expr(
            "p_bp * CAST(ROUND(LN(CAST(p_bp AS DOUBLE) / q_bp) * 1000000, 0) "
            "AS BIGINT) DIV 10000"
        ),
    ).otherwise(F.lit(0))
    return terms.groupBy("source").agg(
        F.count("*").alias("n_vocab_present"),
        F.sum(term).cast("bigint").alias("kl_micro"),
    )


# --- X212: BPE pair-merge training steps -----------------------------------

_BPE_PAT = r"\[([^\]]*)\]"


def _bpe_oracle() -> str:
    """Three unrolled merge iterations in DuckDB (X50's unrolled-loop
    discipline). Symbols live in a bracket-delimited representation
    ('[c][a][t]'), so a pair replacement '[a][b]' -> '[ab]' can never
    match inside a multi-char symbol and disjoint adjacent occurrences
    never share characters (one replace() pass == BPE's left-to-right
    greedy merge)."""
    steps = []
    prev = "w0"
    for t in (1, 2, 3):
        steps.append(
            f"""
    s{t} AS (
        SELECT word, freq,
               regexp_extract_all(repr, '{_BPE_PAT}', 1) AS syms
        FROM {prev}
    ),
    e{t} AS (
        SELECT freq, syms,
               UNNEST(generate_series(1, len(syms) - 1)) AS i
        FROM s{t} WHERE len(syms) >= 2
    ),
    p{t} AS (
        SELECT syms[i] AS pa, syms[i + 1] AS pb, SUM(freq) AS cnt
        FROM e{t} GROUP BY 1, 2
    ),
    t{t} AS (SELECT pa, pb, cnt FROM p{t} ORDER BY cnt DESC, pa, pb LIMIT 1),
    w{t} AS (
        SELECT w.word, w.freq,
               replace(w.repr, '[' || t.pa || '][' || t.pb || ']',
                       '[' || t.pa || t.pb || ']') AS repr
        FROM {prev} w CROSS JOIN t{t} t
    )"""
        )
        prev = f"w{t}"
    return (
        """
    WITH words AS (
        SELECT tok AS word, COUNT(*) AS freq FROM (
            SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents
        ) WHERE length(tok) >= 2 GROUP BY tok
    ),
    w0 AS (
        SELECT word, freq,
               array_to_string(
                   list_transform(generate_series(1, length(word)),
                                  i -> '[' || word[i] || ']'), '') AS repr
        FROM words
    ),"""
        + ",".join(steps)
        + """
    SELECT 1 AS step, pa AS pair_a, pb AS pair_b,
           CAST(cnt AS BIGINT) AS merged_count FROM t1
    UNION ALL SELECT 2, pa, pb, CAST(cnt AS BIGINT) FROM t2
    UNION ALL SELECT 3, pa, pb, CAST(cnt AS BIGINT) FROM t3
    """
    )


@register("q_bpe_merges", oracle=_bpe_oracle())
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X212: BPE tokenizer-training merge steps, exactly verified.

    Three unrolled iterations of the byte-pair-encoding inner loop
    over the corpus word-frequency table: count adjacent symbol pairs
    (weighted by word frequency), merge the argmax pair (ties broken
    lexicographically — deterministic), re-segment every word by
    string replacement over a bracket-delimited symbol representation
    ('[c][a][t]'; '[a][b]' -> '[ab]' cannot match inside a symbol and
    one replace pass equals BPE's left-to-right greedy merge), repeat.
    The oracle unrolls the identical three iterations in SQL (X50's
    exactly-verified-iteration discipline).

    100 TB: the word-frequency table is the wordcount reduce; each
    iteration is one pair-count aggregate over it (rows ~ vocabulary,
    not corpus) + a 1-row broadcast — the distributed shape of a real
    BPE trainer's first merges, where corpus scale collapses into
    vocab scale after the first aggregate.
    """
    d = table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    w = words.select(
        "word",
        "freq",
        F.concat_ws(
            "",
            F.transform(
                F.sequence(F.lit(1), F.length("word")),
                lambda i: F.concat(
                    F.lit("["), F.col("word").substr(i, F.lit(1)), F.lit("]")
                ),
            ),
        ).alias("repr"),
    ).localCheckpoint(eager=True)
    out = []
    for step in (1, 2, 3):
        syms = F.regexp_extract_all(F.col("repr"), F.lit(_BPE_PAT), F.lit(1))
        e = w.select(
            "freq", syms.alias("syms")
        ).where(F.size("syms") >= 2).select(
            "freq",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("syms") - 1),
                    lambda i: F.struct(
                        F.element_at("syms", i).alias("pa"),
                        F.element_at("syms", i + 1).alias("pb"),
                    ),
                )
            ).alias("pr"),
        )
        pairs = e.groupBy(
            F.col("pr.pa").alias("pa"), F.col("pr.pb").alias("pb")
        ).agg(F.sum("freq").alias("cnt"))
        top = pairs.orderBy(F.col("cnt").desc(), "pa", "pb").limit(1)
        out.append(
            top.select(
                F.lit(step).alias("step"),
                F.col("pa").alias("pair_a"),
                F.col("pb").alias("pair_b"),
                F.col("cnt").cast("bigint").alias("merged_count"),
            )
        )
        if step < 3:
            w = (
                w.crossJoin(F.broadcast(top))
                .select(
                    "word",
                    "freq",
                    F.replace(
                        F.col("repr"),
                        F.concat(
                            F.lit("["), F.col("pa"), F.lit("]["), F.col("pb"), F.lit("]")
                        ),
                        F.concat(F.lit("["), F.col("pa"), F.col("pb"), F.lit("]")),
                    ).alias("repr"),
                )
                .localCheckpoint(eager=True)
            )
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


# --- X240: Jensen-Shannon divergence ----------------------------------------

_JS_VOCAB = 40


@register(
    "q_js_divergence",
    oracle=f"""
    WITH ranked_src AS (
        SELECT source, COUNT(*) AS dc FROM documents GROUP BY source
        ORDER BY dc DESC, source LIMIT 2
    ),
    pair AS (
        SELECT MIN(source) AS src_a, MAX(source) AS src_b FROM ranked_src
    ),
    toks AS (
        SELECT source, UNNEST(string_split(text, ' ')) AS tok FROM documents
    ),
    gcnt AS (SELECT tok, COUNT(*) AS gc FROM toks GROUP BY tok),
    vocab AS (
        SELECT tok FROM gcnt ORDER BY gc DESC, tok LIMIT {_JS_VOCAB}
    ),
    cnts AS (
        SELECT t.tok,
               SUM(CASE WHEN t.source = p.src_a THEN 1 ELSE 0 END) AS ca,
               SUM(CASE WHEN t.source = p.src_b THEN 1 ELSE 0 END) AS cb
        FROM toks t JOIN vocab v ON v.tok = t.tok CROSS JOIN pair p
        WHERE t.source = p.src_a OR t.source = p.src_b
        GROUP BY t.tok
    ),
    tot AS (SELECT SUM(ca) AS ta, SUM(cb) AS tb FROM cnts),
    shares AS (
        SELECT 10000 * ca // t.ta AS p_bp, 10000 * cb // t.tb AS q_bp
        FROM cnts CROSS JOIN tot t
    ),
    terms AS (
        SELECT CASE WHEN p_bp > 0 THEN
                   p_bp * CAST(ROUND(LN(2.0 * p_bp / (p_bp + q_bp))
                                     * 1000000) AS BIGINT) // 10000
               ELSE 0 END AS tp,
               CASE WHEN q_bp > 0 THEN
                   q_bp * CAST(ROUND(LN(2.0 * q_bp / (p_bp + q_bp))
                                     * 1000000) AS BIGINT) // 10000
               ELSE 0 END AS tq
        FROM shares WHERE p_bp + q_bp > 0
    )
    SELECT p.src_a, p.src_b,
           CAST(COUNT(*) AS BIGINT) AS n_vocab_used,
           CAST((SUM(tp) + SUM(tq)) // 2 AS BIGINT) AS js_micro
    FROM terms CROSS JOIN pair p
    GROUP BY p.src_a, p.src_b
    """,
)
def q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X240: Jensen-Shannon divergence between the two largest sources.

    JS(p, q) = (KL(p||m) + KL(q||m)) / 2 with m the midpoint — the
    symmetric, ln(2)-bounded drift measure (KL/X211 is asymmetric and
    unbounded, useless as a dashboard number when a token vanishes
    from one side). Token shares over the global top-40 vocabulary in
    exact bp; each ln(2p/(p+q)) rounds once at 1e-6 (PSI/X197
    discipline) so both engines see identical bigints. Zero-share
    tokens contribute only through the present side — JS needs no
    smoothing, which is exactly why it's the production drift metric.

    100 TB shape: token counting is the scan-local explode +
    map-side-combining aggregate every text query here uses; the
    vocabulary is a top-k over the aggregated term table; the JS
    arithmetic runs on <= 40 rows. Source-pair selection is a 2-row
    broadcast.
    """
    d = table(spark, sf_dir, "documents")
    ranked_src = (
        d.groupBy("source")
        .agg(F.count("*").alias("dc"))
        .orderBy(F.desc("dc"), "source")
        .limit(2)
    )
    pair = ranked_src.agg(
        F.min("source").alias("src_a"), F.max("source").alias("src_b")
    )
    toks = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("gc"))
        .orderBy(F.desc("gc"), "tok")
        .limit(_JS_VOCAB)
        .select("tok")
    )
    cnts = (
        toks.join(F.broadcast(pair))
        .where(
            (F.col("source") == F.col("src_a"))
            | (F.col("source") == F.col("src_b"))
        )
        .join(F.broadcast(vocab), "tok")
        .groupBy("tok")
        .agg(
            F.sum(
                F.when(F.col("source") == F.col("src_a"), 1).otherwise(0)
            ).alias("ca"),
            F.sum(
                F.when(F.col("source") == F.col("src_b"), 1).otherwise(0)
            ).alias("cb"),
        )
    )
    tot = cnts.agg(F.sum("ca").alias("ta"), F.sum("cb").alias("tb"))
    shares = cnts.crossJoin(F.broadcast(tot)).select(
        F.expr("10000 * ca DIV ta").alias("p_bp"),
        F.expr("10000 * cb DIV tb").alias("q_bp"),
    )
    terms = shares.where(F.col("p_bp") + F.col("q_bp") > 0).select(
        F.when(
            F.col("p_bp") > 0,
            F.expr(
                "p_bp * CAST(ROUND(LN(2.0 * p_bp / (p_bp + q_bp))"
                " * 1000000) AS BIGINT) DIV 10000"
            ),
        )
        .otherwise(0)
        .alias("tp"),
        F.when(
            F.col("q_bp") > 0,
            F.expr(
                "q_bp * CAST(ROUND(LN(2.0 * q_bp / (p_bp + q_bp))"
                " * 1000000) AS BIGINT) DIV 10000"
            ),
        )
        .otherwise(0)
        .alias("tq"),
    )
    return (
        terms.crossJoin(F.broadcast(pair))
        .groupBy("src_a", "src_b")
        .agg(
            F.count("*").cast("bigint").alias("n_vocab_used"),
            F.expr("CAST((SUM(tp) + SUM(tq)) DIV 2 AS BIGINT)").alias(
                "js_micro"
            ),
        )
    )


# --- X253: Heaps'-law vocabulary growth fit ---------------------------------


@register(
    "q_heaps_fit",
    oracle="""
    WITH half AS (SELECT MAX(doc_id) // 2 AS mid FROM documents),
    toks AS (
        SELECT d.doc_id, UNNEST(string_split(d.text, ' ')) AS tok
        FROM documents d
    ),
    p1 AS (
        SELECT COUNT(*) AS n1, COUNT(DISTINCT t.tok) AS v1
        FROM toks t CROSS JOIN half h WHERE t.doc_id <= h.mid
    ),
    p2 AS (SELECT COUNT(*) AS n2, COUNT(DISTINCT tok) AS v2 FROM toks)
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(v1 AS BIGINT) AS v1,
           CAST(n2 AS BIGINT) AS n2, CAST(v2 AS BIGINT) AS v2,
           CAST(1000 * (CAST(ROUND(LN(CAST(v2 AS DOUBLE)) * 1000000)
                             AS BIGINT)
                        - CAST(ROUND(LN(CAST(v1 AS DOUBLE)) * 1000000)
                               AS BIGINT))
                // (CAST(ROUND(LN(CAST(n2 AS DOUBLE)) * 1000000) AS BIGINT)
                    - CAST(ROUND(LN(CAST(n1 AS DOUBLE)) * 1000000)
                           AS BIGINT)) AS BIGINT) AS beta_milli
    FROM p1 CROSS JOIN p2
    """,
)
def q_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X253: Heaps'-law exponent from two corpus prefixes.

    V(n) = K * n^beta relates vocabulary size to corpus token count;
    beta (typically 0.4-0.6 for natural text) predicts how the
    type inventory grows with the corpus — the model behind sizing a
    tokenizer vocab for a 100 TB crawl from a 1 TB sample (X176
    measures the curve at fixed k; this fits its growth law).
    Two-point fit in fixed point: beta = (ln V2 - ln V1) /
    (ln n2 - ln n1) with every ln micro-rounded BEFORE the single
    integer division (X197 discipline) — cross-engine exact.

    100 TB shape: two prefix (token, distinct-type) aggregates over
    one tokenized scan — the prefix filter is a doc_id predicate, so
    both pass map-side; the fit arithmetic is 1-row.
    """
    d = table(spark, sf_dir, "documents")
    half = d.agg(F.expr("MAX(doc_id) DIV 2").alias("mid"))
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    p1 = (
        toks.crossJoin(F.broadcast(half))
        .where(F.col("doc_id") <= F.col("mid"))
        .agg(
            F.count("*").alias("n1"),
            F.countDistinct("tok").alias("v1"),
        )
    )
    p2 = toks.agg(
        F.count("*").alias("n2"), F.countDistinct("tok").alias("v2")
    )
    lnm = (
        lambda c: f"CAST(ROUND(LN(CAST({c} AS DOUBLE)) * 1000000) AS BIGINT)"
    )
    return p1.crossJoin(F.broadcast(p2)).select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("v1").cast("bigint").alias("v1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.col("v2").cast("bigint").alias("v2"),
        F.expr(
            f"CAST(1000 * ({lnm('v2')} - {lnm('v1')})"
            f" DIV ({lnm('n2')} - {lnm('n1')}) AS BIGINT)"
        ).alias("beta_milli"),
    )


# --- X281: tokenizer fertility ------------------------------------------------


@register(
    "q_tokenizer_fertility",
    oracle=r"""
    WITH t AS (
        SELECT source,
               LENGTH(text) AS n_chars,
               LENGTH(regexp_replace(text, '[^ ]', '', 'g')) + 1 AS n_words,
               LENGTH(regexp_replace(
                   text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]', 'T', 'g'))
                 - LENGTH(regexp_replace(
                     text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]', '', 'g'))
                   AS n_tokens
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(1000 * SUM(n_chars) // SUM(n_tokens) AS BIGINT)
               AS chars_per_token_milli,
           CAST(1000 * SUM(n_tokens) // SUM(n_words) AS BIGINT)
               AS tokens_per_word_milli
    FROM t GROUP BY source
    """,
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X281: tokenizer fertility audit per source.

    How many tokens does a byte budget buy, per corpus source? The two
    ratios every pretraining cost model needs: chars/token (compression
    the tokenizer achieves — lower for code/non-English) and
    tokens/word (fertility — how much subword splitting inflates the
    sequence). Tokens are counted with the BPE-ish lexer rule (letter
    runs / single digits / single punctuation) by REPLACING each token
    with one sentinel char and differencing lengths — a pure-codegen
    token COUNT with no explode, no array materialization. Corpus text
    is space-separated (no other whitespace), so the word count is the
    space count + 1; ratios in milli by truncating division.

    100 TB shape: scan-local regex projection (each doc contributes 3
    integers map-side) + one tiny per-source aggregate. Compare L3
    (token stats via explode — that relation is the term index; this
    is the count-only audit at a fraction of the shuffle).
    """
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "source",
        F.length("text").alias("n_chars"),
        (
            F.length(F.regexp_replace("text", "[^ ]", "")) + 1
        ).alias("n_words"),
        (
            F.length(
                F.regexp_replace("text", "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]", "T")
            )
            - F.length(
                F.regexp_replace("text", "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]", "")
            )
        ).alias("n_tokens"),
    )
    return t.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.expr("CAST(1000 * SUM(n_chars) DIV SUM(n_tokens) AS BIGINT)").alias(
            "chars_per_token_milli"
        ),
        F.expr("CAST(1000 * SUM(n_tokens) DIV SUM(n_words) AS BIGINT)").alias(
            "tokens_per_word_milli"
        ),
    )


# --- X283: RAKE keyword extraction --------------------------------------------

_RAKE_STOPWORDS = ("a", "the")
_RAKE_MAX_LEN = 4
_RAKE_TOP_K = 15


@register(
    "q_rake_keywords",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS s FROM documents
    ),
    words AS (
        SELECT doc_id, g.i AS pos, s[g.i] AS w
        FROM toks, UNNEST(generate_series(1, len(s))) AS g(i)
    ),
    nonstop AS (
        SELECT doc_id, pos, w,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS grp
        FROM words
        WHERE w NOT IN {_RAKE_STOPWORDS!r}
    ),
    sized AS (
        SELECT doc_id, grp, pos, w,
               COUNT(*) OVER (PARTITION BY doc_id, grp) AS plen
        FROM nonstop
    ),
    wstats AS (
        SELECT w, COUNT(*) AS freq, SUM(plen) AS deg FROM sized GROUP BY w
    ),
    wscore AS (
        SELECT w, 1000 * deg // freq AS ws_milli FROM wstats
    ),
    pscore AS (
        SELECT s.doc_id, s.grp,
               STRING_AGG(s.w, ' ' ORDER BY s.pos) AS phrase,
               SUM(ws.ws_milli) AS score_milli
        FROM sized s JOIN wscore ws ON ws.w = s.w
        WHERE s.plen <= {_RAKE_MAX_LEN}
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT phrase,
               CAST(MIN(score_milli) AS BIGINT) AS score_milli,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM pscore GROUP BY phrase
    )
    SELECT phrase, score_milli, n_occurrences
    FROM ranked
    ORDER BY score_milli DESC, phrase
    LIMIT {_RAKE_TOP_K}
    """,
)
def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X283: RAKE (Rapid Automatic Keyword Extraction) over the corpus.

    Candidate phrases are maximal stopword-free token runs; each word
    scores deg(w)/freq(w) (deg = sum of the lengths of phrases it
    appears in — co-occurrence degree; freq = its occurrence count)
    and a phrase scores the sum of its words' scores. Phrase runs are
    found with the gaps-and-islands idiom (pos - row_number over
    non-stop tokens) — a regex split would mis-handle ADJACENT
    stopwords ('x a a y': the second 'a' survives a ' a '-delimiter
    split). Scores in milli by truncating division; phrases longer
    than {_RAKE_MAX_LEN} words are dropped (standard RAKE cap); top
    {_RAKE_TOP_K} by (score, phrase) — fully deterministic.

    100 TB shape: the token explode is scan-local; ONE (doc, grp)
    shuffle builds phrases and lengths, the word-stats aggregate is
    map-side combining, the word-score join broadcasts (vocabulary
    sized), and the final top-k is a TakeOrdered, not a global window.
    """
    d = table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "w"),
    )
    nw = Window.partitionBy("doc_id").orderBy("pos")
    nonstop = (
        words.where(~F.col("w").isin(*_RAKE_STOPWORDS))
        .withColumn("grp", F.col("pos") - F.row_number().over(nw))
    )
    pw = Window.partitionBy("doc_id", "grp")
    sized = nonstop.withColumn("plen", F.count("*").over(pw))
    wscore = (
        sized.groupBy("w")
        .agg(F.count("*").alias("freq"), F.sum("plen").alias("deg"))
        .select("w", F.expr("1000 * deg DIV freq").alias("ws_milli"))
    )
    pscore = (
        sized.where(F.col("plen") <= _RAKE_MAX_LEN)
        .join(F.broadcast(wscore), "w")
        .groupBy("doc_id", "grp")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(pos, w))),"
                " x -> x.w), ' ')"
            ).alias("phrase"),
            F.sum("ws_milli").alias("score_milli"),
        )
    )
    ranked = pscore.groupBy("phrase").agg(
        F.min("score_milli").cast("bigint").alias("score_milli"),
        F.count("*").cast("bigint").alias("n_occurrences"),
    )
    return ranked.orderBy(
        F.col("score_milli").desc(), F.col("phrase")
    ).limit(_RAKE_TOP_K)


# --- X285: Good-Turing smoothing ----------------------------------------------


@register(
    "q_good_turing",
    oracle="""
    WITH toks AS (
        SELECT string_split(text, ' ') AS t FROM documents
    ),
    terms AS (
        SELECT UNNEST(list_transform(generate_series(1, len(t) - 2),
                                     i -> t[i] || ' ' || t[i+1] || ' '
                                          || t[i+2])) AS term
        FROM toks
    ),
    tc AS (
        SELECT term, COUNT(*) AS r FROM terms GROUP BY term
    ),
    ff AS (
        SELECT r, COUNT(*) AS n_r FROM tc GROUP BY r
    )
    SELECT CAST(a.r AS BIGINT) AS r,
           CAST(a.n_r AS BIGINT) AS n_r,
           CAST(COALESCE(1000 * (a.r + 1) * b.n_r // a.n_r, 0) AS BIGINT)
               AS r_star_milli
    FROM ff a LEFT JOIN ff b ON b.r = a.r + 1
    WHERE a.r <= 10
    """,
)
def q_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X285: Good-Turing frequency smoothing table over trigram types.

    The classical LM count-discounting step: for types seen r times,
    the adjusted count r* = (r+1) * N_{r+1} / N_r, where N_r is the
    number of DISTINCT types with frequency exactly r (the
    frequency-of-frequency table). The type unit is the word TRIGRAM
    (single words in this corpus's small vocabulary all have r >> 10,
    leaving the smoothing region empty — trigrams give the long-tailed
    spectrum Good-Turing exists for). Rows for r <= 10 (smoothing only
    matters for rare counts); a missing N_{r+1} yields r* = 0 — the
    standard boundary. Everything integer: one type count, one
    freq-of-freq count, a self-join on r+1, one truncating division.

    100 TB shape: trigrams assemble scan-locally (the zip_with shifted
    -views fold, NON-distinct — multiplicity is the point here); the
    type aggregate is the only corpus-sized shuffle (map-side
    combining); the freq-of-freq relation is tiny (distinct
    frequencies), self-joined broadcast.
    """
    d = table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    m = F.greatest(F.size(t) - 2, F.lit(0))
    sh = F.zip_with(
        F.zip_with(
            F.slice(t, 1, m),
            F.slice(t, 2, m),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
        F.slice(t, 3, m),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    tc = (
        d.select(F.explode(sh).alias("term"))
        .groupBy("term")
        .count()
        .withColumnRenamed("count", "r")
    )
    ff = tc.groupBy("r").agg(F.count("*").alias("n_r"))
    a, b = ff.alias("a"), ff.alias("b")
    return (
        a.where(F.col("a.r") <= 10)
        .join(F.broadcast(b), F.col("b.r") == F.col("a.r") + 1, "left")
        .select(
            F.col("a.r").cast("bigint").alias("r"),
            F.col("a.n_r").cast("bigint").alias("n_r"),
            F.coalesce(
                F.expr("1000 * (a.r + 1) * b.n_r DIV a.n_r"), F.lit(0)
            )
            .cast("bigint")
            .alias("r_star_milli"),
        )
    )


# --- X293: NDCG@10 ------------------------------------------------------------

_NDCG_K = 10


@register(
    "q_ndcg",
    oracle=f"""
    WITH graded AS (
        SELECT source, doc_id, n_chars,
               CASE WHEN lang = 'en' THEN 3
                    WHEN lang = 'de' THEN 2 ELSE 1 END AS rel
        FROM documents
    ),
    ranked AS (
        SELECT source, rel,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id) AS rnk,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY rel DESC, doc_id) AS ideal_rnk
        FROM graded
    ),
    scored AS (
        SELECT source,
               SUM(CASE WHEN rnk <= {_NDCG_K}
                   THEN rel * CAST(ROUND(1000000 / LOG2(rnk + 1)) AS BIGINT)
                   ELSE 0 END) AS dcg_micro,
               SUM(CASE WHEN ideal_rnk <= {_NDCG_K}
                   THEN rel * CAST(ROUND(1000000 / LOG2(ideal_rnk + 1))
                                   AS BIGINT)
                   ELSE 0 END) AS idcg_micro
        FROM ranked GROUP BY source
    )
    SELECT source, CAST(dcg_micro AS BIGINT) AS dcg_micro,
           CAST(idcg_micro AS BIGINT) AS idcg_micro,
           ROUND(CAST(dcg_micro AS DOUBLE) / idcg_micro, 4) AS ndcg
    FROM scored ORDER BY source
    """,
)
def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X293: NDCG@10 with fixed-point log2 discounts.

    Each source is a "query"; its docs rank by length (the predicted
    ordering) against graded relevance from language (en=3, de=2,
    else 1). The per-rank discount 1/log2(rank+1) micro-rounds FIRST,
    so DCG and ideal DCG are exact integer sums (rel * disc_micro) no
    summation order can flip; NDCG is one final division, rounded 4.
    Completes X209's retrieval surface: MRR and P@k are binary-
    relevance metrics, NDCG is the graded default.

    100 TB: grading is scan-local; both rankings are per-source
    windows (one shuffle on the query key — bounded by |sources|,
    and each group's top-10 discount sum is a partial aggregate).
    """
    d = table(spark, sf_dir, "documents")
    graded = d.select(
        "source",
        "doc_id",
        "n_chars",
        F.when(F.col("lang") == "en", 3)
        .when(F.col("lang") == "de", 2)
        .otherwise(1)
        .alias("rel"),
    )
    w_pred = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.col("doc_id")
    )
    w_ideal = Window.partitionBy("source").orderBy(
        F.desc("rel"), F.col("doc_id")
    )
    ranked = graded.select(
        "source",
        "rel",
        F.row_number().over(w_pred).alias("rnk"),
        F.row_number().over(w_ideal).alias("ideal_rnk"),
    )

    def disc(rank_col: str) -> F.Column:
        return F.round(1000000 / F.log2(F.col(rank_col) + 1)).cast("bigint")

    scored = ranked.groupBy("source").agg(
        F.sum(
            F.when(F.col("rnk") <= _NDCG_K, F.col("rel") * disc("rnk")).otherwise(
                0
            )
        ).alias("dcg_micro"),
        F.sum(
            F.when(
                F.col("ideal_rnk") <= _NDCG_K, F.col("rel") * disc("ideal_rnk")
            ).otherwise(0)
        ).alias("idcg_micro"),
    )
    return scored.select(
        "source",
        F.col("dcg_micro").cast("bigint").alias("dcg_micro"),
        F.col("idcg_micro").cast("bigint").alias("idcg_micro"),
        F.round(
            F.col("dcg_micro").cast("double") / F.col("idcg_micro"), 4
        ).alias("ndcg"),
    ).orderBy("source")


# --- X313: n-gram continuation table -----------------------------------------

_CONT_TOP = 3
_CONT_MIN = 2
_CONT_LIMIT = 100


@register(
    "q_ngram_continuations",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS s FROM documents
    ),
    tris AS (
        SELECT s[g.i] AS w1, s[g.i + 1] AS w2, s[g.i + 2] AS w3
        FROM toks, UNNEST(generate_series(1, len(s) - 2)) AS g(i)
    ),
    counts AS (
        SELECT w1, w2, w3, COUNT(*) AS c FROM tris GROUP BY 1, 2, 3
    ),
    ranked AS (
        SELECT w1, w2, w3, c,
               ROW_NUMBER() OVER (PARTITION BY w1, w2
                                  ORDER BY c DESC, w3) AS rnk,
               SUM(c) OVER (PARTITION BY w1, w2) AS prefix_total
        FROM counts
    )
    SELECT w1, w2, w3, CAST(c AS BIGINT) AS c,
           CAST(rnk AS INT) AS rnk,
           CAST(prefix_total AS BIGINT) AS prefix_total
    FROM ranked
    WHERE rnk <= {_CONT_TOP} AND c >= {_CONT_MIN}
    ORDER BY prefix_total DESC, w1, w2, rnk
    LIMIT {_CONT_LIMIT}
    """,
)
def q_ngram_continuations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X313: trigram continuation table (backoff-LM / autocomplete).

    For each bigram prefix, the top-3 next tokens with counts and the
    prefix total — the continuation-count relation behind Kneser-Ney
    backoff (X285 Good-Turing discounts these same counts) and every
    autocomplete ranker. Trigrams extract scan-locally by array
    slicing (no self-join on position); one count aggregate, one
    per-prefix ranking window.

    100 TB: shuffle keys are (w1,w2,w3) hash — partial-aggregated
    counts, then a per-prefix window whose partitions are
    vocabulary-bounded.
    """
    d = table(spark, sf_dir, "documents")
    tris = d.select(
        F.explode(
            F.expr(
                # Guard: sequence(1, 0) DESCENDS in Spark ([1, 0]) and the
                # transform would then hit element_at(..., 0); docs with
                # fewer than 3 tokens must produce zero trigrams.
                "transform(CASE WHEN size(split(text, ' ')) >= 3"
                "               THEN sequence(1, size(split(text, ' ')) - 2)"
                "               ELSE array() END,"
                " i -> struct(element_at(split(text, ' '), i) as w1,"
                "            element_at(split(text, ' '), i + 1) as w2,"
                "            element_at(split(text, ' '), i + 2) as w3))"
            )
        ).alias("t")
    ).select("t.w1", "t.w2", "t.w3")
    counts = tris.groupBy("w1", "w2", "w3").agg(F.count("*").alias("c"))
    w_rank = Window.partitionBy("w1", "w2").orderBy(F.desc("c"), "w3")
    w_tot = Window.partitionBy("w1", "w2")
    ranked = counts.select(
        "w1",
        "w2",
        "w3",
        "c",
        F.row_number().over(w_rank).alias("rnk"),
        F.sum("c").over(w_tot).alias("prefix_total"),
    )
    return (
        ranked.where((F.col("rnk") <= _CONT_TOP) & (F.col("c") >= _CONT_MIN))
        .select(
            "w1",
            "w2",
            "w3",
            F.col("c").cast("bigint").alias("c"),
            F.col("rnk").cast("int").alias("rnk"),
            F.col("prefix_total").cast("bigint").alias("prefix_total"),
        )
        .orderBy(F.desc("prefix_total"), "w1", "w2", "rnk")
        .limit(_CONT_LIMIT)
    )


# --- X331: Chao1 richness + Good's coverage ----------------------------------


@register(
    "q_chao1_richness",
    oracle="""
    WITH toks AS (
        SELECT source, UNNEST(string_split(text, ' ')) AS tok
        FROM documents
    ),
    census AS (
        SELECT source, tok, COUNT(*) AS k
        FROM toks GROUP BY source, tok
    ),
    stats AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS s_obs,
               CAST(SUM(k) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
               CAST(SUM(CASE WHEN k = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
        FROM census GROUP BY source
    )
    SELECT source, s_obs, n_tokens, f1, f2,
           s_obs * 1000000
               + CAST(ROUND(1000000.0 * (f1 * (f1 - 1))
                            / (2 * (f2 + 1))) AS BIGINT) AS chao1_micro,
           CAST(ROUND(10000.0 * (n_tokens - f1) / n_tokens) AS BIGINT)
               AS coverage_bp
    FROM stats ORDER BY source
    """,
)
def q_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X331: Chao1 species-richness estimate + Good's coverage, per source.

    From the singleton/doubleton token census: Chao1 (bias-corrected)
    = S_obs + f1(f1-1)/(2(f2+1)) estimates how many distinct tokens
    the source would reveal with unbounded sampling, and Good's
    coverage 1 - f1/N says what fraction of the next token draw is
    already-seen mass. The vocabulary-completeness audit that tells a
    corpus curator whether X176's coverage curve has plateaued for
    real or the source is just undersampled (X253's Heaps exponent is
    the growth-rate view of the same question). Exact integer census;
    one float division per estimator.

    100 TB: scan-local tokenization, one (source, tok) combine, one
    |sources|-row aggregate — X253's exact plan shape.
    """
    d = table(spark, sf_dir, "documents")
    census = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("k"))
    )
    stats = census.groupBy("source").agg(
        F.count("*").cast("bigint").alias("s_obs"),
        F.sum("k").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("k") == 1, 1).otherwise(0)).cast("bigint").alias("f1"),
        F.sum(F.when(F.col("k") == 2, 1).otherwise(0)).cast("bigint").alias("f2"),
    )
    f1, f2, n = F.col("f1"), F.col("f2"), F.col("n_tokens")
    return stats.select(
        "source",
        "s_obs",
        "n_tokens",
        "f1",
        "f2",
        (
            F.col("s_obs") * 1000000
            + F.round(F.lit(1000000.0) * (f1 * (f1 - 1)) / (2 * (f2 + 1))).cast(
                "bigint"
            )
        ).alias("chao1_micro"),
        F.round(F.lit(10000.0) * (n - f1) / n).cast("bigint").alias("coverage_bp"),
    ).orderBy("source")


# --- X353: per-document character-class entropy --------------------------------

_ENT_CLASSES = [chr(c) for c in range(ord("a"), ord("z") + 1)] + [" "]
_ENT_TOP = 100


def _ln_micro_sql(expr: str) -> str:
    return f"CAST(ROUND(1000000 * LN({expr})) AS BIGINT)"


def _entropy_oracle() -> str:
    cnt_defs = ", ".join(
        f"length(t) - length(replace(t, '{c}', '')) AS c_{i}"
        for i, c in enumerate(_ENT_CLASSES)
    )
    known = " + ".join(f"c_{i}" for i in range(len(_ENT_CLASSES)))
    names = [f"c_{i}" for i in range(len(_ENT_CLASSES))] + ["c_other"]
    terms = " + ".join(
        f"(CASE WHEN {n} > 0 THEN {n} * ({_ln_micro_sql('total')}"
        f" - {_ln_micro_sql(n)}) ELSE 0 END)"
        for n in names
    )
    return f"""
    WITH base AS (
        SELECT doc_id, lower(text) AS t, length(text) AS total
        FROM documents WHERE length(text) > 0
    ),
    cnts AS (SELECT doc_id, total, {cnt_defs} FROM base),
    wide AS (SELECT *, total - ({known}) AS c_other FROM cnts)
    SELECT doc_id,
           CAST(({terms}) // total AS BIGINT) AS entropy_micro,
           CAST(total AS BIGINT) AS n_chars
    FROM wide
    ORDER BY entropy_micro DESC, doc_id
    LIMIT {_ENT_TOP}
    """


@register("q_char_entropy", oracle=_entropy_oracle())
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X353: character-class Shannon entropy per document (nats,
    micro-fixed-point) — the classic statistical quality filter the
    length/punct/stopword suite (L3) lacks: machine-generated or
    binary-leak text scores far from natural-language entropy.

    Class counts (a-z, space, other) come from the replace-and-
    difference idiom — 28 scan-local codegen expressions, NO per-char
    explode. Each ln is micro-rounded BEFORE the integer combine
    (X253's discipline), so H = sum(cnt * (ln N - ln cnt)) / N is one
    integer per doc and the oracle matches exactly.

    100 TB: zero shuffles before the final top-k (TakeOrdered) — the
    entropy is a pure per-row projection.
    """
    d = table(spark, sf_dir, "documents").where(F.length("text") > 0)
    t = F.lower(F.col("text"))
    total = F.length("text")
    cnt_cols = [
        (F.length(t) - F.length(F.regexp_replace(t, f"[{c}]" if c != " " else " ", "")))
        .alias(f"c_{i}")
        for i, c in enumerate(_ENT_CLASSES)
    ]
    base = d.select(F.col("doc_id"), total.alias("total"), *cnt_cols)
    known = sum(F.col(f"c_{i}") for i in range(len(_ENT_CLASSES)))
    base = base.withColumn("c_other", F.col("total") - known)
    ln_micro_total = F.expr(_ln_micro_sql("total"))

    def term(cname: str) -> F.Column:
        cnt = F.col(cname)
        return F.when(
            cnt > 0,
            cnt * (ln_micro_total - F.expr(_ln_micro_sql(cname))),
        ).otherwise(F.lit(0))

    names = [f"c_{i}" for i in range(len(_ENT_CLASSES))] + ["c_other"]
    h_scaled = sum(term(n) for n in names)
    # h_scaled <= total * ln_micro(total) — comfortably inside bigint
    # at any realistic doc length, so plain integer DIV is exact
    out = base.select(
        "doc_id",
        F.floor(h_scaled / F.col("total")).cast("bigint").alias("entropy_micro"),
        F.col("total").cast("bigint").alias("n_chars"),
    )
    return out.orderBy(F.desc("entropy_micro"), "doc_id").limit(_ENT_TOP)
