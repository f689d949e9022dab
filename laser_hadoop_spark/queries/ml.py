"""Machine-learning and multivariate queries.

Exactly-verified k-means, decision-stump splits, k-NN, DBSCAN,
silhouette and ECOD scores, classifier evaluation (AUC, calibration,
F1, average precision), embedding-space statistics and the closed-form
linear algebra of operators/pca.py (2D eigen, Cholesky, Procrustes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from laser_hadoop_spark.operators.cumulative import ordered_cumsum
from laser_hadoop_spark.queries.profiling import _md5i, _md5i_sql
from laser_hadoop_spark.queries.windows import _centi
from laser_hadoop_spark.registry import register
from laser_hadoop_spark.tables import register_views, table


def _kmeans_sql(n_iters: int, intdiv: str) -> str:
    """Shared exactly-verified k-means SQL, parameterized on the integer
    division operator ('div' Spark, '//' DuckDB — both truncate toward
    zero, so the centroid-update recurrence is identical). Points and
    centroids live in exact centi-unit integers; assignment compares
    exact squared distances with a (dist, centroid) tiebreak; updates
    are integer means. Same unrolled-CTE pattern as _pagerank_sql."""
    d = intdiv
    ctes = [
        """pts AS (
            SELECT c_custkey AS pid,
                   CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS x,
                   (c_custkey * 37) % 100000 AS y
            FROM customer
        )""",
        "c0 AS (SELECT pid AS cid, x AS cx, y AS cy FROM pts WHERE pid < 4)",
    ]
    for k in range(1, n_iters + 1):
        ctes.append(f"""a{k} AS (
            SELECT pid, x, y, cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY pid
                       ORDER BY (x - cx) * (x - cx) + (y - cy) * (y - cy), cid
                   ) AS rn
            FROM pts CROSS JOIN c{k - 1}
        )""")
        ctes.append(f"""c{k} AS (
            SELECT cid,
                   CAST(SUM(x) {d} COUNT(*) AS BIGINT) AS cx,
                   CAST(SUM(y) {d} COUNT(*) AS BIGINT) AS cy
            FROM a{k} WHERE rn = 1 GROUP BY cid
        )""")
    return (
        "WITH " + ",\n".join(ctes)
        + f""" SELECT a.cid, c.cx, c.cy, COUNT(*) AS n_points
           FROM a{n_iters} a JOIN c{n_iters} c ON c.cid = a.cid
           WHERE a.rn = 1
           GROUP BY a.cid, c.cx, c.cy"""
    )


@register("q_kmeans_exact", oracle=_kmeans_sql(3, "//"))
def q_kmeans_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X68: exactly-verified iterative k-means (3 unrolled Lloyd steps).

    2-D customer points in exact centi-unit integers, k=4 centroids
    seeded from the first four customers. Assignment = exact bigint
    squared distances with a (distance, centroid) tiebreak; update =
    integer mean (both engines' integer division truncates toward
    zero). Every iteration is one broadcast cross join (k rows) + one
    window + one aggregate — and because the whole recurrence is
    integer, the driver hash-checks the ITERATIVE LOOP itself, the same
    trick as q_pagerank_exact/q_dedup_clusters extended to an ML
    training step (float k-means can only ever be rows-checked).

    Scale shape: k centroids broadcast to every task per round; the
    per-point window is partitioned by point id over k rows (argmin),
    and the update aggregate shuffles k groups. The float/MLlib path at
    real scale is pyspark.ml KMeans; this operator is the verification
    form.
    """
    register_views(spark, sf_dir, names=("customer",))
    return spark.sql(_kmeans_sql(3, "div"))


@register(
    "q_best_split",
    oracle="""
    WITH pts AS (
        SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS x,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders
    ),
    agg AS (SELECT x, COUNT(*) AS n, SUM(y) AS pos FROM pts GROUP BY x),
    tot AS (SELECT SUM(n) AS n_tot, SUM(pos) AS pos_tot FROM agg),
    cum AS (
        SELECT x,
               SUM(n) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nl,
               SUM(pos) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS posl
        FROM agg
    ),
    scored AS (
        SELECT c.x AS threshold_centi,
               CAST(c.nl AS BIGINT) AS nl,
               CAST(t.n_tot - c.nl AS BIGINT) AS nr,
               CAST(c.posl AS BIGINT) AS posl,
               CAST(t.pos_tot - c.posl AS BIGINT) AS posr,
               CAST((  (CAST(c.posl AS HUGEINT) * c.posl
                        + CAST(c.nl - c.posl AS HUGEINT) * (c.nl - c.posl))
                       * (t.n_tot - c.nl)
                     + (CAST(t.pos_tot - c.posl AS HUGEINT)
                          * (t.pos_tot - c.posl)
                        + CAST((t.n_tot - c.nl) - (t.pos_tot - c.posl) AS HUGEINT)
                          * ((t.n_tot - c.nl) - (t.pos_tot - c.posl)))
                       * c.nl)
                    * 1000000 // (CAST(c.nl AS HUGEINT) * (t.n_tot - c.nl))
                    AS BIGINT) AS score_micro
        FROM cum c CROSS JOIN tot t
        WHERE c.nl < t.n_tot
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY score_micro DESC,
                                     threshold_centi) AS rnk
        FROM scored
    )
    SELECT rnk, threshold_centi, nl, nr, posl, posr, score_micro
    FROM ranked WHERE rnk <= 5
    """,
)
def q_best_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X70: decision-stump split finding with exact integer Gini.

    The inner loop of every tree learner: over all candidate thresholds
    of a feature (centi-unit order price), find the split minimizing
    weighted Gini impurity of a binary label (order fulfilled). The
    impurity comparison is EXACT: minimizing nL*g(L) + nR*g(R) is
    equivalent to maximizing (posL² + negL²)·nR + (posR² + negR²)·nL
    over the common denominator nL·nR, computed in decimal(38) integers
    and fixed-pointed to micro-units only for the final ranking — both
    engines walk identical integers, so the argmax is hash-checkable
    (float Gini argmaxes are tie-unstable).

    Scale shape: per-value label histogram (one shuffle), cumulative
    counts via one ordered window, scalar totals broadcast. The
    ordered window is single-partition PER FEATURE — the standard
    split-finder layout parallelizes across features/nodes, and
    histogram-binning (q_histogram) caps the candidate count when a
    feature has too many distinct values.
    """
    register_views(spark, sf_dir, names=("orders",))
    return spark.sql(
        """
        WITH pts AS (
            SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS x,
                   CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
            FROM orders
        ),
        agg AS (SELECT x, COUNT(*) AS n, SUM(y) AS pos FROM pts GROUP BY x),
        tot AS (SELECT SUM(n) AS n_tot, SUM(pos) AS pos_tot FROM agg),
        cum AS (
            SELECT x,
                   SUM(n) OVER (ORDER BY x
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nl,
                   SUM(pos) OVER (ORDER BY x
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS posl
            FROM agg
        ),
        scored AS (
            SELECT c.x AS threshold_centi,
                   c.nl AS nl, t.n_tot - c.nl AS nr,
                   c.posl AS posl, t.pos_tot - c.posl AS posr,
                   CAST((  (CAST(c.posl AS DECIMAL(38,0)) * c.posl
                            + CAST(c.nl - c.posl AS DECIMAL(38,0))
                              * (c.nl - c.posl))
                           * (t.n_tot - c.nl)
                         + (CAST(t.pos_tot - c.posl AS DECIMAL(38,0))
                              * (t.pos_tot - c.posl)
                            + CAST((t.n_tot - c.nl) - (t.pos_tot - c.posl)
                                   AS DECIMAL(38,0))
                              * ((t.n_tot - c.nl) - (t.pos_tot - c.posl)))
                           * c.nl)
                        * 1000000 DIV (CAST(c.nl AS DECIMAL(38,0))
                                       * (t.n_tot - c.nl))
                        AS BIGINT) AS score_micro
            FROM cum c CROSS JOIN tot t
            WHERE c.nl < t.n_tot
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (ORDER BY score_micro DESC,
                                         threshold_centi) AS rnk
            FROM scored
        )
        SELECT rnk, threshold_centi, nl, nr, posl, posr, score_micro
        FROM ranked WHERE rnk <= 5
        """
    )


@register(
    "q_auc_exact",
    oracle="""
    WITH v AS (
        SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS score,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c1,
               SUM(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS c2
        FROM events
        GROUP BY CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
    ),
    cum AS (
        SELECT c1, c2,
               SUM(c1) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum1,
               SUM(c2) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum2
        FROM v
    ),
    tot AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM v),
    r1 AS (
        SELECT SUM(c1 * (2 * (cum1 + cum2 - c1 - c2 + 1) + c1 + c2 - 1))
                   AS two_r1
        FROM cum
    )
    SELECT CAST(t.n1 AS BIGINT) AS n_pos, CAST(t.n2 AS BIGINT) AS n_neg,
           CAST(10000 * (two_r1 - t.n1 * (t.n1 + 1))
                // (2 * t.n1 * t.n2) AS BIGINT) AS auc_bp
    FROM r1 CROSS JOIN tot t
    """,
)
def q_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X150: exact ROC AUC in basis points (doubled-rank Mann-Whitney).

    AUC of "event value predicts purchase" — AUC == U1/(n1*n2), so the
    X125 doubled-rank machinery computes it EXACTLY with ties handled
    by the trapezoidal convention (tied scores contribute 1/2): no
    threshold sweep, no float accumulation, one truncating integer
    division into bp at the very end. The classifier-eval twin of
    X73's confusion matrix: together they give threshold-free and
    thresholded evaluation, both hash-checkable. Cumulative counts run
    through the two-pass operator over the grouped score relation.
    """
    from laser_hadoop_spark.operators.cumulative import ordered_cumsum

    e = table(spark, sf_dir, "events")
    is_pos = (F.col("event_type") == "purchase").cast("bigint")
    v = e.groupBy(_centi("value").alias("score")).agg(
        F.sum(is_pos).alias("c1"),
        F.sum(1 - is_pos).alias("c2"),
    )
    cum = ordered_cumsum(
        v, order_by=["score"], values={"c1": "cum1", "c2": "cum2"}
    )
    two_r1 = cum.agg(
        F.sum(
            F.col("c1").cast("decimal(38,0)")
            * (
                2 * (F.col("cum1") + F.col("cum2") - F.col("c1") - F.col("c2") + 1)
                + F.col("c1")
                + F.col("c2")
                - 1
            )
        ).alias("two_r1")
    )  # decimal: 2*R1 ~ 2*n1*N is quadratic in event count
    tot = v.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    u1_x2 = F.col("two_r1") - F.col("n1").cast("decimal(38,0)") * (
        F.col("n1") + 1
    )
    return (
        two_r1.crossJoin(F.broadcast(tot))
        .select(
            F.col("n1").cast("bigint").alias("n_pos"),
            F.col("n2").cast("bigint").alias("n_neg"),
            (10000 * u1_x2).alias("__num"),
        )
        .select(
            "n_pos",
            "n_neg",
            F.expr(
                "CAST(__num div (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg)"
                " AS BIGINT)"
            ).alias("auc_bp"),
        )
    )


@register(
    "q_calibration_bins",
    oracle="""
    WITH v AS (
        SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS score,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label,
               NTILE(10) OVER (ORDER BY CAST(FLOOR(value * 100 + 0.5)
                                             AS BIGINT), event_id) AS bin
        FROM events
    )
    SELECT CAST(bin AS INT) AS bin, COUNT(*) AS n,
           CAST(SUM(label) AS BIGINT) AS n_pos,
           CAST(10000 * SUM(label) // COUNT(*) AS BIGINT) AS pos_rate_bp,
           CAST(MIN(score) AS BIGINT) AS lo_centi,
           CAST(MAX(score) AS BIGINT) AS hi_centi
    FROM v GROUP BY bin
    """,
)
def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X154: calibration / reliability table over score deciles.

    The thresholded companion to X150's AUC: bucket the score axis
    into ten equal-count bins and report the observed positive rate
    per bin — the data behind a reliability diagram (and the lift/gain
    table marketers read). Bins reuse X118's closed-form ntile over
    the two-pass global rank (q = n DIV 10, r = n % 10 remainder
    arithmetic), so the fact-table ranking has no single-partition
    window; the oracle keeps DuckDB's NTILE spelling and hash equality
    proves the closed form again on a different relation.
    """
    from laser_hadoop_spark.operators.cumulative import (
        closed_form_ntile,
        ordered_cumsum,
    )

    e = table(spark, sf_dir, "events")
    v = e.select(
        _centi("value").alias("score"),
        (F.col("event_type") == "purchase").cast("bigint").alias("label"),
        "event_id",
    )
    ranked = ordered_cumsum(
        v, order_by=["score", "event_id"], row_number_col="rn"
    )
    n_row = v.agg(F.count("*").alias("n"))
    bin_ = closed_form_ntile()
    return (
        ranked.crossJoin(F.broadcast(n_row))
        .select("score", "label", bin_.cast("int").alias("bin"))
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.sum("label").cast("bigint").alias("n_pos"),
            F.expr("CAST(10000 * SUM(label) DIV COUNT(*) AS BIGINT)").alias(
                "pos_rate_bp"
            ),
            F.min("score").cast("bigint").alias("lo_centi"),
            F.max("score").cast("bigint").alias("hi_centi"),
        )
    )


@register(
    "q_knn_classify",
    tags=("pairs",),
    oracle="""
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id, c.label,
               ROUND(list_cosine_similarity(q.v, c.v), 4) AS sim
        FROM e q JOIN e c ON c.vec_id >= 50
        WHERE q.vec_id < 50
    ),
    ranked AS (
        SELECT query_id, label, sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, cand_id) AS rn
        FROM scored
    ),
    votes AS (
        SELECT query_id, label, COUNT(*) AS n_votes
        FROM ranked WHERE rn <= 5 GROUP BY query_id, label
    ),
    winner AS (
        SELECT query_id, label, n_votes,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY n_votes DESC, label) AS w
        FROM votes
    )
    SELECT query_id, label AS pred_label, CAST(n_votes AS BIGINT) AS n_votes
    FROM winner WHERE w = 1
    """,
)
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X157: 5-NN majority-vote classifier over the embedding table.

    The lazy-learning counterpart of the X72/X73 Naive Bayes pipeline:
    vectors 0..49 are queries, the rest the labeled index; each query
    takes the majority label of its 5 nearest neighbors by cosine.
    Ranking uses ROUND(sim, 4) with the unique cand_id tiebreaker (the
    L4 convention that keeps float ranking cross-engine stable), and
    the vote uses the deterministic (count DESC, label) mode tiebreak
    of X107. Plan: the 50-query side broadcasts against one
    repartitioned scan of the index, norms are hoisted out of the
    pair loop (one HOF fold per pair, not three — bit-identical
    arithmetic), ranking is the salted two-level top-k (no
    fixed-parallelism window), and the vote aggregate is 250 rows.
    Measured 2.41 s -> 0.82 s at sf0.1. At 100 TB the index side
    would first pass through the IVF cell join (X2) and the scoring
    fold through the Arrow BLAS kernel (operators/similarity.py) —
    the vote algebra is unchanged.
    """
    emb = table(spark, sf_dir, "embeddings")
    dbl = lambda c: F.transform(c, lambda x: x.cast("double"))  # noqa: E731
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(dbl(c), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    # Norms are per-VECTOR, not per-pair: computing them once on each
    # side before the cross join cuts the pair loop from three
    # interpreted HOF folds (dot + both norms — llm._cosine) to one,
    # with bit-identical arithmetic (same folds, same order, just
    # hoisted). 3x fewer lambda evals on the |index| x |queries| path.
    q = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        norm("embedding").alias("qn"),
    )
    cand = (
        emb.where(F.col("vec_id") >= 50)
        # PERF_NOTES small-file lesson: the one-file embeddings scan is
        # a single task; rebalance the raw rows before the per-pair fold
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            F.col("vec_id").alias("cand_id"),
            "label",
            "embedding",
            norm("embedding").alias("cn"),
        )
    )
    dot = F.aggregate(
        F.zip_with(dbl(F.col("embedding")), dbl(F.col("qv")), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = cand.crossJoin(F.broadcast(q)).select(
        "query_id",
        "cand_id",
        "label",
        F.round(dot / (F.col("cn") * F.col("qn")), 4).alias("sim"),
    )
    # Two-level top-k: the single-level window partitions only by the
    # 50 query ids, so 50 tasks each sort |index| rows — a fixed
    # parallelism ceiling that ignores the cluster size. Level 1
    # takes the top 5 per (query, salt) with a deterministic 64-way
    # cand_id salt — 50 x 64 groups, each sort 1/64th the size — and
    # the global top 5 provably survives (at most 4 rows beat any
    # true top-5 row, so it is top-5 in ITS salt group too; the rank
    # order (sim desc, cand_id) is total, so local and global top-k
    # agree deterministically). Level 2 re-ranks 5 x 64 rows per
    # query. The X4 salting pattern applied to rank instead of join.
    local_w = Window.partitionBy("query_id", "__salt").orderBy(
        F.col("sim").desc(), F.col("cand_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("cand_id")
    )
    local_top = (
        scored.withColumn("__salt", F.pmod(F.col("cand_id"), F.lit(64)))
        .withColumn("__lrn", F.row_number().over(local_w))
        .where(F.col("__lrn") <= 5)
        .drop("__salt", "__lrn")
    )
    votes = (
        local_top.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .groupBy("query_id", "label")
        .agg(F.count("*").alias("n_votes"))
    )
    ww = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("label")
    )
    return (
        votes.withColumn("w", F.row_number().over(ww))
        .where(F.col("w") == 1)
        .select(
            "query_id",
            F.col("label").alias("pred_label"),
            F.col("n_votes").cast("bigint").alias("n_votes"),
        )
    )


_EMB_FIXED = """
    e AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5)
                             AS BIGINT)) AS v
        FROM embeddings
    )
"""


@register(
    "q_embedding_norm_stats",
    oracle="WITH "
    + _EMB_FIXED
    + """,
    norms AS (
        SELECT label,
               list_sum(list_transform(v, x -> x * x)) AS n2
        FROM e
    )
    SELECT label, COUNT(*) AS n_vecs,
           CAST(MIN(n2) AS BIGINT) AS min_norm2,
           CAST(MAX(n2) AS BIGINT) AS max_norm2,
           CAST(SUM(n2) // COUNT(*) AS BIGINT) AS avg_norm2
    FROM norms GROUP BY label
    """,
)
def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X159: exact vector-norm profile per label.

    The first embedding-space health check before any ANN build: are
    norms uniform across labels (cosine vs dot-product choice), did a
    label's vectors collapse toward zero? Each component micro-fixed-
    points to a bigint FIRST, so every squared norm is an exact
    integer (64 dims x (1e6)^2 fits bigint with 5 orders to spare)
    and min/max/avg are hash-stable — no float summation anywhere.
    Scan-local per-vector math + one small aggregate; at 100 TB this
    is embarrassingly parallel over file splits.
    """
    emb = table(spark, sf_dir, "embeddings")
    fixed = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 1_000_000 + F.lit(0.5)).cast(
            "bigint"
        ),
    )
    n2 = F.aggregate(
        F.transform(fixed, lambda x: x * x),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    norms = emb.select("label", n2.alias("n2"))
    return norms.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.min("n2").cast("bigint").alias("min_norm2"),
        F.max("n2").cast("bigint").alias("max_norm2"),
        # sum through DECIMAL(38): 32k vectors x ~1e12 micro^2 norms
        # can pass bigint range; `div` truncates like DuckDB's // on
        # the HUGEINT its SUM produces
        F.expr(
            "CAST(SUM(CAST(n2 AS DECIMAL(38,0))) div COUNT(*) AS BIGINT)"
        ).alias("avg_norm2"),
    )


@register(
    "q_dims_variance",
    oracle="WITH "
    + _EMB_FIXED
    + """,
    cells AS (
        SELECT UNNEST(generate_series(1, len(v))) - 1 AS dim,
               UNNEST(v) AS x
        FROM e
    ),
    s AS (
        SELECT dim, COUNT(*) AS n, SUM(x) AS sx,
               SUM(CAST(x AS HUGEINT) * x) AS sxx
        FROM cells GROUP BY dim
    )
    SELECT CAST(dim AS INT) AS dim, CAST(n AS BIGINT) AS n,
           CAST(sx // n AS BIGINT) AS mean_micro,
           CAST((n * sxx - sx * sx) // (n * n) AS BIGINT) AS var_micro2
    FROM s
    """,
)
def q_dims_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X160: per-dimension mean/variance of the embedding space.

    The collapsed-dimension detector: a dimension whose variance is
    near zero carries no information (and a mean far from zero breaks
    inner-product assumptions) — the profile an IVF/PQ index build
    reads before choosing a rotation. Same micro-fixed-point trick as
    X159, so the population variance is the exact integer
    (n*sxx - sx^2) DIV n^2 per dimension — cross-multiplied, no mean
    subtraction in floats (X52's algebra). posexplode gives the
    (dim, component) cells; one aggregate keyed by the 64-value dim
    axis. DuckDB's UNNEST pairs the two lists positionally (both
    derive from v), matching posexplode.
    """
    emb = table(spark, sf_dir, "embeddings")
    fixed = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 1_000_000 + F.lit(0.5)).cast(
            "bigint"
        ),
    )
    cells = emb.select(F.posexplode(fixed).alias("dim", "x"))
    s = cells.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        # product through decimal: micro^2 cells wrap bigint sums at
        # ~100x the driver vector count
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
    )
    return s.select(
        F.col("dim").cast("int").alias("dim"),
        F.col("n").cast("bigint").alias("n"),
        F.expr("CAST(sx DIV n AS BIGINT)").alias("mean_micro"),
        # n*sxx overflows bigint at sf0.01 (32k rows x ~1e13 squares):
        # products in DECIMAL(38,0), truncating `div` to match DuckDB's
        # // on HUGEINT (numerator is a variance — never negative)
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * sxx"
            "      - CAST(sx AS DECIMAL(38,0)) * sx)"
            "     div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"
        ).alias("var_micro2"),
    )


@register(
    "q_f1_scores",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               CAST(CAST(('0x' || substring(md5(UNNEST(string_split(text, ' '))), 1, 15))
                    AS BIGINT) % 64 AS INT) AS bucket
        FROM documents
    ),
    class_tot AS (
        SELECT lang, COUNT(*) AS n_class FROM toks GROUP BY lang
    ),
    n_docs AS (SELECT COUNT(*) AS nd FROM documents),
    feat AS (
        SELECT lang, bucket, COUNT(*) AS n FROM toks GROUP BY lang, bucket
    ),
    grid AS (
        SELECT c.lang, b.bucket, c.n_class, COALESCE(f.n, 0) AS n
        FROM class_tot c
        CROSS JOIN (SELECT DISTINCT bucket FROM toks) b
        LEFT JOIN feat f ON f.lang = c.lang AND f.bucket = b.bucket
    ),
    model AS (
        SELECT lang, bucket,
               CAST(ROUND(LOG10(CAST(n + 1 AS DOUBLE) / (n_class + 64))
                          * 1000000) AS BIGINT) AS loglik_micro
        FROM grid
    ),
    prior AS (
        SELECT t.lang,
               CAST(ROUND(LOG10(CAST(COUNT(DISTINCT x.doc_id) AS DOUBLE)
                                / MIN(d.nd)) * 1000000) AS BIGINT)
                   AS prior_micro
        FROM class_tot t
        JOIN toks x ON x.lang = t.lang
        CROSS JOIN n_docs d
        GROUP BY t.lang
    ),
    doc_feat AS (
        SELECT doc_id, lang AS true_lang, bucket, COUNT(*) AS tf
        FROM toks GROUP BY doc_id, lang, bucket
    ),
    scores AS (
        SELECT d.doc_id, d.true_lang, m.lang AS cand,
               MIN(p.prior_micro) + SUM(d.tf * m.loglik_micro) AS score
        FROM doc_feat d
        JOIN model m ON m.bucket = d.bucket
        JOIN prior p ON p.lang = m.lang
        GROUP BY d.doc_id, d.true_lang, m.lang
    ),
    pred AS (
        SELECT doc_id, true_lang, cand AS pred_lang,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, cand) AS rn
        FROM scores
    ),
    cm AS (
        SELECT true_lang, pred_lang, COUNT(*) AS n
        FROM pred WHERE rn = 1 GROUP BY true_lang, pred_lang
    ),
    classes AS (SELECT DISTINCT lang FROM class_tot),
    stats AS (
        SELECT c.lang,
               COALESCE((SELECT SUM(n) FROM cm
                         WHERE true_lang = c.lang AND pred_lang = c.lang), 0)
                   AS tp,
               COALESCE((SELECT SUM(n) FROM cm WHERE pred_lang = c.lang), 0)
                   AS pred_n,
               COALESCE((SELECT SUM(n) FROM cm WHERE true_lang = c.lang), 0)
                   AS true_n
        FROM classes c
    )
    SELECT lang, CAST(tp AS BIGINT) AS tp,
           CAST(pred_n AS BIGINT) AS n_predicted,
           CAST(true_n AS BIGINT) AS n_actual,
           CAST(CASE WHEN pred_n = 0 THEN 0
                     ELSE 10000 * tp // pred_n END AS BIGINT) AS precision_bp,
           CAST(CASE WHEN true_n = 0 THEN 0
                     ELSE 10000 * tp // true_n END AS BIGINT) AS recall_bp,
           CAST(CASE WHEN pred_n + true_n = 0 THEN 0
                     ELSE 2 * 10000 * tp // (pred_n + true_n) END AS BIGINT)
               AS f1_bp
    FROM stats
    """,
)
def q_f1_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X172: per-class precision/recall/F1 from the NB confusion matrix.

    Completes the eval suite (X73 confusion counts, X150 AUC, X154
    calibration): per language, precision = tp/predicted, recall =
    tp/actual, and F1 spelled in its tp form — F1 = 2tp/(pred+actual)
    — so ALL three ratios are single truncating integer divisions
    into bp (the harmonic mean of two truncated ratios would compound
    rounding; the tp form never divides twice). Reuses X73's scoring
    pipeline verbatim (pure-bigint scores, deterministic argmax); the
    stats relation is |classes| rows.
    """
    toks = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            F.explode(F.split("text", " ")).alias("token"),
        )
        .select(
            "doc_id",
            "lang",
            (
                F.conv(F.substring(F.md5("token"), 1, 15), 16, 10).cast(
                    "bigint"
                )
                % 64
            )
            .cast("int")
            .alias("bucket"),
        )
    )
    class_tot = toks.groupBy("lang").agg(F.count("*").alias("n_class"))
    n_docs = table(spark, sf_dir, "documents").agg(
        F.count("*").alias("nd")
    )
    feat = toks.groupBy("lang", "bucket").agg(F.count("*").alias("n"))
    buckets = toks.select("bucket").distinct()
    grid = (
        class_tot.crossJoin(buckets)
        .join(feat, ["lang", "bucket"], "left")
        .select(
            "lang",
            "bucket",
            "n_class",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        )
    )
    model = grid.select(
        "lang",
        "bucket",
        F.round(
            F.log10(
                (F.col("n") + 1).cast("double") / (F.col("n_class") + 64)
            )
            * 1_000_000
        )
        .cast("bigint")
        .alias("loglik_micro"),
    )
    prior = (
        toks.groupBy("lang")
        .agg(F.count_distinct("doc_id").alias("nd_class"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "lang",
            F.round(
                F.log10(F.col("nd_class").cast("double") / F.col("nd"))
                * 1_000_000
            )
            .cast("bigint")
            .alias("prior_micro"),
        )
    )
    doc_feat = toks.groupBy(
        "doc_id", F.col("lang").alias("true_lang"), "bucket"
    ).agg(F.count("*").alias("tf"))
    scores = (
        doc_feat.join(
            F.broadcast(model.select(F.col("lang").alias("cand"), "bucket", "loglik_micro")),
            "bucket",
        )
        .join(F.broadcast(prior.select(F.col("lang").alias("cand"), "prior_micro")), "cand")
        .groupBy("doc_id", "true_lang", "cand")
        .agg(
            (
                F.min("prior_micro")
                + F.sum(F.col("tf") * F.col("loglik_micro"))
            ).alias("score")
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("cand")
    )
    cm = (
        scores.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .groupBy("true_lang", F.col("cand").alias("pred_lang"))
        .agg(F.count("*").alias("n"))
    )
    classes = class_tot.select("lang")
    tp = cm.where(F.col("true_lang") == F.col("pred_lang")).select(
        F.col("true_lang").alias("lang"), F.col("n").alias("tp")
    )
    pred_n = cm.groupBy(F.col("pred_lang").alias("lang")).agg(
        F.sum("n").alias("pred_n")
    )
    true_n = cm.groupBy(F.col("true_lang").alias("lang")).agg(
        F.sum("n").alias("true_n")
    )
    stats = (
        classes.join(tp, "lang", "left")
        .join(pred_n, "lang", "left")
        .join(true_n, "lang", "left")
        .select(
            "lang",
            F.coalesce("tp", F.lit(0)).alias("tp"),
            F.coalesce("pred_n", F.lit(0)).alias("pred_n"),
            F.coalesce("true_n", F.lit(0)).alias("true_n"),
        )
    )
    return stats.select(
        "lang",
        F.col("tp").cast("bigint").alias("tp"),
        F.col("pred_n").cast("bigint").alias("n_predicted"),
        F.col("true_n").cast("bigint").alias("n_actual"),
        F.expr(
            "CAST(CASE WHEN pred_n = 0 THEN 0"
            " ELSE 10000 * tp DIV pred_n END AS BIGINT)"
        ).alias("precision_bp"),
        F.expr(
            "CAST(CASE WHEN true_n = 0 THEN 0"
            " ELSE 10000 * tp DIV true_n END AS BIGINT)"
        ).alias("recall_bp"),
        F.expr(
            "CAST(CASE WHEN pred_n + true_n = 0 THEN 0"
            " ELSE 2 * 10000 * tp DIV (pred_n + true_n) END AS BIGINT)"
        ).alias("f1_bp"),
    )


# --- X208: exact embedding covariance (leading dims) -----------------------

_COV_DIMS = 8


@register(
    "q_embedding_covariance",
    oracle=f"""
    WITH dims AS (
        SELECT vec_id,
               UNNEST(generate_series(1, {_COV_DIMS})) AS d
        FROM embeddings
    ),
    vals AS (
        SELECT e.vec_id, d.d AS i,
               CAST(FLOOR(CAST(e.embedding[d.d] AS DOUBLE) * 1000 + 0.5)
                    AS BIGINT) AS v
        FROM embeddings e JOIN dims d ON d.vec_id = e.vec_id
    ),
    pairs AS (
        SELECT a.i, b.i AS j, a.vec_id, a.v AS va, b.v AS vb
        FROM vals a JOIN vals b
          ON b.vec_id = a.vec_id AND b.i >= a.i
    ),
    moments AS (
        SELECT i, j, COUNT(*) AS n,
               SUM(va) AS sa, SUM(vb) AS sb, SUM(va * vb) AS sab
        FROM pairs GROUP BY i, j
    )
    SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
           CAST((n * sab - sa * sb) // (n * n) AS BIGINT) AS cov_micro
    FROM moments
    """,
)
def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X208: exact covariance matrix (upper triangle) of the leading
    embedding dimensions, milli-fixed-point (milli x milli = micro).

    The Gram/covariance building block under PCA (U5's float path is
    pytest-only; this pins the cross-moments exactly): each vector's
    first 8 dims quantize to 1e-3 fixed point (milli — chosen so
    n·Σab stays far inside bigint at every probed scale; |x| < 1), the (i, j <= i..8)
    upper triangle explodes scan-locally (36 pairs per row — a
    constant), and one groupBy((i, j)) accumulates n, Σa, Σb, Σab.
    cov = (nΣab - ΣaΣb) / n² in exact integer micro²-units (population
    covariance, floor division — identical on both engines).

    100 TB: the shuffle carries 36 partial-moment rows per partition
    (map-side combine), independent of vector count; full-width d
    would shuffle d(d+1)/2 cells — the standard tall-skinny Gram
    pattern where the reduce is O(d²), never O(n).
    """
    em = table(spark, sf_dir, "embeddings")
    vals = em.select(
        "vec_id",
        F.posexplode(F.slice(F.col("embedding"), 1, _COV_DIMS)).alias("i0", "x"),
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.floor(F.col("x").cast("double") * 1000 + F.lit(0.5))
        .cast("bigint")
        .alias("v"),
    )
    a, b = vals.alias("a"), vals.alias("b")
    moments = (
        a.join(
            b,
            (F.col("b.vec_id") == F.col("a.vec_id"))
            & (F.col("b.i") >= F.col("a.i")),
        )
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(
            F.count("*").alias("n"),
            F.sum("a.v").alias("sa"),
            F.sum("b.v").alias("sb"),
            F.sum(F.col("a.v") * F.col("b.v")).alias("sab"),
        )
    )
    return moments.select(
        F.col("i").cast("int"),
        F.col("j").cast("int"),
        F.expr("(n * sab - sa * sb) DIV (n * n)").cast("bigint").alias("cov_micro"),
    )


# --- X233: Gini feature ranking --------------------------------------------


@register(
    "q_gini_features",
    oracle="""
    WITH feats AS (
        SELECT 'priority_class' AS feature,
               substring(o_orderpriority, 1, 1) AS val,
               o_orderstatus AS label
        FROM orders
        UNION ALL
        SELECT 'order_dow', CAST(dayofweek(CAST(o_orderdate AS DATE))
                                 AS VARCHAR), o_orderstatus
        FROM orders
        UNION ALL
        SELECT 'cust_cohort', CAST(o_custkey % 10 AS VARCHAR), o_orderstatus
        FROM orders
    ),
    cells AS (
        SELECT feature, val, label, COUNT(*) AS nvc
        FROM feats GROUP BY 1, 2, 3
    ),
    vals AS (
        SELECT feature, val, CAST(SUM(nvc) AS BIGINT) AS nv,
               CAST(SUM(nvc * nvc) AS BIGINT) AS sq
        FROM cells GROUP BY 1, 2
    ),
    tot AS (SELECT feature, CAST(SUM(nv) AS BIGINT) AS n FROM vals GROUP BY 1)
    SELECT v.feature,
           COUNT(*) AS n_values,
           CAST(SUM((v.nv * v.nv - v.sq) * 1000000 // (v.nv * t.n))
                AS BIGINT) AS gini_micro
    FROM vals v JOIN tot t ON t.feature = v.feature
    GROUP BY v.feature
    """,
)
def q_gini_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X233: weighted-Gini feature ranking, exact rationals.

    X70 found the best split point of ONE feature; this ranks
    CANDIDATE FEATURES by the weighted Gini impurity of the partition
    they induce on the label (order status): G_f = sum_v (n_v/N)(1 -
    sum_c (n_vc/n_v)^2), evaluated per value as the exact integer
    (n_v^2 - sum n_vc^2) * 1e6 DIV (n_v * N) and summed — no float
    share ever exists, so the ranking is hash-stable. Lower = purer =
    better feature. The feature-selection pass before any tree model.

    100 TB: one stacked scan (3 features, same shape as X228's
    advisor), one (feature, value, label) aggregate with map-side
    combine, rollups over dimension-sized relations.
    """
    o = table(spark, sf_dir, "orders")
    feats = o.selectExpr(
        "stack(3, "
        "'priority_class', substring(o_orderpriority, 1, 1), "
        "'order_dow', CAST(dayofweek(CAST(o_orderdate AS DATE)) AS STRING), "
        "'cust_cohort', CAST(o_custkey % 10 AS STRING)) AS (feature, val)",
        "o_orderstatus AS label",
    )
    cells = feats.groupBy("feature", "val", "label").agg(
        F.count("*").alias("nvc")
    )
    vals = cells.groupBy("feature", "val").agg(
        F.sum("nvc").cast("bigint").alias("nv"),
        F.sum(F.col("nvc") * F.col("nvc")).cast("bigint").alias("sq"),
    )
    tot = vals.groupBy("feature").agg(F.sum("nv").cast("bigint").alias("n"))
    return (
        vals.join(F.broadcast(tot), "feature")
        .groupBy("feature")
        .agg(
            F.count("*").alias("n_values"),
            F.sum(F.expr("(nv * nv - sq) * 1000000 DIV (nv * n)"))
            .cast("bigint")
            .alias("gini_micro"),
        )
    )


# --- X298: simplified silhouette ---------------------------------------------


@register(
    "q_silhouette",
    oracle="""
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5)
                             AS BIGINT)) AS v
        FROM embeddings
    ),
    cells AS (
        SELECT vec_id, label,
               UNNEST(generate_series(1, len(v))) - 1 AS dim,
               UNNEST(v) AS x
        FROM e
    ),
    cent AS (
        SELECT label AS clabel, dim, SUM(x) AS s, COUNT(*) AS n
        FROM cells GROUP BY 1, 2
    ),
    d2 AS (
        SELECT c.vec_id, c.label, t.clabel, t.n,
               SUM((t.n * c.x - t.s) * (t.n * c.x - t.s)) AS dd
        FROM cells c JOIN cent t ON t.dim = c.dim
        GROUP BY 1, 2, 3, 4
    ),
    ab AS (
        SELECT vec_id, label,
               MIN(CASE WHEN clabel = label
                   THEN SQRT(CAST(dd AS DOUBLE)) / n END) AS a,
               MIN(CASE WHEN clabel <> label
                   THEN SQRT(CAST(dd AS DOUBLE)) / n END) AS b
        FROM d2 GROUP BY 1, 2
    ),
    sil AS (
        SELECT label,
               CASE WHEN GREATEST(a, b) > 0
                    THEN CAST(ROUND(10000 * (b - a) / GREATEST(a, b))
                              AS BIGINT)
                    ELSE 0 END AS sil_bp
        FROM ab
    )
    SELECT CAST(label AS INT) AS label, CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(sil_bp) // COUNT(*) AS BIGINT) AS avg_sil_bp
    FROM sil GROUP BY label ORDER BY label
    """,
)
def q_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X298: simplified silhouette score per embedding label.

    Clustering quality without the O(n^2) pairwise matrix: each
    point's cohesion a = distance to OWN label centroid, separation
    b = distance to the NEAREST other centroid, silhouette =
    (b-a)/max(a,b). Centroid distances are exact integers via the
    (n*x - S)^2 cross-multiplication (X280's trick, vectorized over
    dims on milli-quantized coordinates) — sqrt and one ratio are the
    only floats, micro-rounded per point, then averaged as an integer
    sum. The full-silhouette O(n^2) is replaced by O(n*K) centroid
    probes — the form that scales.

    100 TB: centroid sums shuffle (label, dim) cells — bounded by
    K * dims, broadcast back; per-point distance terms aggregate
    scan-locally partial on (vec_id, other-label).
    """
    emb = table(spark, sf_dir, "embeddings")
    fixed = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1000 + 0.5).cast("bigint"),
    )
    cells = emb.select(
        "vec_id", "label", F.posexplode(fixed).alias("dim", "x")
    )
    cent = cells.groupBy(
        F.col("label").alias("clabel"), F.col("dim").alias("cdim")
    ).agg(F.sum("x").alias("s"), F.count("*").alias("n"))
    term = F.col("n") * F.col("x") - F.col("s")
    d2 = (
        cells.join(F.broadcast(cent), F.col("cdim") == F.col("dim"))
        .groupBy("vec_id", "label", "clabel", "n")
        .agg(F.sum(term * term).alias("dd"))
    )
    dval = F.sqrt(F.col("dd").cast("double")) / F.col("n")
    ab = d2.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("clabel") == F.col("label"), dval)).alias("a"),
        F.min(F.when(F.col("clabel") != F.col("label"), dval)).alias("b"),
    )
    sil = ab.select(
        "label",
        F.when(
            F.greatest("a", "b") > 0,
            F.round(
                10000 * (F.col("b") - F.col("a")) / F.greatest("a", "b")
            ).cast("bigint"),
        )
        .otherwise(F.lit(0).cast("bigint"))
        .alias("sil_bp"),
    )
    tot = F.sum("sil_bp")
    return (
        sil.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_points"),
            ((tot - tot % F.count("*")) / F.count("*"))
            .cast("bigint")
            .alias("avg_sil_bp"),
        )
        .select(F.col("label").cast("int").alias("label"), "n_points", "avg_sil_bp")
        .orderBy("label")
    )


# --- X299: ECOD-style multivariate outliers ----------------------------------

_ECOD_TOP = 20


@register(
    "q_ecod_outliers",
    oracle=f"""
    WITH cust AS (
        SELECT o_custkey,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    nn AS (SELECT COUNT(*) AS n FROM cust),
    cx AS (
        SELECT x AS vx, COUNT(*) AS cnt,
               SUM(COUNT(*)) OVER (ORDER BY x) AS cum
        FROM cust GROUP BY x
    ),
    cy AS (
        SELECT y AS vy, COUNT(*) AS cnt,
               SUM(COUNT(*)) OVER (ORDER BY y) AS cum
        FROM cust GROUP BY y
    ),
    scored AS (
        SELECT c.o_custkey,
               CAST(ROUND(1000000 * LN(CAST(n.n AS DOUBLE)
                    / LEAST(cx.cum, n.n - cx.cum + cx.cnt))) AS BIGINT)
                   AS tx_micro,
               CAST(ROUND(1000000 * LN(CAST(n.n AS DOUBLE)
                    / LEAST(cy.cum, n.n - cy.cum + cy.cnt))) AS BIGINT)
                   AS ty_micro
        FROM cust c
        JOIN cx ON cx.vx = c.x
        JOIN cy ON cy.vy = c.y
        CROSS JOIN nn n
    )
    SELECT o_custkey, tx_micro, ty_micro,
           CAST(tx_micro + ty_micro AS BIGINT) AS score_micro
    FROM scored
    ORDER BY score_micro DESC, o_custkey LIMIT {_ECOD_TOP}
    """,
)
def q_ecod_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X299: ECOD-style multivariate outlier scores (exact tail counts).

    The parameter-free outlier detector (Li et al., ECOD): per
    dimension, a point's tail probability is the SMALLER of its left
    and right empirical-CDF tails; the score sums -ln(tail) across
    dimensions — here (order count, lifetime spend) per customer.
    Tail probabilities are exact integer count ratios from per-value
    censuses (cum <= v and n - cum + cnt >= v), each dimension's
    -ln micro-rounds once, and the score is an integer sum — X75's
    3-sigma flags assume Gaussian tails, this assumes nothing.

    100 TB: per-dim value censuses are partial-aggregated and their
    running counts live on the distinct-value relation (two-pass
    ordered_cumsum, no single-partition fact window); scoring joins
    are on value keys with the censuses broadcast.
    """
    o = table(spark, sf_dir, "orders")
    # customer-grain aggregate is referenced three times (two censuses
    # + the scoring probe) — checkpoint so the fact shuffle runs once
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").cast("bigint").alias("x"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("y"),
        )
        .localCheckpoint(eager=True)
    )
    nn = cust.agg(F.count("*").alias("n"))

    def census(col: str, vname: str) -> DataFrame:
        per_v = cust.groupBy(F.col(col).alias(vname)).agg(
            F.count("*").alias("cnt")
        )
        return ordered_cumsum(per_v, order_by=[vname], values={"cnt": "cum"})

    cx = census("x", "vx")
    cy = census("y", "vy")

    def tail(cum: F.Column, cnt: F.Column) -> F.Column:
        return F.round(
            1000000
            * F.log(
                F.col("n").cast("double")
                / F.least(cum, F.col("n") - cum + cnt)
            )
        ).cast("bigint")

    scored = (
        cust.join(F.broadcast(cx), F.col("vx") == F.col("x"))
        .withColumnRenamed("cum", "cumx")
        .withColumnRenamed("cnt", "cntx")
        .join(F.broadcast(cy), F.col("vy") == F.col("y"))
        .withColumnRenamed("cum", "cumy")
        .withColumnRenamed("cnt", "cnty")
        .crossJoin(F.broadcast(nn))
        .select(
            "o_custkey",
            tail(F.col("cumx"), F.col("cntx")).alias("tx_micro"),
            tail(F.col("cumy"), F.col("cnty")).alias("ty_micro"),
        )
    )
    return (
        scored.select(
            "o_custkey",
            "tx_micro",
            "ty_micro",
            (F.col("tx_micro") + F.col("ty_micro"))
            .cast("bigint")
            .alias("score_micro"),
        )
        .orderBy(F.desc("score_micro"), "o_custkey")
        .limit(_ECOD_TOP)
    )


# --- X336: exact average precision -------------------------------------------


@register(
    "q_average_precision",
    oracle="""
    WITH scored AS (
        SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS score,
               event_id,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel
        FROM events
    ),
    ranked AS (
        SELECT rel,
               CAST(ROW_NUMBER() OVER (ORDER BY score DESC, event_id)
                    AS BIGINT) AS k,
               CAST(SUM(rel) OVER (ORDER BY score DESC, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS BIGINT) AS cumrel
        FROM scored
    ),
    tot AS (SELECT CAST(SUM(rel) AS BIGINT) AS r,
                   CAST(COUNT(*) AS BIGINT) AS n FROM ranked),
    terms AS (
        SELECT CAST(ROUND(1000000.0 * cumrel / k) AS BIGINT) AS term
        FROM ranked WHERE rel = 1
    )
    SELECT t.r AS n_pos,
           CAST(ROUND(CAST(SUM(term) AS DOUBLE) / t.r) AS BIGINT)
               AS ap_micro,
           CAST(ROUND(1000000.0 * t.r / t.n) AS BIGINT)
               AS prevalence_micro
    FROM terms CROSS JOIN tot t
    GROUP BY t.r, t.n
    """,
)
def q_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X336: exact average precision (area under the PR curve).

    The retrieval-side twin of X150's ROC AUC: AP = mean over relevant
    ranks of precision@k under the deterministic total order (score
    DESC, event_id) — the class-imbalance-honest metric (its baseline
    is the prevalence, reported beside it, where AUC's is always 0.5).
    Each precision@k is ONE float division micro-rounded on the
    two-pass global rank; the final mean is one more division.

    100 TB: ordered_cumsum's range-partitioned rank (zero
    single-partition windows), then a 1-row aggregate over the
    relevant rows only.
    """
    e = table(spark, sf_dir, "events")
    scored = e.select(
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("score"),
        "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("rel"),
    ).withColumn("negscore", -F.col("score"))
    ranked = ordered_cumsum(
        scored,
        order_by=["negscore", "event_id"],
        values={"rel": "cumrel"},
        row_number_col="k",
    ).select("rel", F.col("k").cast("bigint").alias("k"), "cumrel")
    tot = F.broadcast(
        ranked.agg(
            F.sum("rel").cast("bigint").alias("r"),
            F.count("*").cast("bigint").alias("n"),
        )
    )
    terms = ranked.where(F.col("rel") == 1).select(
        F.round(F.lit(1000000.0) * F.col("cumrel") / F.col("k"))
        .cast("bigint")
        .alias("term")
    )
    return (
        terms.crossJoin(tot)
        .groupBy("r", "n")
        .agg(F.sum("term").alias("s"))
        .select(
            F.col("r").alias("n_pos"),
            F.round(F.col("s").cast("double") / F.col("r"))
            .cast("bigint")
            .alias("ap_micro"),
            F.round(F.lit(1000000.0) * F.col("r") / F.col("n"))
            .cast("bigint")
            .alias("prevalence_micro"),
        )
    )


# --- X352: DBSCAN core/border/noise census (grid-blocked) ----------------------

_DB_EPS = 400
_DB_MINPTS = 4
_DB_RANGE = 10000
_DB_TOP = 200


@register(
    "q_dbscan_core",
    tags=("pairs",),
    oracle=f"""
    WITH pts AS (
        SELECT c_custkey AS id,
               {_md5i_sql("'x|' || CAST(c_custkey AS VARCHAR)")} % {_DB_RANGE} AS x,
               {_md5i_sql("'y|' || CAST(c_custkey AS VARCHAR)")} % {_DB_RANGE} AS y
        FROM customer
    ),
    nb AS (
        SELECT a.id, COUNT(*) AS n_nb
        FROM pts a JOIN pts b
          ON b.id <> a.id
         AND ABS(a.x - b.x) <= {_DB_EPS} AND ABS(a.y - b.y) <= {_DB_EPS}
        GROUP BY a.id
    ),
    core AS (SELECT id FROM nb WHERE n_nb >= {_DB_MINPTS}),
    labeled AS (
        SELECT p.id, COALESCE(n.n_nb, 0) AS n_nb,
               CASE WHEN n.n_nb >= {_DB_MINPTS} THEN 'core'
                    WHEN EXISTS (
                        SELECT 1 FROM core c JOIN pts q ON q.id = c.id
                        WHERE c.id <> p.id
                          AND ABS(p.x - q.x) <= {_DB_EPS}
                          AND ABS(p.y - q.y) <= {_DB_EPS}
                    ) THEN 'border'
                    ELSE 'noise' END AS label
        FROM pts p LEFT JOIN nb n ON n.id = p.id
    )
    SELECT id, CAST(n_nb AS BIGINT) AS n_nb, label
    FROM labeled
    ORDER BY n_nb DESC, id
    LIMIT {_DB_TOP}
    """,
)
def q_dbscan_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X352: DBSCAN's core/border/noise classification, grid-blocked.

    The expensive half of DBSCAN — epsilon-neighborhood counting and
    point classification — in the L-infinity metric (integer-exact:
    |dx| <= eps AND |dy| <= eps). Points live on a synthetic md5 2D
    grid per customer. The Spark plan never goes quadratic: space is
    cut into eps-sized cells, each point joins only the 3x3 cell
    block around it (one side exbodes its 9 neighbor cell keys; the
    join is a cell-key equi-join), and the true distance filter runs
    inside the matched block. The DuckDB oracle is the QUADRATIC
    definition — the hash match proves the grid blocking lossless,
    the same certificate style as q_embedding_threshold's grid matmul.
    (Full DBSCAN additionally merges core points into components —
    q_dedup_survivors' connected-components operator composes on top
    of the core-adjacency relation this query certifies.)

    100 TB: neighbor work is sum over cells of |cell| * |3x3 block| —
    density-bounded, the standard spatial-join discipline (X300's
    grid join, applied to clustering).
    """
    c = table(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        (_md5i(F.concat(F.lit("x|"), F.col("c_custkey").cast("string"))) % _DB_RANGE)
        .alias("x"),
        (_md5i(F.concat(F.lit("y|"), F.col("c_custkey").cast("string"))) % _DB_RANGE)
        .alias("y"),
    )
    cellx = F.floor(F.col("x") / _DB_EPS)
    celly = F.floor(F.col("y") / _DB_EPS)
    # side B: each point registered under its own cell. Round 12: the
    # cell key is a packed LONG (cellx*100 + celly — injective: celly
    # spans [-1, 26] << 100), not a concat_ws string: 8-byte join keys,
    # no per-row string building (guide §2.3 narrower types).
    b = pts.select(
        F.col("id").alias("b_id"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        (cellx * 100 + celly).alias("cell"),
    )
    # side A: each point probes its 9 surrounding cells
    offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    a = pts.select(
        "id",
        "x",
        "y",
        F.explode(
            F.array(
                *[(cellx + dx) * 100 + (celly + dy) for dx, dy in offsets]
            )
        ).alias("cell"),
    )
    # Round 12: the matched id-pairs are pinned (1.4M x 16 B at sf0.1)
    # — nb's count and near_core's semi-join both consume them, and
    # without the checkpoint the whole grid join executed TWICE (the
    # plan scanned customer 7x; measured 2.78 -> 2.15 s noop at
    # sf0.1). Ids only: the coordinates never outlive the distance
    # filter (guide §2.4 remove shuffles outright / §5 cache the
    # cheap-to-store, expensive-to-recompute side).
    matched = (
        a.join(b, "cell")
        .where(
            (F.col("b_id") != F.col("id"))
            & (F.abs(F.col("x") - F.col("bx")) <= _DB_EPS)
            & (F.abs(F.col("y") - F.col("by")) <= _DB_EPS)
        )
        .select("id", "b_id")
        .localCheckpoint(eager=True)
    )
    nb = matched.groupBy("id").agg(F.count("*").alias("n_nb"))
    core_ids = nb.where(F.col("n_nb") >= _DB_MINPTS).select(
        F.col("id").alias("core_id")
    )
    # border = non-core with a core point in range: reuse the matched
    # relation (neighbor pairs already carry both endpoints)
    near_core = (
        matched.join(
            F.broadcast(core_ids), F.col("b_id") == F.col("core_id"), "left_semi"
        )
        .select("id")
        .distinct()
        .withColumn("has_core_nb", F.lit(1))
    )
    labeled = (
        pts.select("id")
        .join(nb, "id", "left")
        .join(near_core, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("n_nb"), F.lit(0)).cast("bigint").alias("n_nb"),
            F.when(F.col("n_nb") >= _DB_MINPTS, "core")
            .when(F.col("has_core_nb") == 1, "border")
            .otherwise("noise")
            .alias("label"),
        )
    )
    return labeled.orderBy(F.desc("n_nb"), "id").limit(_DB_TOP)


# --- X362: 2D orthogonal Procrustes ---------------------------------------------

_PR_RANGE = 10000


@register(
    "q_procrustes2d",
    oracle=f"""
    WITH pts AS (
        SELECT c_custkey AS id,
               {_md5i_sql("'x|' || CAST(c_custkey AS VARCHAR)")} % {_PR_RANGE} AS x,
               {_md5i_sql("'y|' || CAST(c_custkey AS VARCHAR)")} % {_PR_RANGE} AS y
        FROM customer
    ),
    pairs AS (
        SELECT id, x, y,
               (3 * x - 4 * y) // 5
                   + ({_md5i_sql("'j|' || CAST(id AS VARCHAR)")} % 21 - 10) AS x2,
               (4 * x + 3 * y) // 5
                   + ({_md5i_sql("'k|' || CAST(id AS VARCHAR)")} % 21 - 10) AS y2
        FROM pts
    ),
    mom AS (
        SELECT COUNT(*) AS n,
               SUM(x) AS sx, SUM(y) AS sy, SUM(x2) AS sx2, SUM(y2) AS sy2,
               SUM(CAST(x AS DECIMAL(38,0)) * x2 + CAST(y AS DECIMAL(38,0)) * y2)
                   AS sdot,
               SUM(CAST(x AS DECIMAL(38,0)) * y2 - CAST(y AS DECIMAL(38,0)) * x2)
                   AS scross
        FROM pairs
    ),
    cm AS (
        SELECT n,
               n * sdot - (CAST(sx AS DECIMAL(38,0)) * sx2
                           + CAST(sy AS DECIMAL(38,0)) * sy2) AS s1n,
               n * scross - (CAST(sx AS DECIMAL(38,0)) * sy2
                             - CAST(sy AS DECIMAL(38,0)) * sx2) AS s2n
        FROM mom
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(s1n AS BIGINT) AS s1n,
           CAST(s2n AS BIGINT) AS s2n,
           CAST(ROUND(1000000 * s1n
                / SQRT(CAST(s1n * s1n + s2n * s2n AS DOUBLE))) AS BIGINT)
               AS cos_micro,
           CAST(ROUND(1000000 * s2n
                / SQRT(CAST(s1n * s1n + s2n * s2n AS DOUBLE))) AS BIGINT)
               AS sin_micro
    FROM cm
    """,
)
def q_procrustes2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X362: 2D orthogonal Procrustes rotation recovery — the
    alignment step the reference runs in an external binary (TRACE's
    Procrustes projection of study samples onto reference PCA space),
    exactly verified at the dimensionality where it is closed-form.

    A target point set is a known rational rotation of the md5 source
    set (the 3-4-5 Pythagorean rotation cos=3/5 sin=4/5 keeps every
    coordinate an integer) plus hash jitter; Procrustes recovers the
    rotation from the CENTERED cross-moments: R = [[c,-s],[s,c]] with
    (c, s) proportional to (Sum x.x'+y.y', Sum x.y'-y.x'). Centering
    never materializes means: n-scaled integer identities
    (n*S_dot - Sx*Sx2 - Sy*Sy2) keep everything exact in DECIMAL(38),
    and the recovered (cos, sin) micro lands on ~(600000, 800000) —
    the planted rotation — the single sqrt is the only float.

    100 TB: one scan, one 7-column moment aggregate — the same
    single-pass shape as X348's correlation matrix.
    """
    c = table(spark, sf_dir, "customer")
    key = F.col("c_custkey").cast("string")
    x = (_md5i(F.concat(F.lit("x|"), key)) % _PR_RANGE).alias("x")
    y = (_md5i(F.concat(F.lit("y|"), key)) % _PR_RANGE).alias("y")
    pts = c.select(F.col("c_custkey").alias("id"), x, y)
    jit_x = _md5i(F.concat(F.lit("j|"), F.col("id").cast("string"))) % 21 - 10
    jit_y = _md5i(F.concat(F.lit("k|"), F.col("id").cast("string"))) % 21 - 10
    pairs = pts.select(
        "x",
        "y",
        (F.expr("(3 * x - 4 * y) DIV 5") + jit_x).alias("x2"),
        (F.expr("(4 * x + 3 * y) DIV 5") + jit_y).alias("y2"),
    )
    dec = "decimal(38,0)"
    mom = pairs.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("x2").alias("sx2"),
        F.sum("y2").alias("sy2"),
        F.sum(
            F.col("x").cast(dec) * F.col("x2") + F.col("y").cast(dec) * F.col("y2")
        ).alias("sdot"),
        F.sum(
            F.col("x").cast(dec) * F.col("y2") - F.col("y").cast(dec) * F.col("x2")
        ).alias("scross"),
    )
    s1n = F.col("n") * F.col("sdot") - (
        F.col("sx").cast(dec) * F.col("sx2") + F.col("sy").cast(dec) * F.col("sy2")
    )
    s2n = F.col("n") * F.col("scross") - (
        F.col("sx").cast(dec) * F.col("sy2") - F.col("sy").cast(dec) * F.col("sx2")
    )
    cm = mom.select(F.col("n"), s1n.alias("s1n"), s2n.alias("s2n"))
    norm = F.sqrt(
        (F.col("s1n") * F.col("s1n") + F.col("s2n") * F.col("s2n")).cast("double")
    )
    return cm.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("s1n").cast("bigint").alias("s1n"),
        F.col("s2n").cast("bigint").alias("s2n"),
        F.round(F.lit(1000000) * F.col("s1n").cast("double") / norm)
        .cast("bigint")
        .alias("cos_micro"),
        F.round(F.lit(1000000) * F.col("s2n").cast("double") / norm)
        .cast("bigint")
        .alias("sin_micro"),
    )


# --- X363: closed-form 2-feature PCA ----------------------------------------------


@register(
    "q_eigen2_closed",
    oracle="""
    WITH v AS (
        SELECT CAST(ROUND(l_quantity) AS BIGINT) AS x,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem
    ),
    mom AS (
        SELECT COUNT(*) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
               SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
               SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
        FROM v
    ),
    cov AS (
        SELECT n,
               n * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS a,
               n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS b,
               n * syy - CAST(sy AS DECIMAL(38,0)) * sy AS c
        FROM mom
    ),
    d AS (
        -- all double algebra from here: (a-c)^2 overflows DECIMAL(38)
        -- once price^2 moments pass ~1e19 (hit at sf0.001 already),
        -- and each decimal op casts to double SEPARATELY so both
        -- engines round identically
        SELECT n, CAST(a AS DOUBLE) AS ad, CAST(b AS DOUBLE) AS bd,
               CAST(c AS DOUBLE) AS cd
        FROM cov
    ),
    ev AS (
        -- ev1 by the additive (cancellation-free) formula; ev2 via
        -- det/ev1, NEVER (t - disc)/2 — price variance dominates, so
        -- the subtractive form cancels to noise (probed: 3e-6
        -- divergence between engines)
        SELECT n, ad, bd, cd,
               (ad + cd + SQRT(POWER(ad - cd, 2) + 4 * POWER(bd, 2))) / 2
                   AS ev1
        FROM d
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(ev1, 4) AS ev1_n2,
           ROUND((ad * cd - bd * bd) / ev1, 4) AS ev2_n2,
           CAST(ROUND(10000 * ev1 / (ad + cd)) AS BIGINT) AS ev1_share_bp,
           -- eigenvector (b, ev1 - a): ev1 - a ~ c - a, no cancellation
           -- (the (ev1 - c) parametrization cancels catastrophically)
           CAST(ROUND(1000000 * bd / (ev1 - ad)) AS BIGINT)
               AS axis_ratio_micro
    FROM ev
    """,
)
def q_eigen2_closed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X363: closed-form 2-feature PCA over (quantity, price) — the
    exact-algebra member of the PCA story: U1/U5 run the reference's
    full-rank PCA in the grouped Arrow kernel (float, rows-only by
    nature), X208 builds the Gram matrix; this solves the eigenproblem
    END-TO-END where 2x2 algebra is closed-form. Covariance moments
    are n-scaled integers (n*Sxy - Sx*Sy, n^2*cov — price^2 sums need
    DECIMAL(38), the X348 lesson); eigenvalues, the leading
    explained-variance share, and the principal-axis direction ratio
    (x-loading per unit y-loading, from (ev1 - c)/b) take one sqrt.

    100 TB: one scan, one 6-column moment aggregate — X348's shape.
    """
    li = table(spark, sf_dir, "lineitem")
    v = li.select(
        F.round(F.col("l_quantity")).cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    dec = "decimal(38,0)"
    mom = v.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
    )
    cov = mom.select(
        "n",
        (F.col("n") * F.col("sxx") - F.col("sx").cast(dec) * F.col("sx")).alias("a"),
        (F.col("n") * F.col("sxy") - F.col("sx").cast(dec) * F.col("sy")).alias("b"),
        (F.col("n") * F.col("syy") - F.col("sy").cast(dec) * F.col("sy")).alias("c"),
    )
    # all double from here (decimal (a-c)^2 overflows 38 digits —
    # probed: DuckDB raises, Spark nulls), with the numerically STABLE
    # closed forms: ev1 additive, ev2 = det/ev1 (the subtractive
    # (t - disc)/2 cancels to noise when one variance dominates —
    # probed 3e-6 cross-engine divergence), eigenvector (b, ev1 - a)
    # (ev1 - a ~ c - a; the (ev1 - c) form cancels catastrophically)
    a, b, c = (F.col(k).cast("double") for k in ("a", "b", "c"))
    disc = F.sqrt(F.pow(a - c, 2) + 4 * F.pow(b, 2))
    ev1 = (a + c + disc) / 2
    return cov.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(ev1, 4).alias("ev1_n2"),
        F.round((a * c - b * b) / ev1, 4).alias("ev2_n2"),
        F.round(F.lit(10000) * ev1 / (a + c)).cast("bigint").alias("ev1_share_bp"),
        F.round(F.lit(1000000) * b / (ev1 - a))
        .cast("bigint")
        .alias("axis_ratio_micro"),
    )


# --- X364: per-group 2x2 Cholesky (whitening factors) ------------------------------


@register(
    "q_cholesky2",
    oracle="""
    WITH v AS (
        SELECT l_returnflag AS g,
               CAST(ROUND(l_quantity) AS BIGINT) AS x,
               CAST(ROUND(l_discount * 100) AS BIGINT) AS y
        FROM lineitem
    ),
    mom AS (
        SELECT g, COUNT(*) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
               SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
               SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
        FROM v GROUP BY g
    ),
    cov AS (
        SELECT g, n,
               n * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS a,
               n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS b,
               n * syy - CAST(sy AS DECIMAL(38,0)) * sy AS c
        FROM mom
    )
    SELECT g, CAST(n AS BIGINT) AS n,
           CAST(ROUND(1000000 * SQRT(CAST(a AS DOUBLE))) AS BIGINT)
               AS l11_micro_n,
           CAST(ROUND(1000000 * CAST(b AS DOUBLE) / SQRT(CAST(a AS DOUBLE)))
                AS BIGINT) AS l21_micro_n,
           CAST(ROUND(1000000 * SQRT(CAST(a * c - b * b AS DOUBLE)
                                     / CAST(a AS DOUBLE))) AS BIGINT)
               AS l22_micro_n,
           CAST(a * c - b * b AS VARCHAR) AS det_n4
    FROM cov
    ORDER BY g
    """,
)
def q_cholesky2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X364: per-group 2x2 Cholesky factors of the (quantity,
    discount) covariance — the whitening step between raw features
    and any Mahalanobis/PCA consumer (whiten first, THEN distance —
    the missing link between X348's correlation matrix and X299's
    multivariate outlier scores). L11 = sqrt(a), L21 = b/sqrt(a),
    L22 = sqrt((ac - b^2)/a) on the n-scaled integer covariance;
    the exact integer determinant n^4*det rides along AS VARCHAR (a
    DECIMAL(38) value — the positive-definiteness certificate: the
    factorization exists iff a > 0 and det > 0, both exact).

    100 TB: one scan, one per-group moment aggregate (3 groups).
    """
    li = table(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_returnflag").alias("g"),
        F.round(F.col("l_quantity")).cast("bigint").alias("x"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("y"),
    )
    dec = "decimal(38,0)"
    mom = v.groupBy("g").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
    )
    cov = mom.select(
        "g",
        "n",
        (F.col("n") * F.col("sxx") - F.col("sx").cast(dec) * F.col("sx")).alias("a"),
        (F.col("n") * F.col("sxy") - F.col("sx").cast(dec) * F.col("sy")).alias("b"),
        (F.col("n") * F.col("syy") - F.col("sy").cast(dec) * F.col("sy")).alias("c"),
    )
    a, b, c = (F.col(k).cast("double") for k in ("a", "b", "c"))
    det = F.col("a") * F.col("c") - F.col("b") * F.col("b")
    return cov.select(
        "g",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.lit(1000000) * F.sqrt(a)).cast("bigint").alias("l11_micro_n"),
        F.round(F.lit(1000000) * b / F.sqrt(a)).cast("bigint").alias("l21_micro_n"),
        F.round(F.lit(1000000) * F.sqrt(det.cast("double") / a))
        .cast("bigint")
        .alias("l22_micro_n"),
        det.cast("string").alias("det_n4"),
    ).orderBy("g")


# --- X374: k-dim Procrustes at production dimensionality (corpus entry) -------

# Planted exact transform: block-diagonal Givens rotation from
# Pythagorean-triple cosines (every entry rational), scale 3/2, integer
# translation. The study side is the reference side pushed through it,
# so the fitted Procrustes projection must recover the ORIGINAL integer
# PCs — analytically known, hence SQL-expressible without an SVD in the
# oracle. Fit-recovery error is ~1e-11 absolute on integer-valued
# targets, so rounding to integers is 10 orders from any boundary
# (X362 exactness discipline at k=8 instead of the 2D closed form).
_PK_GIVENS = (
    (0, 1, 3 / 5, 4 / 5),
    (2, 3, 5 / 13, 12 / 13),
    (4, 5, 8 / 17, 15 / 17),
    (6, 7, 7 / 25, 24 / 25),
)
_PK_SCALE = 1.5
_PK_SHIFT = (7.0, -3.0, 11.0, 5.0, -9.0, 2.0, 13.0, -6.0)
_PK_DIM = 8


@register(
    "q_procrustes_kdim",
    oracle=f"""
    SELECT CAST(label AS INT) AS grp,
           CAST(vec_id AS BIGINT) AS vid,
           CAST(d.dim AS INT) AS dim,
           CAST(round(embedding[CAST(d.dim AS INT) + 1] * 1000) AS BIGINT)
               AS val
    FROM embeddings,
         (SELECT UNNEST(range({_PK_DIM})) AS dim) d
    ORDER BY grp, vid, dim
    """,
)
def q_procrustes_kdim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X374: per-label k-dim orthogonal Procrustes projection (U5's
    production-dimensionality path, VERDICT_r10 item 4).

    The reference schedules its external trace/procrustes binary per
    chunk at dim≈8 (LASERInputValidator.java:162,176-177); here the
    same fit runs as operators/pca.py grouped_procrustes (cogrouped
    applyInPandas, k x k SVD per group). Corpus verification by
    planted-transform recovery: the study frame is the reference frame
    (integer-quantized first-8 embedding dims) pushed through a FIXED
    rational rotation + scale 3/2 + integer shift; the fitted per-label
    transform must map every study row back onto the original integers
    exactly (micro-error ~1e-11 << 0.5), which the DuckDB oracle states
    directly — no SVD needed on the oracle side.

    100 TB: each label group is one Arrow batch on one task (the
    reference's per-chunk analyses are thousands of rows); cross-moment
    is O(n k^2) scan-local per group, SVD is k x k.

    Data assumption (ADVICE r11): every label group must have >= 2
    shared anchor rows — grouped_procrustes DROPS smaller groups (a
    k x k fit from one anchor is underdetermined), while the oracle
    emits a row for every embeddings row, so a dataset with a
    singleton label group would fail the corpus check as a row-count
    mismatch. Pinned loudly by
    tests/test_round12_fixes.py::test_procrustes_kdim_label_groups_fittable
    (current data: min group size 42 at sf0.001).
    """
    from laser_hadoop_spark.operators.pca import grouped_procrustes

    emb = table(spark, sf_dir, "embeddings")
    pc_ref = emb.select(
        F.col("label").cast("string").alias("label"),
        F.col("vec_id").cast("string").alias("id"),
        F.array(
            *[
                F.round(F.col("embedding")[k] * 1000).cast("double")
                for k in range(_PK_DIM)
            ]
        ).alias("pc"),
    )
    rot = [None] * _PK_DIM
    for i, j, c, s in _PK_GIVENS:
        u, v = F.col("pc")[i], F.col("pc")[j]
        rot[i] = c * u + s * v
        rot[j] = -s * u + c * v
    study = pc_ref.select(
        "label",
        "id",
        F.array(
            *[
                (_PK_SCALE * e + F.lit(t)).cast("double")
                for e, t in zip(rot, _PK_SHIFT)
            ]
        ).alias("pc"),
    )
    proj = grouped_procrustes(
        study, pc_ref, group_col="label", id_col="id", pc_col="pc"
    )
    return (
        proj.select(
            F.col("label").cast("int").alias("grp"),
            F.col("id").cast("bigint").alias("vid"),
            F.posexplode("proj").alias("dim", "val"),
        )
        .select(
            "grp",
            "vid",
            F.col("dim").cast("int").alias("dim"),
            F.round("val").cast("bigint").alias("val"),
        )
        .orderBy("grp", "vid", "dim")
    )
