"""Statistical hypothesis tests, decided in exact integers.

Contingency tests (chi-squared, G, McNemar, Cochran's Q, Mantel-Haenszel,
Cochran-Armitage), rank tests (Mann-Whitney, Kruskal-Wallis, Friedman,
Wilcoxon, Jonckheere, Kendall), distribution tests (KS, Cramer-von
Mises, Anderson-Darling, runs), parametric tests (Welch,
Brown-Forsythe, Grubbs), randomization tests, agreement statistics
and multiple-testing control. Statistics are computed from
wide-integer sums on both engines so the hash check stays exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from laser_hadoop_spark.operators.cumulative import ordered_cumsum
from laser_hadoop_spark.queries.windows import _centi
from laser_hadoop_spark.registry import register
from laser_hadoop_spark.tables import spread_scan, table


def _chi2_sql(cast_big: str, intdiv: str) -> str:
    """Shared chi-squared SQL; dialect differs only in the wide-integer
    cast (DuckDB HUGEINT vs Spark DECIMAL(38,0)) and integer division
    operator (// vs DIV)."""
    return f"""
    WITH base AS (
        SELECT c.c_mktsegment AS seg, o.o_orderpriority AS prio
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    obs AS (SELECT seg, prio, COUNT(*) AS n_obs FROM base GROUP BY seg, prio),
    rt AS (SELECT seg, COUNT(*) AS n_row FROM base GROUP BY seg),
    ct AS (SELECT prio, COUNT(*) AS n_col FROM base GROUP BY prio),
    tot AS (SELECT COUNT(*) AS n FROM base),
    cells AS (
        SELECT {cast_big('o.n_obs')} * {cast_big('t.n')}
                   - {cast_big('r.n_row')} * {cast_big('c.n_col')} AS d,
               {cast_big('r.n_row')} * {cast_big('c.n_col')}
                   * {cast_big('t.n')} AS den
        FROM obs o
        JOIN rt r ON r.seg = o.seg
        JOIN ct c ON c.prio = o.prio
        CROSS JOIN tot t
    ),
    terms AS (
        SELECT {intdiv(f"d * d * {cast_big('1000000')}", 'den')} AS term_micro
        FROM cells
    )
    SELECT CAST(SUM(CAST(term_micro AS BIGINT)) AS BIGINT) AS chi2_micro,
           (SELECT CAST((COUNT(DISTINCT seg) - 1)
                        * (COUNT(DISTINCT prio) - 1) AS BIGINT)
            FROM base) AS dof,
           (SELECT CAST(n AS BIGINT) FROM tot) AS n_total
    FROM terms
    """


_CHI2_DUCK = _chi2_sql(
    lambda e: f"CAST({e} AS HUGEINT)", lambda a, b: f"(({a}) // ({b}))"
)
_CHI2_SPARK = _chi2_sql(
    lambda e: f"CAST({e} AS DECIMAL(38,0))",
    # exact floor division on DECIMAL(38,0): subtract the exact modulo
    # first so the division itself is integral (Spark's DIV is
    # integral-only and decimal / rounds to the result scale).
    lambda a, b: f"CAST((({a}) - (({a}) % ({b}))) / ({b}) AS DECIMAL(38,0))",
)


@register("q_chi_squared", oracle=_CHI2_DUCK)
def q_chi_squared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X109: chi-squared test of independence, exact wide-integer core.

    Pearson chi2 over the market-segment x order-priority contingency
    table: chi2 = sum((obs*N - rowTot*colTot)^2 / (N*rowTot*colTot)),
    each cell term computed ENTIRELY in wide integers (DuckDB HUGEINT,
    Spark DECIMAL(38,0) — obs*N reaches ~2e10 at sf0.1 and its square
    overflows int64) and floor-divided to micro-units before the final
    bigint sum — no float enters the statistic at all. One shuffle for
    the cell counts; marginals reuse the same base relation; the
    25-cell joins are trivially broadcast.
    """
    from laser_hadoop_spark.tables import register_views

    register_views(spark, sf_dir, names=("orders", "customer"))
    return spark.sql(_CHI2_SPARK)


def _two_sample_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared base for KS / Mann-Whitney: per distinct order-value
    centi, counts in sample 1 (BUILDING) and sample 2 (MACHINERY)."""
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    centi = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    base = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .where(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            centi.alias("v"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("s1"),
        )
    )
    return base.groupBy("v").agg(
        F.sum("s1").alias("c1"), F.sum(1 - F.col("s1")).alias("c2")
    )


_TWO_SAMPLE_SQL = """
    WITH base AS (
        SELECT CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS v,
               CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS s1
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
    ),
    vals AS (
        SELECT v, SUM(s1) AS c1, SUM(1 - s1) AS c2 FROM base GROUP BY v
    ),
    cum AS (
        SELECT v, c1, c2,
               SUM(c1) OVER w AS cum1, SUM(c2) OVER w AS cum2
        FROM vals
        WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    ),
    tot AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM vals)
"""


@register(
    "q_ks_test",
    oracle=_TWO_SAMPLE_SQL
    + """
    SELECT CAST(MAX(ABS(cum1 * t.n2 - cum2 * t.n1)) AS BIGINT) AS d_scaled,
           CAST(MIN(t.n1) AS BIGINT) AS n1, CAST(MIN(t.n2) AS BIGINT) AS n2
    FROM cum CROSS JOIN tot t
    """,
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X124: two-sample Kolmogorov-Smirnov statistic, integer-scaled.

    D = max_v |F1(v) - F2(v)| between BUILDING and MACHINERY order
    values, reported as d_scaled = max |cum1*n2 - cum2*n1| (= D *
    n1 * n2 — an exact bigint, no division ever). The per-value
    cumulative counts run through the two-pass range-partitioned
    cumulative operator over the FULL distinct-value domain — the
    oracle's single-partition window spelling never appears in the
    Spark plan, so the statistic scales with the value domain. The
    distribution-drift detector for data pipelines, exactly
    verifiable.
    """
    from laser_hadoop_spark.operators.cumulative import ordered_cumsum

    vals = _two_sample_values(spark, sf_dir)
    cum = ordered_cumsum(
        vals, order_by=["v"], values={"c1": "cum1", "c2": "cum2"}
    )
    tot = vals.agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.max(
                F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
            )
            .cast("bigint")
            .alias("d_scaled"),
            F.min("n1").cast("bigint").alias("n1"),
            F.min("n2").cast("bigint").alias("n2"),
        )
    )


@register(
    "q_mann_whitney",
    oracle=_TWO_SAMPLE_SQL
    + """
    , ranked AS (
        SELECT c1, c2, cum1 + cum2 - c1 - c2 + 1 AS min_rank,
               c1 + c2 AS c
        FROM cum
    ),
    r1 AS (
        SELECT SUM(c1 * (2 * min_rank + c - 1)) AS two_r1 FROM ranked
    )
    SELECT CAST(two_r1 - t.n1 * (t.n1 + 1) AS BIGINT) AS u1_x2,
           CAST(2 * t.n1 * t.n2 - (two_r1 - t.n1 * (t.n1 + 1)) AS BIGINT)
               AS u2_x2,
           CAST(t.n1 AS BIGINT) AS n1, CAST(t.n2 AS BIGINT) AS n2
    FROM r1 CROSS JOIN tot t
    """,
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X125: Mann-Whitney U with exact tie correction, doubled ranks.

    Rank-sum test between the same two samples as X124. Tied values
    share the average rank; doubling every rank keeps the arithmetic
    integral: 2*avg_rank(v) = 2*min_rank(v) + c(v) - 1, so
    2*R1 = sum(c1(v) * (2*min_rank + c - 1)) and U1*2 = 2*R1 -
    n1*(n1+1) are exact bigints (u1_x2 + u2_x2 == 2*n1*n2 by
    construction — a free internal consistency check). min_rank
    derives from the same two-pass cumulative as the KS statistic.
    """
    from laser_hadoop_spark.operators.cumulative import ordered_cumsum

    vals = _two_sample_values(spark, sf_dir)
    cum = ordered_cumsum(
        vals, order_by=["v"], values={"c1": "cum1", "c2": "cum2"}
    )
    ranked = cum.select(
        "c1",
        "c2",
        (F.col("cum1") + F.col("cum2") - F.col("c1") - F.col("c2") + 1).alias(
            "min_rank"
        ),
        (F.col("c1") + F.col("c2")).alias("c"),
    )
    r1 = ranked.agg(
        F.sum(
            F.col("c1") * (2 * F.col("min_rank") + F.col("c") - 1)
        ).alias("two_r1")
    )
    tot = vals.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    u1 = F.col("two_r1") - F.col("n1") * (F.col("n1") + 1)
    return (
        r1.crossJoin(F.broadcast(tot))
        .select(
            u1.cast("bigint").alias("u1_x2"),
            (2 * F.col("n1") * F.col("n2") - u1).cast("bigint").alias("u2_x2"),
            F.col("n1").cast("bigint").alias("n1"),
            F.col("n2").cast("bigint").alias("n2"),
        )
    )


def _two_avg_ranks(vals: DataFrame, value_col: str, out_col: str) -> DataFrame:
    """(value, 2*average_rank) for every distinct value of a relation.

    Ties share the average rank; doubling keeps it integral:
    2*avg_rank(v) = 2*min_rank(v) + c(v) - 1 = 2*cum(v) - c(v) + 1,
    where cum is the running count through v in value order (X125's
    algebra). The cumulative runs through the two-pass operator, so no
    single-partition window appears even when the value domain is
    large.
    """
    from laser_hadoop_spark.operators.cumulative import ordered_cumsum

    counts = vals.groupBy(value_col).agg(F.count("*").alias("__c"))
    cum = ordered_cumsum(counts, order_by=[value_col], values={"__c": "__cum"})
    return cum.select(
        value_col,
        (2 * F.col("__cum") - F.col("__c") + 1).alias(out_col),
    )


@register(
    "q_spearman_corr",
    oracle="""
    WITH cust AS (
        SELECT o_custkey, COUNT(*) AS x,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS y
        FROM orders GROUP BY o_custkey
    ),
    r AS (
        SELECT 2 * RANK() OVER (ORDER BY x)
                   + COUNT(*) OVER (PARTITION BY x) - 1 AS rx2,
               2 * RANK() OVER (ORDER BY y)
                   + COUNT(*) OVER (PARTITION BY y) - 1 AS ry2
        FROM cust
    ),
    s AS (
        SELECT COUNT(*) AS n, SUM(rx2) AS sx, SUM(ry2) AS sy,
               SUM(CAST(rx2 AS HUGEINT) * rx2) AS sxx,
               SUM(CAST(ry2 AS HUGEINT) * ry2) AS syy,
               SUM(CAST(rx2 AS HUGEINT) * ry2) AS sxy
        FROM r
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(n * sxy - sx * sy AS BIGINT) AS num,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                    * SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS rho
    FROM s
    """,
)
def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X144: Spearman rank correlation, exact tie correction.

    Monotone association between a customer's order count and total
    spend. Pearson-on-average-ranks IS the tie-corrected Spearman rho,
    so the X125 doubled-rank trick makes the whole statistic exact
    until one final IEEE division: every rank is an integer (2*avg),
    all five power sums are exact (rank PRODUCTS and the final
    combinations both route through DECIMAL(38,0) — a bigint product
    wraps silently around a million distinct values), and the
    hash-checked `num` column pins the numerator bit-for-bit. Ranks
    come from grouped value counts + the two-pass cumulative, so the
    plan has one small-aggregate shuffle per variable and no
    single-partition window.
    """
    o = table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.count("*").alias("x"), F.sum(_centi("o_totalprice")).alias("y")
    )
    rx = _two_avg_ranks(cust.select("x"), "x", "rx2")
    ry = _two_avg_ranks(cust.select("y"), "y", "ry2")
    ranked = cust.join(rx, "x").join(ry, "y")
    dec_prod = lambda a, b: F.sum(  # noqa: E731  (sums exact at any sf:
        F.col(a).cast("decimal(38,0)") * F.col(b)
    )  # a bigint rx2*ry2 product wraps silently around n ~ 1.3e6 with
    # ANSI off while DuckDB promotes — route the PRODUCT through
    # decimal, not just the final n*Sxy combination)
    s = ranked.agg(
        F.count("*").alias("n"),
        F.sum("rx2").alias("sx"),
        F.sum("ry2").alias("sy"),
        dec_prod("rx2", "rx2").alias("sxx"),
        dec_prod("ry2", "ry2").alias("syy"),
        dec_prod("rx2", "ry2").alias("sxy"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = dec("n") * dec("sxy") - dec("sx") * dec("sy")
    den1 = dec("n") * dec("sxx") - dec("sx") * dec("sx")
    den2 = dec("n") * dec("syy") - dec("sy") * dec("sy")
    return s.select(
        F.col("n").cast("bigint").alias("n"),
        num.cast("bigint").alias("num"),
        F.round(
            num.cast("double")
            / (F.sqrt(den1.cast("double")) * F.sqrt(den2.cast("double"))),
            6,
        ).alias("rho"),
    )


@register(
    "q_mood_median_test",
    oracle="""
    WITH spend AS (
        SELECT user_id, user_id % 2 AS arm,
               SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                        ELSE 0 END) AS v
        FROM events GROUP BY user_id
    ),
    r AS (
        SELECT arm, v, ROW_NUMBER() OVER (ORDER BY v, user_id) AS rn,
               COUNT(*) OVER () AS n
        FROM spend
    ),
    med AS (SELECT MIN(v) AS m FROM r WHERE 2 * rn >= n),
    cell AS (
        SELECT SUM(CASE WHEN arm = 0 AND v > med.m THEN 1 ELSE 0 END) AS a,
               SUM(CASE WHEN arm = 0 AND v <= med.m THEN 1 ELSE 0 END) AS b,
               SUM(CASE WHEN arm = 1 AND v > med.m THEN 1 ELSE 0 END) AS c,
               SUM(CASE WHEN arm = 1 AND v <= med.m THEN 1 ELSE 0 END) AS d,
               COUNT(*) AS n
        FROM r CROSS JOIN med
    )
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
           (SELECT CAST(m AS BIGINT) FROM med) AS pooled_median_centi,
           CAST(CASE WHEN 1000 * CAST(n AS HUGEINT)
                              * (a * d - b * c) * (a * d - b * c)
                          > 3841 * CAST(a + b AS HUGEINT)
                            * (c + d) * (a + c) * (b + d)
                     THEN 1 ELSE 0 END AS INT) AS significant
    FROM cell
    """,
)
def q_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X198: Mood's median test in cleared-denominator integers.

    The third exact two-sample test (X77 compared proportions, X125
    ranks; Mood's compares MEDIANS — robust when the spend
    distribution is heavy-tailed enough that mean tests mislead):
    classify each user's total purchase value against the pooled
    lower median, then the 2x2 chi-square verdict with every
    denominator cleared — 1000*N*(ad-bc)^2 > 3841*(row/col products)
    restates X^2 > 3.841 (alpha=0.05, df=1) in DECIMAL(38) integer
    cross-multiplication; no float can flip the verdict. The pooled
    median is a (2*rank >= n) order statistic.
    """
    e = table(spark, sf_dir, "events")
    centi = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    spend = e.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", centi).otherwise(0)
        ).alias("v")
    ).select((F.col("user_id") % 2).alias("arm"), "v", "user_id")
    # pooled lower median via the X166 histogram-prune operator — the
    # third hand-rolled (den*rank >= num*n) selection this round was
    # reviewed out of; no rank shuffle of the per-user relation
    from laser_hadoop_spark.operators.cumulative import ordered_weighted_quantile

    med = ordered_weighted_quantile(
        spend.select("v", F.lit(1).cast("bigint").alias("__w")),
        value_col="v",
        weight_col="__w",
    ).select(F.col("quantile_value").alias("m"))
    cell = (
        spend.crossJoin(F.broadcast(med))
        .agg(
            F.sum(
                F.when((F.col("arm") == 0) & (F.col("v") > F.col("m")), 1)
                .otherwise(0)
            ).alias("a"),
            F.sum(
                F.when((F.col("arm") == 0) & (F.col("v") <= F.col("m")), 1)
                .otherwise(0)
            ).alias("b"),
            F.sum(
                F.when((F.col("arm") == 1) & (F.col("v") > F.col("m")), 1)
                .otherwise(0)
            ).alias("c"),
            F.sum(
                F.when((F.col("arm") == 1) & (F.col("v") <= F.col("m")), 1)
                .otherwise(0)
            ).alias("d"),
            F.count("*").alias("n"),
            F.min("m").alias("m"),
        )
    )
    dec = lambda col: F.col(col).cast("decimal(38,0)")  # noqa: E731
    lhs = (
        F.lit(1000).cast("decimal(38,0)")
        * dec("n")
        * (dec("a") * F.col("d") - dec("b") * F.col("c"))
        * (dec("a") * F.col("d") - dec("b") * F.col("c"))
    )
    rhs = (
        F.lit(3841).cast("decimal(38,0)")
        * (dec("a") + F.col("b"))
        * (dec("c") + F.col("d"))
        * (dec("a") + F.col("c"))
        * (dec("b") + F.col("d"))
    )
    return cell.select(
        F.col("a").cast("bigint").alias("a"),
        F.col("b").cast("bigint").alias("b"),
        F.col("c").cast("bigint").alias("c"),
        F.col("d").cast("bigint").alias("d"),
        F.col("m").cast("bigint").alias("pooled_median_centi"),
        (lhs > rhs).cast("int").alias("significant"),
    )


# --- X238: Cohen's kappa ----------------------------------------------------

_KAPPA_CHARS = 300  # rater A: document length in chars
_KAPPA_WORDS = 55  # rater B: whitespace word count


@register(
    "q_cohens_kappa",
    oracle=f"""
    WITH rated AS (
        SELECT CASE WHEN n_chars >= {_KAPPA_CHARS} THEN 1 ELSE 0 END AS ra,
               CASE WHEN length(text) - length(replace(text, ' ', '')) + 1
                         >= {_KAPPA_WORDS} THEN 1 ELSE 0 END AS rb
        FROM documents
    ),
    cells AS (
        SELECT COUNT(*) AS n,
               SUM(ra * rb) AS n11,
               SUM(ra * (1 - rb)) AS n10,
               SUM((1 - ra) * rb) AS n01,
               SUM((1 - ra) * (1 - rb)) AS n00
        FROM rated
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
           CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
           CAST(10000 * (n11 + n00) // n AS BIGINT) AS po_bp,
           CAST(10000 * ((n11 + n10) * (n11 + n01)
                         + (n00 + n01) * (n00 + n10)) // (n * n)
                AS BIGINT) AS pe_bp,
           CAST(1000000 * (n * (n11 + n00)
                           - ((n11 + n10) * (n11 + n01)
                              + (n00 + n01) * (n00 + n10)))
                // (n * n - ((n11 + n10) * (n11 + n01)
                             + (n00 + n01) * (n00 + n10)))
                AS BIGINT) AS kappa_micro
    FROM cells
    """,
)
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X238: Cohen's kappa between two deterministic quality raters.

    Rater A flags a document when n_chars >= 300; rater B when the
    whitespace word count >= 55. Kappa = (po - pe) / (1 - pe) kept as
    one exact rational: kappa_micro = 1e6 * (n*agree - cross) DIV
    (n^2 - cross) where cross = r1*c1 + r0*c0 — no float share ever
    exists, so the chance-corrected agreement is cross-engine exact.
    The inter-annotator QA gate for labeling pipelines: po_bp alone
    overstates agreement whenever the label marginals are skewed.

    100 TB shape: a single conditional-aggregate scan (five sums, one
    pass, map-side combine); the kappa arithmetic runs on a 1-row
    relation. Nothing shuffles but five bigints per task.
    """
    d = table(spark, sf_dir, "documents")
    words = (
        F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1
    )
    rated = d.select(
        F.when(F.col("n_chars") >= _KAPPA_CHARS, 1).otherwise(0).alias("ra"),
        F.when(words >= _KAPPA_WORDS, 1).otherwise(0).alias("rb"),
    )
    cells = rated.agg(
        F.count("*").alias("n"),
        F.sum(F.col("ra") * F.col("rb")).alias("n11"),
        F.sum(F.col("ra") * (1 - F.col("rb"))).alias("n10"),
        F.sum((1 - F.col("ra")) * F.col("rb")).alias("n01"),
        F.sum((1 - F.col("ra")) * (1 - F.col("rb"))).alias("n00"),
    )
    return cells.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("n11").cast("bigint").alias("n11"),
        F.col("n10").cast("bigint").alias("n10"),
        F.col("n01").cast("bigint").alias("n01"),
        F.col("n00").cast("bigint").alias("n00"),
        F.expr("10000 * (n11 + n00) DIV n").cast("bigint").alias("po_bp"),
        F.expr(
            "CAST(10000 * ((n11 + n10) * (n11 + n01)"
            " + (n00 + n01) * (n00 + n10)) DIV (n * n) AS BIGINT)"
        ).alias("pe_bp"),
        F.expr(
            "CAST(1000000 * (n * (n11 + n00)"
            " - ((n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10)))"
            " DIV (n * n - ((n11 + n10) * (n11 + n01)"
            " + (n00 + n01) * (n00 + n10))) AS BIGINT)"
        ).alias("kappa_micro"),
    )


# --- X239: Benjamini-Hochberg FDR gate --------------------------------------

_BH_MIN_N = 20  # minimum informative events per user
_BH_ALPHA_BP = 500  # alpha = 5% in basis points


@register(
    "q_bh_fdr",
    oracle=f"""
    WITH cents AS (
        SELECT user_id, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
        FROM events
    ),
    mu AS (SELECT SUM(c) // COUNT(*) AS mean_c FROM cents),
    per_user AS (
        SELECT user_id,
               SUM(CASE WHEN c > m.mean_c THEN 1 ELSE 0 END) AS k,
               SUM(CASE WHEN c <> m.mean_c THEN 1 ELSE 0 END) AS ne
        FROM cents CROSS JOIN mu m
        GROUP BY user_id
        HAVING SUM(CASE WHEN c <> m.mean_c THEN 1 ELSE 0 END) >= {_BH_MIN_N}
    ),
    pvals AS (
        SELECT user_id,
               CASE WHEN 2 * k = ne THEN 10000
                    ELSE LEAST(10000, 10000 * ne
                               // ((2 * k - ne) * (2 * k - ne)))
               END AS p_bp
        FROM per_user
    ),
    m AS (SELECT COUNT(*) AS m FROM pvals),
    grouped AS (
        SELECT p_bp, COUNT(*) AS cnt FROM pvals GROUP BY p_bp
    ),
    cum AS (
        SELECT p_bp, cnt,
               SUM(cnt) OVER (ORDER BY p_bp ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS rk
        FROM grouped
    )
    SELECT CAST(MIN(m.m) AS BIGINT) AS m,
           CAST(COALESCE(MAX(CASE WHEN p_bp * m.m <= {_BH_ALPHA_BP} * rk
                                  THEN rk END), 0) AS BIGINT) AS n_reject_bh,
           CAST(COALESCE(MAX(CASE WHEN p_bp * m.m <= {_BH_ALPHA_BP} * rk
                                  THEN p_bp END), 0) AS BIGINT)
               AS p_threshold_bp,
           CAST(COALESCE(SUM(CASE WHEN p_bp * m.m <= {_BH_ALPHA_BP}
                                  THEN cnt ELSE 0 END), 0) AS BIGINT)
               AS n_reject_bonferroni
    FROM cum CROSS JOIN m
    """,
)
def q_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X239: Benjamini-Hochberg step-up FDR gate, exactly verified.

    Per-user sign test against the global mean event value: k of the
    user's ne informative events exceed it. The p-value is the
    Chebyshev bound p = min(1, ne / (2k - ne)^2) — conservative but
    EXACT as an integer-bp rational, so the whole multiple-testing
    procedure (which is usually float-soft) becomes hash-verifiable.
    BH step-up: reject the r smallest p-values where r is the largest
    rank with p_(r) * m <= alpha * r. Bonferroni count reported for
    contrast (BH >= Bonferroni always — a free internal check).

    100 TB shape: one fact shuffle (per-user aggregate); the BH rank
    scan runs over DISTINCT p-values through ordered_cumsum's
    range-partitioned two-pass cumulative — within a tie block only
    the largest rank matters for the step-up rule, so grouping by
    p-value first is lossless and the global-window spelling in the
    oracle never appears in the Spark plan. Scales to billions of
    simultaneous tests.
    """
    from laser_hadoop_spark.operators.cumulative import ordered_cumsum

    e = table(spark, sf_dir, "events")
    cents = e.select(
        "user_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("c"),
    )
    mu = cents.agg(F.expr("SUM(c) DIV COUNT(*)").alias("mean_c"))
    per_user = (
        cents.crossJoin(F.broadcast(mu))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("c") > F.col("mean_c"), 1).otherwise(0)).alias(
                "k"
            ),
            F.sum(F.when(F.col("c") != F.col("mean_c"), 1).otherwise(0)).alias(
                "ne"
            ),
        )
        .where(F.col("ne") >= _BH_MIN_N)
    )
    pvals = per_user.select(
        F.when(2 * F.col("k") == F.col("ne"), F.lit(10000))
        .otherwise(
            F.least(
                F.lit(10000),
                F.expr("10000 * ne DIV ((2 * k - ne) * (2 * k - ne))"),
            )
        )
        .alias("p_bp")
    )
    grouped = pvals.groupBy("p_bp").agg(F.count("*").alias("cnt"))
    cum = ordered_cumsum(grouped, order_by=["p_bp"], values={"cnt": "rk"})
    m = pvals.agg(F.count("*").alias("m"))
    sat = F.col("p_bp") * F.col("m") <= _BH_ALPHA_BP * F.col("rk")
    return (
        cum.crossJoin(F.broadcast(m))
        .agg(
            F.min("m").cast("bigint").alias("m"),
            F.coalesce(F.max(F.when(sat, F.col("rk"))), F.lit(0))
            .cast("bigint")
            .alias("n_reject_bh"),
            F.coalesce(F.max(F.when(sat, F.col("p_bp"))), F.lit(0))
            .cast("bigint")
            .alias("p_threshold_bp"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("p_bp") * F.col("m") <= _BH_ALPHA_BP,
                        F.col("cnt"),
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_reject_bonferroni"),
        )
    )


# --- X242: Cramer-von Mises two-sample --------------------------------------


@register(
    "q_cvm_test",
    oracle="""
    WITH base AS (
        SELECT CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS v,
               CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS s1
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
    ),
    vals AS (
        SELECT v, SUM(s1) AS c1, SUM(1 - s1) AS c2 FROM base GROUP BY v
    ),
    cum AS (
        SELECT c1, c2,
               SUM(c1) OVER w AS cum1, SUM(c2) OVER w AS cum2
        FROM vals
        WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    ),
    tot AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM vals)
    SELECT CAST(t.n1 AS BIGINT) AS n1, CAST(t.n2 AS BIGINT) AS n2,
           CAST(CAST(SUM(CAST(c1 + c2 AS HUGEINT)
                    * (cum1 * t.n2 - cum2 * t.n1)
                    * (cum1 * t.n2 - cum2 * t.n1)) AS DECIMAL(38, 0))
                AS VARCHAR)
               AS t_scaled
    FROM cum CROSS JOIN tot t
    GROUP BY t.n1, t.n2
    """,
)
def q_cvm_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X242: Cramer-von Mises two-sample statistic, integer-exact.

    The integrated squared ECDF distance between BUILDING and
    MACHINERY order values — where KS (X124) takes the single largest
    gap, CvM sums the squared gap over every pooled observation, so
    body shifts that never produce one big gap still register.
    Evaluated over distinct values with multiplicity: t_scaled =
    sum over v of (c1+c2) * (cum1*n2 - cum2*n1)^2, an exact
    DECIMAL(38) integer = omega^2 * n1^2 * n2^2 * N (no division, no
    float; the accumulation is DECIMAL38/HUGEINT but the OUTPUT is
    VARCHAR — X133/X174/X364's wide-integer emission discipline, so
    the driver's hash never sees a Decimal-typed cell whose
    canonicalization differs across engines; driver-red in r07 when
    emitted as DECIMAL(38,0)).

    100 TB shape: same plan as KS — one distinct-value aggregate, the
    range-partitioned two-pass cumulative, a broadcast 1-row total;
    the oracle's single-partition window spelling never appears in
    the Spark plan.
    """
    from laser_hadoop_spark.operators.cumulative import ordered_cumsum
    from laser_hadoop_spark.queries.stats_tests import _two_sample_values

    vals = _two_sample_values(spark, sf_dir)
    cum = ordered_cumsum(
        vals, order_by=["v"], values={"c1": "cum1", "c2": "cum2"}
    )
    tot = vals.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    diff = F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1")
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2")
        .agg(
            F.sum(
                (F.col("c1") + F.col("c2")).cast("decimal(38,0)")
                * diff.cast("decimal(38,0)")
                * diff.cast("decimal(38,0)")
            )
            .cast("decimal(38,0)")
            .cast("string")
            .alias("t_scaled")
        )
        .select(
            F.col("n1").cast("bigint").alias("n1"),
            F.col("n2").cast("bigint").alias("n2"),
            "t_scaled",
        )
    )


# --- X244: deterministic sign-flip permutation test -------------------------

_PERM_R = 32  # sign patterns (replicates)


def _perm_sign_sql(r: int) -> str:
    """Sign for replicate r: +1/-1 from one md5 nibble of (custkey, r)."""
    return (
        f"CASE WHEN ('0x' || substring(md5(CAST(ck AS VARCHAR) || '_{r}'),"
        f" 1, 1))::BIGINT % 2 = 0 THEN 1 ELSE -1 END"
    )


@register(
    "q_permutation_test",
    oracle=f"""
    WITH rev AS (
        SELECT o_custkey AS ck,
               SUM(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1995
                        THEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                        ELSE 0 END) AS r95,
               SUM(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1996
                        THEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                        ELSE 0 END) AS r96,
               COUNT(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1995
                          THEN 1 END) AS n95,
               COUNT(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1996
                          THEN 1 END) AS n96
        FROM orders GROUP BY o_custkey
    ),
    paired AS (
        SELECT ck, r95 - r96 AS d FROM rev WHERE n95 > 0 AND n96 > 0
    ),
    sums AS (
        SELECT COUNT(*) AS n_pairs, SUM(d) AS t_obs,
               {", ".join(f"SUM(({_perm_sign_sql(r)}) * d) AS t{r}" for r in range(_PERM_R))}
        FROM paired
    )
    SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(t_obs AS BIGINT) AS t_obs,
           CAST({" + ".join(f"(CASE WHEN ABS(t{r}) >= ABS(t_obs) THEN 1 ELSE 0 END)" for r in range(_PERM_R))}
                AS BIGINT) AS n_as_extreme,
           CAST(10000 * ({" + ".join(f"(CASE WHEN ABS(t{r}) >= ABS(t_obs) THEN 1 ELSE 0 END)" for r in range(_PERM_R))} + 1)
                // {_PERM_R + 1} AS BIGINT) AS p_bp
    FROM sums
    """,
)
def q_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X244: paired sign-flip permutation test, deterministic.

    Did per-customer revenue change between 1995 and 1996? For
    customers active in both years, d_i = rev95 - rev96 (exact
    centi); the permutation null flips each pair's sign. X218's
    100 TB bootstrap discipline: the 32 sign patterns are md5
    functions of (custkey, replicate), so all 32 permuted statistics
    are conditional-aggregate columns in the SAME single scan — the
    x32 resampled dataset never exists, and the randomness is
    bit-identical in both engines. p = (#{|T_r| >= |T_obs|} + 1) /
    (R + 1), the standard add-one permutation p-value, exact in bp.

    100 TB shape: one customer-shuffle aggregate builds the pairs;
    one 33-column aggregate evaluates the whole permutation
    distribution; the p-value arithmetic runs on one row.
    """
    o = table(spark, sf_dir, "orders")
    yr = F.year(F.col("o_orderdate").cast("date"))
    centi = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    rev = (
        o.select(
            F.col("o_custkey").alias("ck"), yr.alias("y"), centi.alias("c")
        )
        .groupBy("ck")
        .agg(
            F.sum(F.when(F.col("y") == 1995, F.col("c")).otherwise(0)).alias(
                "r95"
            ),
            F.sum(F.when(F.col("y") == 1996, F.col("c")).otherwise(0)).alias(
                "r96"
            ),
            F.count(F.when(F.col("y") == 1995, 1)).alias("n95"),
            F.count(F.when(F.col("y") == 1996, 1)).alias("n96"),
        )
    )
    paired = rev.where((F.col("n95") > 0) & (F.col("n96") > 0)).select(
        "ck", (F.col("r95") - F.col("r96")).alias("d")
    )

    def sign(r: int):
        return F.expr(
            f"CASE WHEN CAST(conv(substring(md5(CAST(ck AS STRING) || '_{r}'),"
            f" 1, 1), 16, 10) AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END"
        )

    sums = paired.agg(
        F.count("*").alias("n_pairs"),
        F.sum("d").alias("t_obs"),
        *[
            F.sum(sign(r) * F.col("d")).alias(f"t{r}")
            for r in range(_PERM_R)
        ],
    )
    extreme = sum(
        [
            F.when(
                F.abs(F.col(f"t{r}")) >= F.abs(F.col("t_obs")), 1
            ).otherwise(0)
            for r in range(_PERM_R)
        ],
        F.lit(0),
    )
    return sums.select(
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.col("t_obs").cast("bigint").alias("t_obs"),
        extreme.cast("bigint").alias("n_as_extreme"),
        F.expr(
            f"CAST(10000 * ({'+'.join(f'(CASE WHEN ABS(t{r}) >= ABS(t_obs) THEN 1 ELSE 0 END)' for r in range(_PERM_R))} + 1)"
            f" DIV {_PERM_R + 1} AS BIGINT)"
        ).alias("p_bp"),
    )


# --- X250: Cochran-Armitage trend test --------------------------------------

_CA_HIGH = 15_000_000  # high-value order threshold, centi


@register(
    "q_cochran_armitage",
    oracle=f"""
    WITH base AS (
        SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS w,
               CASE WHEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                         > {_CA_HIGH} THEN 1 ELSE 0 END AS hi
        FROM orders
    ),
    dose AS (
        SELECT w, COUNT(*) AS ni, SUM(hi) AS ai FROM base GROUP BY w
    ),
    tot AS (
        SELECT SUM(ni) AS n, SUM(ai) AS a,
               SUM(w * ai) AS swa, SUM(w * ni) AS swn,
               SUM(w * w * ni) AS swwn
        FROM dose
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(a AS BIGINT) AS n_high,
           CAST(n * swa - a * swn AS BIGINT) AS t_num,
           CAST(CAST(1000000 AS HUGEINT) * (n - 1)
                * CAST(n * swa - a * swn AS HUGEINT)
                * CAST(n * swa - a * swn AS HUGEINT)
                // (CAST(a AS HUGEINT) * (n - a)
                    * (n * swwn - swn * swn)) AS BIGINT) AS z2_micro
    FROM tot
    """,
)
def q_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X250: Cochran-Armitage trend test, exactly verified.

    Does the high-value share rise monotonically with order priority?
    Dose = the priority's leading digit (1-URGENT .. 5-LOW), response
    = order value > $150k. The trend statistic keeps everything
    integral: t_num = N*sum(w*a) - A*sum(w*n) (the N-scaled score
    covariance) and z2_micro = 1e6 * (N-1) * t_num^2 /
    (A*(N-A)*(N*sum(w^2 n) - sum(w n)^2)) — the squared trend z,
    computed through DECIMAL(38)/HUGEINT so the only rounding is the
    final truncating DIV. The ordered-alternative member of the
    X109 chi-squared family: chi2 spends power on ANY deviation, CA
    only on monotone trend.

    100 TB shape: one conditional-aggregate scan to |doses| rows; all
    statistic arithmetic on one row.
    """
    o = table(spark, sf_dir, "orders")
    centi = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    base = o.select(
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("w"),
        F.when(centi > _CA_HIGH, 1).otherwise(0).alias("hi"),
    )
    dose = base.groupBy("w").agg(
        F.count("*").alias("ni"), F.sum("hi").alias("ai")
    )
    tot = dose.agg(
        F.sum("ni").alias("n"),
        F.sum("ai").alias("a"),
        F.sum(F.col("w") * F.col("ai")).alias("swa"),
        F.sum(F.col("w") * F.col("ni")).alias("swn"),
        F.sum(F.col("w") * F.col("w") * F.col("ni")).alias("swwn"),
    )
    return tot.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("a").cast("bigint").alias("n_high"),
        (F.col("n") * F.col("swa") - F.col("a") * F.col("swn"))
        .cast("bigint")
        .alias("t_num"),
        F.expr(
            "CAST(CAST(1000000 AS DECIMAL(38,0)) * (n - 1)"
            " * CAST(n * swa - a * swn AS DECIMAL(38,0))"
            " * CAST(n * swa - a * swn AS DECIMAL(38,0))"
            " DIV (CAST(a AS DECIMAL(38,0)) * (n - a)"
            " * (n * swwn - swn * swn)) AS BIGINT)"
        ).alias("z2_micro"),
    )


# --- X252: Wald-Wolfowitz runs test -----------------------------------------


@register(
    "q_runs_test",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    ranked AS (
        SELECT d, rev, ROW_NUMBER() OVER (ORDER BY rev, d) AS rn,
               COUNT(*) OVER () AS n
        FROM daily
    ),
    med AS (SELECT rev AS m FROM ranked WHERE rn = (n + 1) // 2),
    signs AS (
        SELECT d, CASE WHEN rev > m.m THEN 1 ELSE 0 END AS s
        FROM daily CROSS JOIN med m WHERE rev <> m.m
    ),
    seq AS (
        SELECT s, LAG(s) OVER (ORDER BY d) AS prev FROM signs
    ),
    agg AS (
        SELECT COUNT(*) AS n,
               SUM(s) AS n1,
               SUM(1 - s) AS n0,
               1 + SUM(CASE WHEN prev IS NOT NULL AND s <> prev
                            THEN 1 ELSE 0 END) AS runs
        FROM seq
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(n1 AS BIGINT) AS n_above,
           CAST(n0 AS BIGINT) AS n_below, CAST(runs AS BIGINT) AS n_runs,
           CAST(1000000 + 2000000 * n1 * n0 // n AS BIGINT)
               AS expected_runs_micro,
           CAST(2000000 * n1 * n0 * (2 * n1 * n0 - n)
                // (n * n * (n - 1)) AS BIGINT) AS var_runs_micro
    FROM agg
    """,
)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X252: Wald-Wolfowitz runs test on the daily revenue series.

    Is daily revenue's above/below-median sequence random, or does it
    cluster into regimes? Too few runs = positive serial dependence
    (trends/regimes), too many = oscillation. Median-ties drop (the
    standard convention); the run count and the closed-form null
    moments E[R] = 1 + 2*n1*n0/n and Var[R] = 2*n1*n0*(2*n1*n0-n) /
    (n^2*(n-1)) are exact integers in micro. The sequence-level
    randomness check next to the value-level two-sample family
    (X124/X125/X242) and the lag-1 autocorrelation (X126).

    100 TB shape: the series is the per-day aggregate (bounded by the
    calendar, thousands of rows at any corpus size) — the median
    order statistic, the lag, and the run count all run over that
    bounded relation; the fact table is touched by exactly one
    map-side-combining aggregate.
    """
    o = table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            ).alias("rev")
        )
    )
    w = Window.orderBy("rev", "d")
    ranked = daily.select(
        "d",
        "rev",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    med = ranked.where(
        F.col("rn") == F.expr("(n + 1) DIV 2")
    ).select(F.col("rev").alias("m"))
    signs = (
        daily.crossJoin(F.broadcast(med))
        .where(F.col("rev") != F.col("m"))
        .select(
            "d", F.when(F.col("rev") > F.col("m"), 1).otherwise(0).alias("s")
        )
    )
    seq = signs.select(
        "s", F.lag("s").over(Window.orderBy("d")).alias("prev")
    )
    agg = seq.agg(
        F.count("*").alias("n"),
        F.sum("s").alias("n1"),
        F.sum(1 - F.col("s")).alias("n0"),
        (
            F.lit(1)
            + F.sum(
                F.when(
                    F.col("prev").isNotNull()
                    & (F.col("s") != F.col("prev")),
                    1,
                ).otherwise(0)
            )
        ).alias("runs"),
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("n1").cast("bigint").alias("n_above"),
        F.col("n0").cast("bigint").alias("n_below"),
        F.col("runs").cast("bigint").alias("n_runs"),
        F.expr("CAST(1000000 + 2000000 * n1 * n0 DIV n AS BIGINT)").alias(
            "expected_runs_micro"
        ),
        F.expr(
            "CAST(2000000 * n1 * n0 * (2 * n1 * n0 - n)"
            " DIV (n * n * (n - 1)) AS BIGINT)"
        ).alias("var_runs_micro"),
    )


# --- X258: Kruskal-Wallis ---------------------------------------------------

_KW_SEGS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


@register(
    "q_kruskal_wallis",
    oracle=f"""
    WITH base AS (
        SELECT CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS v,
               c.c_mktsegment AS seg
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    vals AS (
        SELECT v,
               {", ".join(
                   f"SUM(CASE WHEN seg = '{s}' THEN 1 ELSE 0 END) AS c{i}"
                   for i, s in enumerate(_KW_SEGS)
               )},
               COUNT(*) AS ct
        FROM base GROUP BY v
    ),
    cum AS (
        SELECT v, {", ".join(f"c{i}" for i in range(len(_KW_SEGS)))}, ct,
               SUM(ct) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cumt
        FROM vals
    ),
    ranks AS (
        SELECT
            {", ".join(
                f"SUM(c{i} * (2 * cumt - ct + 1)) AS tr{i}"
                for i in range(len(_KW_SEGS))
            )},
            {", ".join(f"SUM(c{i}) AS n{i}" for i in range(len(_KW_SEGS)))},
            SUM(ct) AS n,
            SUM(CAST(ct AS HUGEINT) * ct * ct - ct) AS ties
        FROM cum
    ),
    h AS (
        SELECT n,
               12000000 * ({" + ".join(
                   f"CAST(tr{i} AS HUGEINT) * tr{i} // (4 * n{i})"
                   for i in range(len(_KW_SEGS))
               )}) // (n * (n + 1)) - 3000000 * (n + 1) AS h_micro,
               1000000 - 1000000 * ties // (CAST(n AS HUGEINT) * n * n - n)
                   AS tie_factor_micro
        FROM ranks
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST({len(_KW_SEGS) - 1} AS BIGINT) AS df,
           CAST(h_micro AS BIGINT) AS h_micro,
           CAST(tie_factor_micro AS BIGINT) AS tie_factor_micro,
           CAST(1000000 * h_micro // tie_factor_micro AS BIGINT)
               AS h_adj_micro
    FROM h
    """,
)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X258: Kruskal-Wallis k-sample rank test, exactly verified.

    Do the five market segments draw order values from the same
    distribution? The rank ANOVA generalizing Mann-Whitney (X125) to
    k groups: tie-averaged ranks kept exact by doubling (2*avg_rank
    = 2*min_rank + c - 1, X125's trick), per-group rank sums from the
    distinct-value cumulative — the Spark plan runs ordered_cumsum's
    two-pass range-partitioned cumulative, never a fact window. The
    per-group squared-rank-sum divisions truncate (<1 each,
    identically on both engines); H and the exact tie factor
    1 - sum(t^3-t)/(N^3-N) emit in micro, with the tie-adjusted H
    from one more integer division.

    100 TB shape: one distinct-value aggregate (map-side combine),
    the two-pass cumulative, then 1-row arithmetic. Compare X109
    (independence), X198 (medians), X124/X125 (two-sample shapes).
    """
    from laser_hadoop_spark.operators.cumulative import ordered_cumsum

    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("v"),
        F.col("c_mktsegment").alias("seg"),
    )
    vals = base.groupBy("v").agg(
        *[
            F.sum(F.when(F.col("seg") == s, 1).otherwise(0)).alias(f"c{i}")
            for i, s in enumerate(_KW_SEGS)
        ],
        F.count("*").alias("ct"),
    )
    cum = ordered_cumsum(vals, order_by=["v"], values={"ct": "cumt"})
    ranks = cum.agg(
        *[
            F.sum(
                F.col(f"c{i}") * (2 * F.col("cumt") - F.col("ct") + 1)
            ).alias(f"tr{i}")
            for i in range(len(_KW_SEGS))
        ],
        *[F.sum(f"c{i}").alias(f"n{i}") for i in range(len(_KW_SEGS))],
        F.sum("ct").alias("n"),
        F.sum(
            F.col("ct").cast("decimal(38,0)") * F.col("ct") * F.col("ct")
            - F.col("ct")
        ).alias("ties"),
    )
    # Spark's DIV on DECIMAL operands returns BIGINT and silently
    # wraps when the integral quotient exceeds int64 (probed) — so
    # every division whose quotient can outgrow int64 is spelled as
    # the exact decimal floor-division (a - a % b) / b, which stays
    # DECIMAL end-to-end and equals DuckDB's HUGEINT // for the
    # nonnegative operands here.
    terms = " + ".join(
        f"CAST((CAST(tr{i} AS DECIMAL(38,0)) * tr{i}"
        f" - CAST(tr{i} AS DECIMAL(38,0)) * tr{i} % (4 * n{i}))"
        f" / (4 * n{i}) AS DECIMAL(38,0))"
        for i in range(len(_KW_SEGS))
    )
    h = ranks.select(
        "n",
        F.expr(
            f"CAST(12000000 AS DECIMAL(38,0)) * ({terms})"
            f" DIV (n * (n + 1)) - 3000000 * (n + 1)"
        ).alias("h_micro"),
        F.expr(
            "1000000 - CAST(1000000 AS DECIMAL(38,0)) * ties"
            " DIV (CAST(n AS DECIMAL(38,0)) * n * n - n)"
        ).alias("tie_factor_micro"),
    )
    return h.select(
        F.col("n").cast("bigint").alias("n"),
        F.lit(len(_KW_SEGS) - 1).cast("bigint").alias("df"),
        F.col("h_micro").cast("bigint").alias("h_micro"),
        F.col("tie_factor_micro").cast("bigint").alias("tie_factor_micro"),
        F.expr(
            "CAST(1000000 * h_micro DIV tie_factor_micro AS BIGINT)"
        ).alias("h_adj_micro"),
    )


# --- X259: variance explained (eta-squared) by factor -----------------------


@register(
    "q_eta_squared",
    oracle="""
    WITH base AS (
        SELECT CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS x,
               CAST(year(CAST(o.o_orderdate AS DATE)) AS VARCHAR) AS fa,
               c.c_mktsegment AS fb
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    long AS (
        SELECT 'order_year' AS factor, fa AS g, x FROM base
        UNION ALL
        SELECT 'mktsegment', fb, x FROM base
    ),
    grp AS (
        SELECT factor, g, COUNT(*) AS ng, SUM(x) AS sg
        FROM long GROUP BY factor, g
    ),
    tot AS (
        SELECT factor, SUM(ng) AS n, SUM(sg) AS s,
               SUM(CAST(sg AS HUGEINT) * sg // ng) AS ssb_part
        FROM grp GROUP BY factor
    ),
    sq AS (
        SELECT factor, SUM(CAST(x AS HUGEINT) * x) AS sxx
        FROM long GROUP BY factor
    )
    SELECT t.factor,
           CAST(COUNT_G.k AS BIGINT) AS n_groups,
           CAST(10000 * (t.ssb_part - CAST(t.s AS HUGEINT) * t.s // t.n)
                // (q.sxx - CAST(t.s AS HUGEINT) * t.s // t.n) AS BIGINT)
               AS eta2_bp
    FROM tot t
    JOIN sq q ON q.factor = t.factor
    JOIN (SELECT factor, COUNT(*) AS k FROM grp GROUP BY factor) COUNT_G
      ON COUNT_G.factor = t.factor
    """,
)
def q_eta_squared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X259: variance explained (eta-squared) per grouping factor.

    Which dimension explains order-value variance — order year or
    market segment? eta^2 = SSB/SST with SSB = sum((Sg)^2/ng) - S^2/N
    and SST = sum(x^2) - S^2/N, all sums exact through
    HUGEINT/DECIMAL(38) with one truncating DIV per group (identical
    truncation both engines). The effect-size companion to the
    inference family: X109 says 'dependent', eta^2 says 'by how
    much' — near-zero eta^2 with a significant chi2 is the
    large-sample trap this pair of numbers exposes.

    100 TB shape: one stacked scan per factor (union of projections,
    map-side combine to |groups| rows); the x^2 sums ride the same
    aggregates; final arithmetic on |factors| rows.
    """
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("x"),
        F.year(F.col("o_orderdate").cast("date"))
        .cast("string")
        .alias("fa"),
        F.col("c_mktsegment").alias("fb"),
    )
    long = base.select(
        F.lit("order_year").alias("factor"), F.col("fa").alias("g"), "x"
    ).unionAll(
        base.select(F.lit("mktsegment"), F.col("fb"), "x")
    )
    grp = long.groupBy("factor", "g").agg(
        F.count("*").alias("ng"), F.sum("x").alias("sg")
    )
    # exact decimal floor-division (a - a % b) / b everywhere a
    # quotient can exceed int64 — Spark's decimal DIV returns BIGINT
    # and wraps silently (probed; same fix as q_kruskal_wallis)
    fd = (
        lambda a, b: f"CAST((({a}) - ({a}) % ({b})) / ({b})"
        f" AS DECIMAL(38,0))"
    )
    tot = grp.groupBy("factor").agg(
        F.sum("ng").alias("n"),
        F.sum("sg").alias("s"),
        F.sum(
            F.expr(fd("CAST(sg AS DECIMAL(38,0)) * sg", "ng"))
        ).alias("ssb_part"),
        F.count("*").alias("k"),
    )
    sq = long.groupBy("factor").agg(
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx")
    )
    s2n = fd("CAST(s AS DECIMAL(38,0)) * s", "n")
    return tot.join(sq, "factor").select(
        "factor",
        F.col("k").cast("bigint").alias("n_groups"),
        F.expr(
            f"CAST(CAST(10000 AS DECIMAL(38,0)) * (ssb_part - {s2n})"
            f" DIV (sxx - {s2n}) AS BIGINT)"
        ).alias("eta2_bp"),
    )


# --- X262: chi-squared standardized residuals -------------------------------


@register(
    "q_chi2_residuals",
    oracle="""
    WITH base AS (
        SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    cells AS (SELECT seg, pri, COUNT(*) AS o FROM base GROUP BY seg, pri),
    rows_t AS (SELECT seg, SUM(o) AS rt FROM cells GROUP BY seg),
    cols_t AS (SELECT pri, SUM(o) AS ct FROM cells GROUP BY pri),
    n_t AS (SELECT SUM(o) AS n FROM cells)
    SELECT c.seg, c.pri, CAST(c.o AS BIGINT) AS observed,
           CAST(r.rt * ct.ct // t.n AS BIGINT) AS expected,
           CAST(1000 * (c.o * t.n - r.rt * ct.ct)
                // CAST(FLOOR(SQRT(CAST(r.rt * ct.ct * t.n AS DOUBLE)))
                        AS BIGINT) AS BIGINT) AS resid_milli
    FROM cells c
    JOIN rows_t r ON r.seg = c.seg
    JOIN cols_t ct ON ct.pri = c.pri
    CROSS JOIN n_t t
    """,
)
def q_chi2_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X262: standardized residuals of the segment x priority table.

    X109 says WHETHER segment and priority are dependent; the
    standardized residual (o - e)/sqrt(e) per cell says WHERE.
    Exact form: (o - e)/sqrt(e) with e = rt*ct/N rearranges to
    (o*N - rt*ct) / sqrt(rt*ct*N) — ONE isqrt of an exact integer
    (FLOOR(SQRT()) on an identical double both engines), everything
    else integral; |resid| > 2 (resid_milli beyond +-2000) flags a
    driving cell.

    100 TB shape: one conditional-agg fact pass to |seg|x|pri| cells;
    margins re-aggregate the tiny cell relation; all joins broadcast.
    """
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.col("o_orderpriority").alias("pri"),
    )
    cells = base.groupBy("seg", "pri").agg(F.count("*").alias("o"))
    rows_t = cells.groupBy("seg").agg(F.sum("o").alias("rt"))
    cols_t = cells.groupBy("pri").agg(F.sum("o").alias("ct"))
    n_t = cells.agg(F.sum("o").alias("n"))
    return (
        cells.join(F.broadcast(rows_t), "seg")
        .join(F.broadcast(cols_t), "pri")
        .crossJoin(F.broadcast(n_t))
        .select(
            "seg",
            "pri",
            F.col("o").cast("bigint").alias("observed"),
            F.expr("CAST(rt * ct DIV n AS BIGINT)").alias("expected"),
            F.expr(
                "CAST(1000 * (o * n - rt * ct)"
                " DIV CAST(FLOOR(SQRT(CAST(rt * ct * n AS DOUBLE)))"
                " AS BIGINT) AS BIGINT)"
            ).alias("resid_milli"),
        )
    )


# --- X263: G-test of independence -------------------------------------------


@register(
    "q_g_test",
    oracle="""
    WITH base AS (
        SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    cells AS (SELECT seg, pri, COUNT(*) AS o FROM base GROUP BY seg, pri),
    rows_t AS (SELECT seg, SUM(o) AS rt FROM cells GROUP BY seg),
    cols_t AS (SELECT pri, SUM(o) AS ct FROM cells GROUP BY pri),
    n_t AS (SELECT SUM(o) AS n FROM cells),
    terms AS (
        SELECT c.o * CAST(ROUND(LN(CAST(c.o AS DOUBLE) * t.n
                                   / (r.rt * ct.ct)) * 1000000) AS BIGINT)
                   AS term
        FROM cells c
        JOIN rows_t r ON r.seg = c.seg
        JOIN cols_t ct ON ct.pri = c.pri
        CROSS JOIN n_t t
        WHERE c.o > 0
    )
    SELECT CAST((SELECT n FROM n_t) AS BIGINT) AS n,
           CAST((SELECT (COUNT(*) - 1) FROM rows_t)
                * (SELECT (COUNT(*) - 1) FROM cols_t) AS BIGINT) AS df,
           CAST(2 * SUM(term) AS BIGINT) AS g_micro
    FROM terms
    """,
)
def q_g_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X263: G-test (log-likelihood ratio) of independence.

    The LLR sibling of X109's Pearson chi-squared over the same
    segment x priority table: G = 2 * sum o * ln(o*N/(rt*ct)). G is
    ADDITIVE over table partitions (chi2 is not) — the property that
    lets G-statistics from per-shard contingency tables merge exactly
    in a reduce, and the scorer behind Dunning's LLR collocation
    measure (X101's PMI is its pointwise cousin). Each ln of an exact
    integer ratio micro-rounds once (X197 discipline); everything
    else is integer.

    100 TB shape: identical to X262 — one conditional-agg fact pass
    to |seg|x|pri| cells, margins re-aggregated from the cell
    relation, broadcast joins, 1-row output arithmetic.
    """
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.col("o_orderpriority").alias("pri"),
    )
    cells = base.groupBy("seg", "pri").agg(F.count("*").alias("o"))
    rows_t = cells.groupBy("seg").agg(F.sum("o").alias("rt"))
    cols_t = cells.groupBy("pri").agg(F.sum("o").alias("ct"))
    n_t = cells.agg(F.sum("o").alias("n"))
    dfr = rows_t.agg((F.count("*") - 1).alias("dr"))
    dfc = cols_t.agg((F.count("*") - 1).alias("dc"))
    terms = (
        cells.where(F.col("o") > 0)
        .join(F.broadcast(rows_t), "seg")
        .join(F.broadcast(cols_t), "pri")
        .crossJoin(F.broadcast(n_t))
        .select(
            F.expr(
                "o * CAST(ROUND(LN(CAST(o AS DOUBLE) * n / (rt * ct))"
                " * 1000000) AS BIGINT)"
            ).alias("term"),
            "n",
        )
    )
    return (
        terms.groupBy("n")
        .agg(F.expr("CAST(2 * SUM(term) AS BIGINT)").alias("g_micro"))
        .crossJoin(F.broadcast(dfr))
        .crossJoin(F.broadcast(dfc))
        .select(
            F.col("n").cast("bigint").alias("n"),
            (F.col("dr") * F.col("dc")).cast("bigint").alias("df"),
            "g_micro",
        )
    )


def _fdiv(a: str, b: str) -> str:
    """Exact decimal floor-division SQL for NONNEGATIVE operands whose
    quotient can exceed int64 — Spark's DIV on DECIMAL operands returns
    BIGINT and silently wraps past it (the X258 pitfall), while
    (a - a % b) / b stays DECIMAL end-to-end and equals DuckDB's
    HUGEINT //."""
    return f"CAST((({a}) - ({a}) % ({b})) / ({b}) AS DECIMAL(38,0))"

# --- X273: Welch's t-test ----------------------------------------------------

_WELCH_A = "AUTOMOBILE"
_WELCH_B = "BUILDING"


@register(
    "q_welch_t",
    oracle=f"""
    WITH base AS (
        SELECT CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS x,
               c.c_mktsegment AS seg
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment IN ('{_WELCH_A}', '{_WELCH_B}')
    ),
    m AS (
        SELECT
            SUM(CASE WHEN seg = '{_WELCH_A}' THEN 1 ELSE 0 END) AS na,
            SUM(CASE WHEN seg = '{_WELCH_B}' THEN 1 ELSE 0 END) AS nb,
            SUM(CASE WHEN seg = '{_WELCH_A}' THEN x ELSE 0 END) AS sa,
            SUM(CASE WHEN seg = '{_WELCH_B}' THEN x ELSE 0 END) AS sb,
            SUM(CASE WHEN seg = '{_WELCH_A}'
                THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS qa,
            SUM(CASE WHEN seg = '{_WELCH_B}'
                THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS qb
        FROM base
    ),
    v AS (
        SELECT na, nb, sa, sb,
               (1000000 * (qa * na - CAST(sa AS HUGEINT) * sa))
                   // (CAST(na AS HUGEINT) * na * (na - 1)) AS va_micro,
               (1000000 * (qb * nb - CAST(sb AS HUGEINT) * sb))
                   // (CAST(nb AS HUGEINT) * nb * (nb - 1)) AS vb_micro
        FROM m
    ),
    se AS (
        SELECT na, nb, sa, sb, va_micro, vb_micro,
               va_micro // na + vb_micro // nb AS se2_micro
        FROM v
    )
    SELECT CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           CAST(sa // na AS BIGINT) AS mean_a_cents,
           CAST(sb // nb AS BIGINT) AS mean_b_cents,
           CAST(sa // na - sb // nb AS BIGINT) AS diff_cents,
           CAST(1000000 * CAST(sa // na - sb // nb AS HUGEINT)
                        * (sa // na - sb // nb) // se2_micro
                AS BIGINT) AS t2_micro,
           CAST(1000 * se2_micro * se2_micro
                // ((va_micro // na) * (va_micro // na) // (na - 1)
                    + (vb_micro // nb) * (vb_micro // nb) // (nb - 1))
                AS BIGINT) AS df_milli
    FROM se
    """,
)
def q_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X273: Welch's unequal-variance two-sample t-test, exact integers.

    Do AUTOMOBILE and BUILDING customers place different-valued
    orders? Student's pooled t assumes equal variances; Welch's form
    (the modern default) uses per-group variances and the
    Welch-Satterthwaite effective df. Everything is integer cents:
    per-group (n, sum, sum-of-squares) from ONE conditional-sum scan,
    variances in micro-cents^2 via the exact decimal floor-division
    (the quotient outgrows int64 — the Kruskal-Wallis X258 pitfall),
    then t^2 in micro and df in milli from 1-row arithmetic. Every
    division has a nonnegative dividend except the mean difference,
    which is squared before dividing — so Spark's truncating DIV and
    DuckDB's flooring // agree everywhere.

    100 TB shape: one broadcast dim join + one conditional-sum
    aggregate (map-side combine); the test itself is 1-row math.
    """
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = (
        table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .where(F.col("c_mktsegment").isin(_WELCH_A, _WELCH_B))
    )
    base = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("x"),
        F.col("c_mktsegment").alias("seg"),
    )
    xd = F.col("x").cast("decimal(38,0)")
    m = base.agg(
        F.sum(F.when(F.col("seg") == _WELCH_A, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("seg") == _WELCH_B, 1).otherwise(0)).alias("nb"),
        F.sum(F.when(F.col("seg") == _WELCH_A, F.col("x")).otherwise(0)).alias("sa"),
        F.sum(F.when(F.col("seg") == _WELCH_B, F.col("x")).otherwise(0)).alias("sb"),
        F.sum(F.when(F.col("seg") == _WELCH_A, xd * xd).otherwise(0)).alias("qa"),
        F.sum(F.when(F.col("seg") == _WELCH_B, xd * xd).otherwise(0)).alias("qb"),
    )
    # exact decimal floor-division (quotient can exceed int64): the
    # operands are nonnegative, so (a - a % b) / b == floor == DuckDB //
    v = m.select(
        "na", "nb", "sa", "sb",
        F.expr(
            "CAST(((1000000 * (qa * na - CAST(sa AS DECIMAL(38,0)) * sa))"
            " - (1000000 * (qa * na - CAST(sa AS DECIMAL(38,0)) * sa))"
            "   % (CAST(na AS DECIMAL(38,0)) * na * (na - 1)))"
            " / (CAST(na AS DECIMAL(38,0)) * na * (na - 1))"
            " AS DECIMAL(38,0))"
        ).alias("va_micro"),
        F.expr(
            "CAST(((1000000 * (qb * nb - CAST(sb AS DECIMAL(38,0)) * sb))"
            " - (1000000 * (qb * nb - CAST(sb AS DECIMAL(38,0)) * sb))"
            "   % (CAST(nb AS DECIMAL(38,0)) * nb * (nb - 1)))"
            " / (CAST(nb AS DECIMAL(38,0)) * nb * (nb - 1))"
            " AS DECIMAL(38,0))"
        ).alias("vb_micro"),
    )
    se = v.withColumn(
        "se2_micro", F.expr("va_micro DIV na + vb_micro DIV nb")
    )
    return se.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.expr("sa DIV na").cast("bigint").alias("mean_a_cents"),
        F.expr("sb DIV nb").cast("bigint").alias("mean_b_cents"),
        F.expr("sa DIV na - sb DIV nb").cast("bigint").alias("diff_cents"),
        F.expr(
            "CAST(1000000 * CAST(sa DIV na - sb DIV nb AS DECIMAL(38,0))"
            " * (sa DIV na - sb DIV nb) DIV se2_micro AS BIGINT)"
        ).alias("t2_micro"),
        # the squared terms outgrow int64 (se2 ~ 1e16, and the
        # (v/n)^2/(n-1) quotients reach ~1e23) — promote to DECIMAL(38)
        # and floor-divide via _fdiv or the products/quotients wrap
        F.expr(
            "CAST(1000 * CAST(se2_micro AS DECIMAL(38,0)) * se2_micro"
            " DIV ("
            + _fdiv(
                "CAST(va_micro DIV na AS DECIMAL(38,0)) * (va_micro DIV na)",
                "na - 1",
            )
            + " + "
            + _fdiv(
                "CAST(vb_micro DIV nb AS DECIMAL(38,0)) * (vb_micro DIV nb)",
                "nb - 1",
            )
            + ") AS BIGINT)"
        ).alias("df_milli"),
    )


# --- X276: Brown-Forsythe variance-homogeneity test --------------------------


@register(
    "q_brown_forsythe",
    oracle="""
    WITH base AS (
        SELECT o_orderpriority AS g,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS x
        FROM orders
    ),
    med AS (
        SELECT g, CAST(2 * MEDIAN(x) AS BIGINT) AS m2 FROM base GROUP BY g
    ),
    z AS (
        SELECT base.g, ABS(2 * x - m2) AS z2
        FROM base JOIN med ON med.g = base.g
    ),
    grp AS (
        SELECT g, COUNT(*) AS ng, SUM(z2) AS sg,
               SUM(CAST(z2 AS HUGEINT) * z2) AS qg
        FROM z GROUP BY g
    ),
    tot AS (
        SELECT COUNT(*) AS k, SUM(ng) AS n, SUM(sg) AS s, SUM(qg) AS q,
               SUM(CAST(sg AS HUGEINT) * sg // ng) AS ssb_part
        FROM grp
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(k AS BIGINT) AS k,
           CAST(10000 * (ssb_part - CAST(s AS HUGEINT) * s // n)
                // (q - CAST(s AS HUGEINT) * s // n) AS BIGINT)
               AS ssb_share_bp,
           CAST(1000 * (n - k) * (ssb_part - CAST(s AS HUGEINT) * s // n)
                // ((k - 1) * (q - ssb_part)) AS BIGINT) AS f_milli
    FROM tot
    """,
)
def q_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X276: Brown-Forsythe variance-homogeneity test, exact integers.

    Do the five order priorities have equally-dispersed order values?
    Levene's test in its median form (robust to non-normality): ANOVA
    on z_ij = |x_ij - median_j|. The doubled-median trick keeps every
    term integer — 2*median is exact for both engines (avg of the two
    middle integers has at worst a .5 that doubles away), so z is
    computed as |2x - m2| in half-cents. F = ((N-k)/(k-1)) * SSB/SSW
    with SSB/SSW from the X259 ssb_part decomposition; emitted in
    milli plus the SSB share in bp. Division dividends are all
    nonnegative, so DIV == //.

    100 TB shape: one grouped aggregate for medians (5-row result,
    broadcast back), one conditional aggregate for the z moments
    (map-side combine), 1-row arithmetic. Compare X258 (location,
    ranks), X198 (location, medians) — this one tests SCALE.
    """
    base = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("x"),
    )
    med = base.groupBy("g").agg(
        (2 * F.median("x")).cast("bigint").alias("m2")
    )
    z = base.join(F.broadcast(med), "g").select(
        "g", F.abs(2 * F.col("x") - F.col("m2")).alias("z2")
    )
    zd = F.col("z2").cast("decimal(38,0)")
    grp = z.groupBy("g").agg(
        F.count("*").alias("ng"),
        F.sum("z2").alias("sg"),
        F.sum(zd * zd).alias("qg"),
    )
    # the sg^2/ng and s^2/n quotients outgrow int64 — _fdiv, not DIV
    tot = grp.agg(
        F.count("*").alias("k"),
        F.sum("ng").alias("n"),
        F.sum("sg").alias("s"),
        F.sum("qg").alias("q"),
        F.sum(
            F.expr(_fdiv("CAST(sg AS DECIMAL(38,0)) * sg", "ng"))
        ).alias("ssb_part"),
    )
    s2n = _fdiv("CAST(s AS DECIMAL(38,0)) * s", "n")
    return tot.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("k").cast("bigint").alias("k"),
        F.expr(
            f"CAST(10000 * (ssb_part - {s2n})"
            f" DIV (q - {s2n}) AS BIGINT)"
        ).alias("ssb_share_bp"),
        F.expr(
            f"CAST(1000 * (n - k) * (ssb_part - {s2n})"
            f" DIV ((k - 1) * (q - ssb_part)) AS BIGINT)"
        ).alias("f_milli"),
    )


# --- X279: odds ratio (2x2) --------------------------------------------------


@register(
    "q_odds_ratio",
    oracle="""
    WITH conv AS (
        SELECT c.c_custkey,
               c.c_mktsegment AS seg,
               CASE WHEN COUNT(o.o_orderkey) > 0 THEN 1 ELSE 0 END AS hit
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                          AND o.o_orderpriority = '1-URGENT'
        WHERE c.c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
        GROUP BY 1, 2
    ),
    cells AS (
        SELECT
            SUM(CASE WHEN seg = 'AUTOMOBILE' AND hit = 1 THEN 1 ELSE 0 END) AS a,
            SUM(CASE WHEN seg = 'AUTOMOBILE' AND hit = 0 THEN 1 ELSE 0 END) AS b,
            SUM(CASE WHEN seg = 'BUILDING' AND hit = 1 THEN 1 ELSE 0 END) AS c,
            SUM(CASE WHEN seg = 'BUILDING' AND hit = 0 THEN 1 ELSE 0 END) AS d
        FROM conv
    )
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
           CAST(1000 * CAST(a AS HUGEINT) * d // (CAST(b AS HUGEINT) * c)
                AS BIGINT) AS odds_ratio_milli,
           CAST(1000000 // a + 1000000 // b + 1000000 // c + 1000000 // d
                AS BIGINT) AS woolf_se2_micro
    FROM cells
    """,
)
def q_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X279: 2x2 odds ratio with Woolf's variance, exact integers.

    Are AUTOMOBILE customers more likely than BUILDING customers to
    have placed an urgent order? The odds ratio ad/bc is THE 2x2
    effect size (X77's z-test answers "is there a difference", X109's
    chi2 "is it independent" — this answers "how strong"), emitted in
    milli from one exact integer division; Woolf's log-OR variance
    1/a+1/b+1/c+1/d emits in micro via four truncating divisions
    (identical in both engines, positive operands). The per-customer
    conversion flag comes from one left-join aggregate.

    100 TB shape: the orders side filters at the scan (pushed
    predicate) and aggregates to customer grain map-side; the 2x2
    cells are one conditional-sum aggregate; the stat is 1-row math.
    """
    c = (
        table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .where(F.col("c_mktsegment").isin("AUTOMOBILE", "BUILDING"))
    )
    o = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    conv = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.when(F.count("o_orderkey") > 0, 1).otherwise(0).alias("hit")
        )
    )
    seg = F.col("c_mktsegment")
    cells = conv.agg(
        F.sum(F.when((seg == "AUTOMOBILE") & (F.col("hit") == 1), 1).otherwise(0)).alias("a"),
        F.sum(F.when((seg == "AUTOMOBILE") & (F.col("hit") == 0), 1).otherwise(0)).alias("b"),
        F.sum(F.when((seg == "BUILDING") & (F.col("hit") == 1), 1).otherwise(0)).alias("c"),
        F.sum(F.when((seg == "BUILDING") & (F.col("hit") == 0), 1).otherwise(0)).alias("d"),
    )
    return cells.select(
        F.col("a").cast("bigint").alias("a"),
        F.col("b").cast("bigint").alias("b"),
        F.col("c").cast("bigint").alias("c"),
        F.col("d").cast("bigint").alias("d"),
        F.expr(
            "CAST(1000 * CAST(a AS DECIMAL(38,0)) * d"
            " DIV (CAST(b AS DECIMAL(38,0)) * c) AS BIGINT)"
        ).alias("odds_ratio_milli"),
        F.expr(
            "CAST(1000000 DIV a + 1000000 DIV b + 1000000 DIV c"
            " + 1000000 DIV d AS BIGINT)"
        ).alias("woolf_se2_micro"),
    )


# --- X280: Grubbs max-outlier statistic ---------------------------------------


@register(
    "q_grubbs",
    oracle="""
    WITH base AS (
        SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS x
        FROM orders
    ),
    m AS (
        SELECT COUNT(*) AS n, SUM(x) AS s,
               SUM(CAST(x AS HUGEINT) * x) AS q,
               MAX(x) AS mx, MIN(x) AS mn
        FROM base
    ),
    dev AS (
        SELECT n, s, q, mx, mn,
               GREATEST(ABS(n * mx - CAST(s AS HUGEINT)),
                        ABS(n * mn - CAST(s AS HUGEINT))) AS maxdev_n
        FROM m
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(mx AS BIGINT) AS max_cents,
           CAST(mn AS BIGINT) AS min_cents,
           CAST(1000 * maxdev_n * maxdev_n * (n - 1)
                // (CAST(n AS HUGEINT) * (q * n - CAST(s AS HUGEINT) * s))
                AS BIGINT) AS g2_milli
    FROM dev
    """,
)
def q_grubbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X280: Grubbs max-outlier statistic, exact integers.

    Is the most extreme order value a statistical outlier? G = max|x -
    mean| / s; the test compares G^2 against a t-distribution bound —
    this emits G^2 exactly in milli. Exactness: |x - S/n| clears the
    mean's denominator as |n*x - S| (the extreme deviation is at the
    max or the min — both are checked), and G^2 = maxdev_n^2 * (n-1) /
    (n * (Q*n - S^2)) after substituting the sample variance, one
    truncating division of nonnegative DECIMAL(38) terms. Compare X75
    (3-sigma outlier COUNT): this is the formal single-outlier test.

    100 TB shape: one moment aggregate (map-side combine: n, S, Q,
    max, min), then 1-row arithmetic.
    """
    base = table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("x")
    )
    xd = F.col("x").cast("decimal(38,0)")
    m = base.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum(xd * xd).alias("q"),
        F.max("x").alias("mx"),
        F.min("x").alias("mn"),
    )
    dev = m.withColumn(
        "maxdev_n",
        F.expr(
            "GREATEST(ABS(n * mx - CAST(s AS DECIMAL(38,0))),"
            " ABS(n * mn - CAST(s AS DECIMAL(38,0))))"
        ),
    )
    return dev.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("mx").cast("bigint").alias("max_cents"),
        F.col("mn").cast("bigint").alias("min_cents"),
        F.expr(
            "CAST(1000 * maxdev_n * maxdev_n * (n - 1)"
            " DIV (CAST(n AS DECIMAL(38,0))"
            "      * (q * n - CAST(s AS DECIMAL(38,0)) * s)) AS BIGINT)"
        ).alias("g2_milli"),
    )


# --- X290: Kendall tau-b -----------------------------------------------------


@register(
    "q_kendall_tau",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev_cents,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1
    ),
    pairs AS (
        SELECT a.rev_cents AS xa, a.n_orders AS ya,
               b.rev_cents AS xb, b.n_orders AS yb
        FROM daily a JOIN daily b ON a.d < b.d
    ),
    census AS (
        SELECT
            CAST(SUM(CASE WHEN (xa < xb AND ya < yb)
                            OR (xa > xb AND ya > yb)
                     THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
            CAST(SUM(CASE WHEN (xa < xb AND ya > yb)
                            OR (xa > xb AND ya < yb)
                     THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
            CAST(SUM(CASE WHEN xa = xb AND ya <> yb
                     THEN 1 ELSE 0 END) AS BIGINT) AS ties_x,
            CAST(SUM(CASE WHEN ya = yb AND xa <> xb
                     THEN 1 ELSE 0 END) AS BIGINT) AS ties_y,
            CAST(SUM(CASE WHEN xa = xb AND ya = yb
                     THEN 1 ELSE 0 END) AS BIGINT) AS ties_xy,
            CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM pairs
    )
    SELECT concordant, discordant, ties_x, ties_y, ties_xy, n_pairs,
           ROUND((concordant - discordant)
                 / SQRT(CAST(n_pairs - ties_x - ties_xy AS DOUBLE)
                        * (n_pairs - ties_y - ties_xy)), 4) AS tau_b
    FROM census
    """,
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X290: Kendall tau-b rank correlation, exact pair census.

    Daily revenue (cents) vs daily order count over the orders fact:
    every unordered day pair is classified concordant / discordant /
    tied-in-x / tied-in-y / tied-in-both by pure integer comparisons,
    and tau-b = (C - D) / sqrt((n0 - Tx)(n0 - Ty)) is the only float
    (one expression over six exact integers, rounded 4 — no summation
    order exists to drift). Spearman (X144) needs a rank transform and
    mis-handles heavy ties; tau-b's pair census is the tie-robust form.

    100 TB: the pair join runs over the DAILY AGGREGATE, which is
    calendar-bounded (~2.4k rows regardless of fact scale) — one fact
    shuffle to build it, then a broadcast self-join over ~3M pairs
    whose conditional-sum census is a single partial-aggregated scan.
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents"),
        F.count("*").cast("bigint").alias("n_orders"),
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        F.broadcast(b), F.col("a.d") < F.col("b.d"), "inner"
    ).select(
        F.col("a.rev_cents").alias("xa"),
        F.col("a.n_orders").alias("ya"),
        F.col("b.rev_cents").alias("xb"),
        F.col("b.n_orders").alias("yb"),
    )
    xa, ya, xb, yb = (F.col(c) for c in ("xa", "ya", "xb", "yb"))
    census = pairs.agg(
        F.sum(
            F.when((xa < xb) & (ya < yb) | (xa > xb) & (ya > yb), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("concordant"),
        F.sum(
            F.when((xa < xb) & (ya > yb) | (xa > xb) & (ya < yb), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("discordant"),
        F.sum(F.when((xa == xb) & (ya != yb), 1).otherwise(0))
        .cast("bigint")
        .alias("ties_x"),
        F.sum(F.when((ya == yb) & (xa != xb), 1).otherwise(0))
        .cast("bigint")
        .alias("ties_y"),
        F.sum(F.when((xa == xb) & (ya == yb), 1).otherwise(0))
        .cast("bigint")
        .alias("ties_xy"),
        F.count("*").cast("bigint").alias("n_pairs"),
    )
    return census.select(
        "concordant",
        "discordant",
        "ties_x",
        "ties_y",
        "ties_xy",
        "n_pairs",
        F.round(
            (F.col("concordant") - F.col("discordant"))
            / F.sqrt(
                (F.col("n_pairs") - F.col("ties_x") - F.col("ties_xy")).cast(
                    "double"
                )
                * (F.col("n_pairs") - F.col("ties_y") - F.col("ties_xy"))
            ),
            4,
        ).alias("tau_b"),
    )


# --- X291: McNemar paired test ------------------------------------------------

_MCNEMAR_Y1, _MCNEMAR_Y2 = 1996, 1997


@register(
    "q_mcnemar",
    oracle=f"""
    WITH y1 AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE YEAR(CAST(o_orderdate AS DATE)) = {_MCNEMAR_Y1}
    ),
    y2 AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE YEAR(CAST(o_orderdate AS DATE)) = {_MCNEMAR_Y2}
    ),
    cells AS (
        SELECT
            CAST(SUM(CASE WHEN a.o_custkey IS NOT NULL
                           AND b.o_custkey IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS b_cell,
            CAST(SUM(CASE WHEN a.o_custkey IS NULL
                           AND b.o_custkey IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS c_cell,
            CAST(SUM(CASE WHEN a.o_custkey IS NOT NULL
                           AND b.o_custkey IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS both_cell
        FROM y1 a FULL OUTER JOIN y2 b ON a.o_custkey = b.o_custkey
    )
    SELECT b_cell, c_cell, both_cell,
           CAST((b_cell - c_cell) * (b_cell - c_cell) * 1000000
                // (b_cell + c_cell) AS BIGINT) AS chi2_micro
    FROM cells
    """,
)
def q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X291: McNemar test on paired year-over-year activity flips.

    Each customer is a PAIRED observation (active in 1996, active in
    1997); only the discordant cells — b = active-then-quiet, c =
    quiet-then-active — carry information, and the statistic
    (b-c)^2/(b+c) is exact integer micro (chi2_micro, integer DIV on
    nonnegative operands). X77's two-proportion z-test would be WRONG
    here: the two years share customers, so the samples aren't
    independent — this is the paired correction.

    100 TB: two distinct-key projections of the fact (each a
    partial-aggregated shuffle on custkey), one co-partitioned full
    outer join on the same key, then a single-row census.
    """
    o = table(spark, sf_dir, "orders")

    def active(year: int) -> DataFrame:
        return (
            o.where(F.year(F.col("o_orderdate").cast("date")) == year)
            .select("o_custkey")
            .distinct()
        )

    a = active(_MCNEMAR_Y1).withColumnRenamed("o_custkey", "k1")
    b = active(_MCNEMAR_Y2).withColumnRenamed("o_custkey", "k2")
    cells = a.join(b, a.k1 == b.k2, "full_outer").agg(
        F.sum(
            F.when(F.col("k1").isNotNull() & F.col("k2").isNull(), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("b_cell"),
        F.sum(
            F.when(F.col("k1").isNull() & F.col("k2").isNotNull(), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("c_cell"),
        F.sum(
            F.when(F.col("k1").isNotNull() & F.col("k2").isNotNull(), 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("both_cell"),
    )
    diff = F.col("b_cell") - F.col("c_cell")
    tot = F.col("b_cell") + F.col("c_cell")
    num = diff * diff * F.lit(1000000)
    return cells.select(
        "b_cell",
        "c_cell",
        "both_cell",
        ((num - num % tot) / tot).cast("bigint").alias("chi2_micro"),
    )


# --- X305: Cronbach's alpha ---------------------------------------------------

_CRON_K = 8


@register(
    "q_cronbach_alpha",
    oracle=f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding[1:{_CRON_K}],
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5)
                             AS BIGINT)) AS v
        FROM embeddings
    ),
    cells AS (
        SELECT vec_id, UNNEST(generate_series(1, len(v))) AS item,
               UNNEST(v) AS x
        FROM e
    ),
    item_var AS (
        SELECT SUM(nv) AS sum_item_num FROM (
            SELECT item, COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS nv
            FROM cells GROUP BY item
        )
    ),
    totals AS (
        SELECT vec_id, SUM(x) AS t FROM cells GROUP BY vec_id
    ),
    tot_var AS (
        SELECT COUNT(*) AS n,
               COUNT(*) * SUM(t * t) - SUM(t) * SUM(t) AS tot_num
        FROM totals
    )
    SELECT CAST({_CRON_K} AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
           CAST(sum_item_num AS BIGINT) AS sum_item_var_num,
           CAST(tot_num AS BIGINT) AS total_var_num,
           ROUND({_CRON_K} / ({_CRON_K} - 1.0)
                 * (1 - CAST(sum_item_num AS DOUBLE) / tot_num), 4) AS alpha
    FROM item_var CROSS JOIN tot_var
    """,
)
def q_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X305: Cronbach's alpha internal-consistency reliability.

    The psychometric workhorse: treat the first 8 embedding dimensions
    as scale items and each vector as a respondent; alpha =
    k/(k-1) * (1 - sum(item variances)/variance(total score)). Both
    variance families are carried as the EXACT integer numerators
    n*Sum(x^2) - Sum(x)^2 on milli-quantized values (the shared n^2
    denominators cancel in the ratio), so alpha is one float
    expression over two exact integers, rounded 4.

    100 TB: one scan-local slice+explode, one (item) aggregate
    bounded by k, one per-respondent total aggregate — all
    partial-aggregated, no windows.
    """
    emb = table(spark, sf_dir, "embeddings")
    fixed = F.transform(
        F.slice(F.col("embedding"), 1, _CRON_K),
        lambda x: F.floor(x.cast("double") * 1000 + 0.5).cast("bigint"),
    )
    cells = emb.select(
        "vec_id", F.posexplode(fixed).alias("item0", "x")
    ).select("vec_id", (F.col("item0") + 1).alias("item"), "x")
    item_num = (
        cells.groupBy("item")
        .agg(
            (
                F.count("*") * F.sum(F.col("x") * F.col("x"))
                - F.sum("x") * F.sum("x")
            ).alias("nv")
        )
        .agg(F.sum("nv").alias("sum_item_num"))
    )
    totals = cells.groupBy("vec_id").agg(F.sum("x").alias("t"))
    tot = totals.agg(
        F.count("*").alias("n"),
        (
            F.count("*") * F.sum(F.col("t") * F.col("t"))
            - F.sum("t") * F.sum("t")
        ).alias("tot_num"),
    )
    return item_num.crossJoin(F.broadcast(tot)).select(
        F.lit(_CRON_K).cast("bigint").alias("k"),
        F.col("n").cast("bigint").alias("n"),
        F.col("sum_item_num").cast("bigint").alias("sum_item_var_num"),
        F.col("tot_num").cast("bigint").alias("total_var_num"),
        F.round(
            _CRON_K
            / (_CRON_K - 1.0)
            * (1 - F.col("sum_item_num").cast("double") / F.col("tot_num")),
            4,
        ).alias("alpha"),
    )


# --- X306: Kendall's W (coefficient of concordance) --------------------------


@register(
    "q_kendalls_w",
    oracle="""
    WITH met AS (
        SELECT c.c_nationkey AS nation,
               SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS rev,
               COUNT(*) AS n_orders,
               COUNT(DISTINCT c.c_custkey) AS n_cust
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1
    ),
    ranks AS (
        SELECT nation,
               ROW_NUMBER() OVER (ORDER BY rev DESC, nation) AS r1,
               ROW_NUMBER() OVER (ORDER BY n_orders DESC, nation) AS r2,
               ROW_NUMBER() OVER (ORDER BY n_cust DESC, nation) AS r3
        FROM met
    ),
    cnt AS (SELECT COUNT(*) AS n FROM ranks),
    sums AS (
        SELECT n,
               SUM((2 * (r1 + r2 + r3) - 3 * (n + 1))
                   * (2 * (r1 + r2 + r3) - 3 * (n + 1))) AS s4
        FROM ranks CROSS JOIN cnt GROUP BY n
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(s4 AS BIGINT) AS s4,
           ROUND(3.0 * s4 / (9 * (n * n * n - n)), 4) AS w
    FROM sums
    """,
)
def q_kendalls_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X306: Kendall's coefficient of concordance over 3 rankings.

    Do revenue, order volume, and customer count rank the 25 nations
    the same way? W = 12*S / (m^2 (n^3 - n)) with S the squared
    deviation of rank sums from their mean m(n+1)/2. The doubled
    trick (2*R_i - m(n+1), integer because it clears the /2) keeps
    S4 = 4S an exact integer; W = 3*S4 / (m^2 (n^3-n)) is one float
    over integers, rounded 4. m=3 rankings, unique tiebreak by
    nation key (declared ranking, not a tie correction).

    100 TB: one fact aggregate to the 25-row nation relation; the
    three rankings are windows over 25 rows.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    met = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
            ).alias("rev"),
            F.count("*").alias("n_orders"),
            F.count_distinct("c_custkey").alias("n_cust"),
        )
    )
    ranks = met.select(
        "nation",
        F.row_number()
        .over(Window.orderBy(F.desc("rev"), "nation"))
        .alias("r1"),
        F.row_number()
        .over(Window.orderBy(F.desc("n_orders"), "nation"))
        .alias("r2"),
        F.row_number()
        .over(Window.orderBy(F.desc("n_cust"), "nation"))
        .alias("r3"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    dev = 2 * (F.col("r1") + F.col("r2") + F.col("r3")) - 3 * (
        F.count("*").over(w_all) + 1
    )
    sums = ranks.select(dev.alias("dev")).agg(
        F.count("*").alias("n"), F.sum(F.col("dev") * F.col("dev")).alias("s4")
    )
    return sums.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("s4").cast("bigint").alias("s4"),
        F.round(
            3.0
            * F.col("s4")
            / (9 * (F.col("n") * F.col("n") * F.col("n") - F.col("n"))),
            4,
        ).alias("w"),
    )


# --- X308: Mantel-Haenszel pooled odds ratio ---------------------------------


@register(
    "q_mantel_haenszel",
    oracle="""
    WITH base AS (
        SELECT YEAR(CAST(o.o_orderdate AS DATE)) AS stratum,
               CASE WHEN c.c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END
                   AS exposed,
               CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                   AS outcome
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
    ),
    cells AS (
        SELECT stratum,
               SUM(exposed * outcome) AS a,
               SUM(exposed * (1 - outcome)) AS b,
               SUM((1 - exposed) * outcome) AS c,
               SUM((1 - exposed) * (1 - outcome)) AS d,
               COUNT(*) AS nt
        FROM base GROUP BY stratum
    ),
    terms AS (
        SELECT stratum, a, b, c, d,
               CAST(ROUND(1000000.0 * a * d / nt) AS BIGINT) AS num_micro,
               CAST(ROUND(1000000.0 * b * c / nt) AS BIGINT) AS den_micro
        FROM cells
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
           CAST(SUM(a) AS BIGINT) AS a_total,
           CAST(SUM(num_micro) AS BIGINT) AS num_sum_micro,
           CAST(SUM(den_micro) AS BIGINT) AS den_sum_micro,
           ROUND(CAST(SUM(num_micro) AS DOUBLE) / SUM(den_micro), 4)
               AS or_mh
    FROM terms
    """,
)
def q_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X308: Mantel-Haenszel pooled odds ratio across year strata.

    X279's single 2x2 (AUTOMOBILE vs BUILDING exposure, urgent-order
    outcome) confounds with time; MH pools the per-year 2x2 tables
    with weights a_i*d_i/n_i and b_i*c_i/n_i — the classic
    confounder-adjusted odds ratio. Each stratum's two terms
    micro-round FIRST (X197's fixed-point discipline), the pooled
    sums are exact integers, and the OR is one final division.

    100 TB: one fact join (dimension side broadcast), one
    partial-aggregated stratum census bounded by |years|, then
    constant-size math.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    base = (
        o.join(
            F.broadcast(
                c.where(
                    F.col("c_mktsegment").isin("AUTOMOBILE", "BUILDING")
                ).select("c_custkey", "c_mktsegment")
            ),
            o.o_custkey == F.col("c_custkey"),
        )
        .select(
            F.year(F.col("o_orderdate").cast("date")).alias("stratum"),
            (F.col("c_mktsegment") == "AUTOMOBILE")
            .cast("bigint")
            .alias("exposed"),
            (F.col("o_orderpriority") == "1-URGENT")
            .cast("bigint")
            .alias("outcome"),
        )
    )
    cells = base.groupBy("stratum").agg(
        F.sum(F.col("exposed") * F.col("outcome")).alias("a"),
        F.sum(F.col("exposed") * (1 - F.col("outcome"))).alias("b"),
        F.sum((1 - F.col("exposed")) * F.col("outcome")).alias("c"),
        F.sum((1 - F.col("exposed")) * (1 - F.col("outcome"))).alias("d"),
        F.count("*").alias("nt"),
    )
    terms = cells.select(
        "a",
        F.round(1000000.0 * F.col("a") * F.col("d") / F.col("nt"))
        .cast("bigint")
        .alias("num_micro"),
        F.round(1000000.0 * F.col("b") * F.col("c") / F.col("nt"))
        .cast("bigint")
        .alias("den_micro"),
    )
    return terms.agg(
        F.count("*").cast("bigint").alias("n_strata"),
        F.sum("a").cast("bigint").alias("a_total"),
        F.sum("num_micro").cast("bigint").alias("num_sum_micro"),
        F.sum("den_micro").cast("bigint").alias("den_sum_micro"),
        F.round(
            F.sum("num_micro").cast("double") / F.sum("den_micro"), 4
        ).alias("or_mh"),
    )


# --- X309: Jonckheere-Terpstra ordered-alternative test ----------------------


@register(
    "q_jonckheere",
    oracle="""
    WITH vals AS (
        SELECT CAST(substring(o_orderpriority, 1, 1) AS INT) AS g,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v
        FROM orders
    ),
    census AS (
        SELECT v,
               SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS c1,
               SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS c2,
               SUM(CASE WHEN g = 3 THEN 1 ELSE 0 END) AS c3,
               SUM(CASE WHEN g = 4 THEN 1 ELSE 0 END) AS c4,
               SUM(CASE WHEN g = 5 THEN 1 ELSE 0 END) AS c5
        FROM vals GROUP BY v
    ),
    cum AS (
        SELECT v, c1, c2, c3, c4, c5,
               SUM(c1) OVER w AS k1, SUM(c2) OVER w AS k2,
               SUM(c3) OVER w AS k3, SUM(c4) OVER w AS k4
        FROM census
        WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    ),
    contrib AS (
        SELECT SUM(
                 c2 * (2 * (k1 - c1) + c1)
               + c3 * (2 * (k1 - c1) + c1 + 2 * (k2 - c2) + c2)
               + c4 * (2 * (k1 - c1) + c1 + 2 * (k2 - c2) + c2
                       + 2 * (k3 - c3) + c3)
               + c5 * (2 * (k1 - c1) + c1 + 2 * (k2 - c2) + c2
                       + 2 * (k3 - c3) + c3 + 2 * (k4 - c4) + c4)
               ) AS j2
        FROM cum
    ),
    sizes AS (
        SELECT SUM(cnt) AS nn, SUM(cnt * cnt) AS sq,
               SUM(cnt * cnt * (2 * cnt + 3)) AS cub
        FROM (SELECT g, COUNT(*) AS cnt FROM vals GROUP BY g)
    )
    SELECT CAST(j2 AS BIGINT) AS j2,
           CAST(nn AS BIGINT) AS n,
           ROUND((CAST(j2 AS DOUBLE) / 2 - (nn * nn - sq) / 4.0)
                 / SQRT((nn * nn * (2 * nn + 3) - cub) / 72.0), 4) AS z
    FROM contrib CROSS JOIN sizes
    """,
)
def q_jonckheere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X309: Jonckheere-Terpstra test for an ordered trend in spend
    across the five priority groups.

    The ordered-alternative sibling of X258's Kruskal-Wallis: J sums
    the Mann-Whitney U over every ordered group pair. The textbook
    pairwise form is O(G^2) group-pair joins; reorganized here as ONE
    linear pass over the global value census — each distinct value's
    count in group h meets the cumulative below-counts of all lower
    groups g<h, with ties at half weight (J2 = 2J stays integer). The
    normal approximation z uses the exact integer group-size moments.

    100 TB: one value census shuffle + one two-pass cumulative over
    the distinct-value relation (ordered_cumsum — no single-partition
    fact window); group count G is a constant 5-wide projection.
    """
    o = table(spark, sf_dir, "orders")
    vals = o.select(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("g"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("v"),
    )
    census = vals.groupBy("v").agg(
        *[
            F.sum(F.when(F.col("g") == i, 1).otherwise(0)).alias(f"c{i}")
            for i in range(1, 6)
        ]
    )
    cum = ordered_cumsum(
        census,
        order_by=["v"],
        values={f"c{i}": f"k{i}" for i in range(1, 5)},
    )

    def below(i: int) -> F.Column:
        # doubled below-count for group i at this value: 2*(strictly
        # below) + (ties at this value)
        return 2 * (F.col(f"k{i}") - F.col(f"c{i}")) + F.col(f"c{i}")

    lower = [below(1)]
    for i in (2, 3, 4):
        lower.append(lower[-1] + below(i))
    contrib = cum.agg(
        F.sum(
            F.col("c2") * lower[0]
            + F.col("c3") * lower[1]
            + F.col("c4") * lower[2]
            + F.col("c5") * lower[3]
        ).alias("j2")
    )
    sizes = (
        vals.groupBy("g")
        .agg(F.count("*").alias("cnt"))
        .agg(
            F.sum("cnt").alias("nn"),
            F.sum(F.col("cnt") * F.col("cnt")).alias("sq"),
            F.sum(
                F.col("cnt") * F.col("cnt") * (2 * F.col("cnt") + 3)
            ).alias("cub"),
        )
    )
    # Variance moments in decimal(38,0): nn*nn*(2*nn+3) wraps int64 once
    # total orders pass ~1.66M (sf1) — DuckDB widens to HUGEINT, Spark
    # wraps silently. Same wide-decimal discipline as X340/X348.
    nn = F.col("nn").cast("decimal(38,0)")
    sq = F.col("sq").cast("decimal(38,0)")
    cub = F.col("cub").cast("decimal(38,0)")
    return contrib.crossJoin(F.broadcast(sizes)).select(
        F.col("j2").cast("bigint").alias("j2"),
        F.col("nn").cast("bigint").alias("n"),
        F.round(
            (
                F.col("j2").cast("double") / 2
                - (nn * nn - sq).cast("double") / 4.0
            )
            / F.sqrt((nn * nn * (2 * nn + 3) - cub).cast("double") / 72.0),
            4,
        ).alias("z"),
    )


# --- X321: Cochran's Q test ---------------------------------------------------

_CQ_YEARS = (1996, 1997, 1998)


@register(
    "q_cochran_q",
    oracle=f"""
    WITH flags AS (
        SELECT o_custkey,
               MAX(CASE WHEN YEAR(CAST(o_orderdate AS DATE)) = {_CQ_YEARS[0]}
                   THEN 1 ELSE 0 END) AS x1,
               MAX(CASE WHEN YEAR(CAST(o_orderdate AS DATE)) = {_CQ_YEARS[1]}
                   THEN 1 ELSE 0 END) AS x2,
               MAX(CASE WHEN YEAR(CAST(o_orderdate AS DATE)) = {_CQ_YEARS[2]}
                   THEN 1 ELSE 0 END) AS x3
        FROM orders GROUP BY o_custkey
    ),
    moms AS (
        SELECT SUM(x1) AS c1, SUM(x2) AS c2, SUM(x3) AS c3,
               SUM(x1 + x2 + x3) AS nn,
               SUM((x1 + x2 + x3) * (x1 + x2 + x3)) AS sr2
        FROM flags
    )
    SELECT CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2,
           CAST(c3 AS BIGINT) AS c3,
           ROUND(2.0 * (3 * (c1 * c1 + c2 * c2 + c3 * c3) - nn * nn)
                 / (3 * nn - sr2), 4) AS q_stat
    FROM moms
    """,
)
def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X321: Cochran's Q — the k-treatment paired binary test.

    X291's McNemar handles two paired years; Q generalizes to k=3
    (was each customer active in '96/'97/'98?). The statistic
    Q = (k-1)(k*Sum C_j^2 - N^2) / (k*N - Sum R_i^2) uses only exact
    integer column sums, the total, and the row-sum squares — one
    float division at the end. All-zero rows drop out of every term
    automatically (the correct convention).

    100 TB: one customer-grain conditional aggregate + one 1-row
    moment aggregate — fully partial-aggregated, no joins.
    """
    o = table(spark, sf_dir, "orders")
    yr = F.year(F.col("o_orderdate").cast("date"))
    flags = o.groupBy("o_custkey").agg(
        *[
            F.max(F.when(yr == y, 1).otherwise(0)).alias(f"x{k+1}")
            for k, y in enumerate(_CQ_YEARS)
        ]
    )
    r = F.col("x1") + F.col("x2") + F.col("x3")
    moms = flags.agg(
        F.sum("x1").alias("c1"),
        F.sum("x2").alias("c2"),
        F.sum("x3").alias("c3"),
        F.sum(r).alias("nn"),
        F.sum(r * r).alias("sr2"),
    )
    c1, c2, c3, nn, sr2 = (
        F.col("c1"),
        F.col("c2"),
        F.col("c3"),
        F.col("nn"),
        F.col("sr2"),
    )
    return moms.select(
        c1.cast("bigint").alias("c1"),
        c2.cast("bigint").alias("c2"),
        c3.cast("bigint").alias("c3"),
        F.round(
            2.0 * (3 * (c1 * c1 + c2 * c2 + c3 * c3) - nn * nn)
            / (3 * nn - sr2),
            4,
        ).alias("q_stat"),
    )


# --- X322: Friedman test ------------------------------------------------------


@register(
    "q_friedman",
    oracle=f"""
    WITH spend AS (
        SELECT o_custkey,
               SUM(CASE WHEN YEAR(CAST(o_orderdate AS DATE)) = {_CQ_YEARS[0]}
                   THEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                   ELSE 0 END) AS y1,
               SUM(CASE WHEN YEAR(CAST(o_orderdate AS DATE)) = {_CQ_YEARS[1]}
                   THEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                   ELSE 0 END) AS y2,
               SUM(CASE WHEN YEAR(CAST(o_orderdate AS DATE)) = {_CQ_YEARS[2]}
                   THEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                   ELSE 0 END) AS y3
        FROM orders GROUP BY o_custkey
    ),
    dranks AS (
        SELECT
            2 + 2 * ((y2 < y1)::INT + (y3 < y1)::INT)
              + (y2 = y1)::INT + (y3 = y1)::INT AS d1,
            2 + 2 * ((y1 < y2)::INT + (y3 < y2)::INT)
              + (y1 = y2)::INT + (y3 = y2)::INT AS d2,
            2 + 2 * ((y1 < y3)::INT + (y2 < y3)::INT)
              + (y1 = y3)::INT + (y2 = y3)::INT AS d3
        FROM spend
    ),
    moms AS (
        SELECT COUNT(*) AS n, SUM(d1) AS r1, SUM(d2) AS r2, SUM(d3) AS r3
        FROM dranks
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(r1 AS BIGINT) AS dbl_r1, CAST(r2 AS BIGINT) AS dbl_r2,
           CAST(r3 AS BIGINT) AS dbl_r3,
           ROUND(((r1 - 4.0 * n) * (r1 - 4.0 * n)
                  + (r2 - 4.0 * n) * (r2 - 4.0 * n)
                  + (r3 - 4.0 * n) * (r3 - 4.0 * n)) / (4.0 * n), 4)
               AS chi2_f
    FROM moms
    """,
)
def q_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X322: Friedman rank test — repeated measures within blocks.

    Each customer is a block; their three yearly spends rank 1..3
    WITHIN the block (tie-averaged midranks). The doubled midrank of
    y_j among k=3 values is the pure comparison expression
    2*(1 + #less) + #ties-excluding-self — computed by codegen, NO
    window, no sort. Friedman's chi2 = 12 Sum(R_j - n(k+1)/2)^2 /
    (n k (k+1)) becomes Sum(dblR_j - 4n)^2 / (4n) at k=3 with
    doubled ranks — exact integers until the single final division.
    Completes the paired-test family: X291 (2 binary), X321
    (k binary), this (k ordinal).

    100 TB: one customer-grain conditional aggregate + one 1-row
    moment aggregate.
    """
    o = table(spark, sf_dir, "orders")
    yr = F.year(F.col("o_orderdate").cast("date"))
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    spend = o.groupBy("o_custkey").agg(
        *[
            F.sum(F.when(yr == y, cents).otherwise(0)).alias(f"y{k+1}")
            for k, y in enumerate(_CQ_YEARS)
        ]
    )

    def drank(j: int) -> F.Column:
        others = [k for k in (1, 2, 3) if k != j]
        yj = F.col(f"y{j}")
        less = sum(
            (F.col(f"y{k}") < yj).cast("int") for k in others
        )
        ties = sum(
            (F.col(f"y{k}") == yj).cast("int") for k in others
        )
        return 2 + 2 * less + ties

    dranks = spend.select(
        drank(1).alias("d1"), drank(2).alias("d2"), drank(3).alias("d3")
    )
    moms = dranks.agg(
        F.count("*").alias("n"),
        F.sum("d1").alias("r1"),
        F.sum("d2").alias("r2"),
        F.sum("d3").alias("r3"),
    )
    n = F.col("n")

    def dev2(c: str) -> F.Column:
        d = F.col(c) - 4.0 * n
        return d * d

    return moms.select(
        n.cast("bigint").alias("n"),
        F.col("r1").cast("bigint").alias("dbl_r1"),
        F.col("r2").cast("bigint").alias("dbl_r2"),
        F.col("r3").cast("bigint").alias("dbl_r3"),
        F.round(
            (dev2("r1") + dev2("r2") + dev2("r3")) / (4.0 * n), 4
        ).alias("chi2_f"),
    )


# --- X323: exact 1D Wasserstein distance -------------------------------------


@register(
    "q_wasserstein_1d",
    oracle="""
    WITH vals AS (
        SELECT CASE WHEN c.c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END
                   AS grp,
               CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS v
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
    ),
    sizes AS (
        SELECT SUM(grp) AS na, SUM(1 - grp) AS nb FROM vals
    ),
    census AS (
        SELECT v, SUM(grp) AS ca, SUM(1 - grp) AS cb
        FROM vals GROUP BY v
    ),
    cum AS (
        SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn,
               SUM(ca) OVER (ORDER BY v) AS cuma,
               SUM(cb) OVER (ORDER BY v) AS cumb
        FROM census
    ),
    steps AS (
        SELECT p.v AS v_prev, q.v AS v_next,
               ABS(p.cuma * s.nb - p.cumb * s.na) * (q.v - p.v) AS area
        FROM cum p JOIN cum q ON q.rn = p.rn + 1 CROSS JOIN sizes s
    )
    SELECT CAST(s.na AS BIGINT) AS n_a, CAST(s.nb AS BIGINT) AS n_b,
           CAST(SUM(st.area) AS BIGINT) AS emd_scaled,
           ROUND(CAST(SUM(st.area) AS DOUBLE) / s.na / s.nb / 100.0, 4)
               AS emd_dollars
    FROM steps st CROSS JOIN sizes s
    GROUP BY s.na, s.nb
    """,
)
def q_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X323: exact 1D Wasserstein (earth-mover's) distance.

    The optimal-transport distance between the AUTOMOBILE and
    BUILDING order-value distributions — in 1D it's the area between
    ECDFs, and that area is an EXACT INTEGER once scaled by n_a*n_b:
    between consecutive distinct values the ECDF gap is constant at
    |cumA*n_b - cumB*n_a| / (n_a*n_b), so each step contributes
    integer |cross| * value-gap. Distribution distances that bin
    first (X197's PSI, X240's JSD) depend on the binning; EMD is the
    binning-free ground metric. Cumulatives ride the two-pass
    ordered_cumsum; consecutive values pair by X128's distributed
    lead (rank equi-join, no global window).

    100 TB: value census shuffle + two-pass cumulative + one
    rank-join — all on the distinct-value relation.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    vals = (
        o.join(
            F.broadcast(
                c.where(
                    F.col("c_mktsegment").isin("AUTOMOBILE", "BUILDING")
                ).select("c_custkey", "c_mktsegment")
            ),
            o.o_custkey == F.col("c_custkey"),
        )
        .select(
            (F.col("c_mktsegment") == "AUTOMOBILE").cast("bigint").alias("grp"),
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("v"),
        )
    )
    sizes = vals.agg(
        F.sum("grp").alias("na"), F.sum(1 - F.col("grp")).alias("nb")
    )
    census = vals.groupBy("v").agg(
        F.sum("grp").alias("ca"), F.sum(1 - F.col("grp")).alias("cb")
    )
    cum = ordered_cumsum(
        census,
        order_by=["v"],
        values={"ca": "cuma", "cb": "cumb"},
        row_number_col="rn",
    ).localCheckpoint(eager=True)
    p = cum.alias("p")
    q = cum.select(
        F.col("rn").alias("rn_next"), F.col("v").alias("v_next")
    ).alias("q")
    steps = (
        p.join(q, F.col("rn_next") == F.col("rn") + 1)
        .crossJoin(F.broadcast(sizes))
        .select(
            (
                F.abs(
                    F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na")
                )
                * (F.col("v_next") - F.col("v"))
            ).alias("area"),
            "na",
            "nb",
        )
    )
    return steps.groupBy("na", "nb").agg(
        F.sum("area").cast("bigint").alias("emd_scaled"),
        F.round(
            F.sum("area").cast("double") / F.col("na") / F.col("nb") / 100.0,
            4,
        ).alias("emd_dollars"),
    ).select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        "emd_scaled",
        "emd_dollars",
    )


# --- X324: Anderson-Darling uniformity audit ---------------------------------


@register(
    "q_anderson_darling",
    oracle="""
    WITH u AS (
        SELECT o_orderkey,
               (('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
                    ::BIGINT % 1000000 + 0.5) / 1000000.0 AS x
        FROM orders
    ),
    ranked AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY x, o_orderkey) AS i,
               COUNT(*) OVER () AS n
        FROM u
    ),
    terms AS (
        SELECT n,
               CAST(ROUND(1000000.0
                          * ((2 * i - 1) * LN(x)
                             + (2 * n + 1 - 2 * i) * LN(1 - x)) / n)
                    AS BIGINT) AS t_micro
        FROM ranked
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           CAST(SUM(t_micro) AS BIGINT) AS term_sum_micro,
           ROUND(-CAST(MAX(n) AS DOUBLE) - SUM(t_micro) / 1000000.0
                 / MAX(n), 4) AS a2
    FROM terms
    """,
)
def q_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X324: Anderson-Darling uniformity test of the engine's own
    hash-derived uniforms.

    X218's bootstrap, X297's DP noise, and the hash splits all trust
    that md5-derived uniforms are uniform; this audits that claim
    with the tail-weighted goodness-of-fit test (AD up-weights the
    tails KS barely sees): A^2 = -n - (1/n) Sum [(2i-1) ln u_(i) +
    (2(n-i)+1) ln(1 - u_(i))], the reindexed form that needs each
    point only at its own rank. Each point's term
    micro-rounds on the exact two-pass global rank; A^2 is one float
    expression over the integer term sum. (Critical value at 5% is
    ~2.49 — the committed artifact records the measured statistic.)

    100 TB: scan-local uniform derivation, two-pass rank
    (ordered_cumsum), one aggregate.
    """
    o = table(spark, sf_dir, "orders")
    u = o.select(
        "o_orderkey",
        (
            (
                F.conv(
                    F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15),
                    16,
                    10,
                ).cast("bigint")
                % 1000000
            )
            + 0.5
        ).alias("num"),
    ).select("o_orderkey", (F.col("num") / 1000000.0).alias("x"))
    ranked = ordered_cumsum(
        u, order_by=["x", "o_orderkey"], row_number_col="i"
    )
    n_row = u.agg(F.count("*").alias("n"))
    terms = ranked.crossJoin(F.broadcast(n_row)).select(
        "n",
        F.round(
            1000000.0
            * (
                (2 * F.col("i") - 1) * F.log("x")
                + (2 * F.col("n") + 1 - 2 * F.col("i"))
                * F.log(1 - F.col("x"))
            )
            / F.col("n")
        )
        .cast("bigint")
        .alias("t_micro"),
    )
    return terms.agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum("t_micro").cast("bigint").alias("term_sum_micro"),
        F.round(
            -F.max("n").cast("double")
            - F.sum("t_micro") / 1000000.0 / F.max("n"),
            4,
        ).alias("a2"),
    )


# --- X334: Krippendorff's alpha (nominal) ------------------------------------


@register(
    "q_krippendorff_alpha",
    oracle="""
    WITH cnts AS (
        SELECT user_id,
               CASE WHEN day(ts) <= 10 THEN 0
                    WHEN day(ts) <= 20 THEN 1 ELSE 2 END AS period,
               event_type, COUNT(*) AS cnt
        FROM events GROUP BY 1, 2, 3
    ),
    ratings AS (
        SELECT user_id, period, event_type AS val
        FROM (SELECT user_id, period, event_type, cnt,
                     ROW_NUMBER() OVER (PARTITION BY user_id, period
                                        ORDER BY cnt DESC, event_type DESC)
                         AS rn
              FROM cnts)
        WHERE rn = 1
    ),
    per_val AS (
        SELECT user_id, val, COUNT(*) AS k
        FROM ratings GROUP BY user_id, val
    ),
    per_unit AS (
        SELECT user_id, SUM(k) AS m, SUM(k * k) AS sumk2
        FROM per_val GROUP BY user_id
    ),
    kept AS (SELECT * FROM per_unit WHERE m >= 2),
    obs AS (
        SELECT CAST(SUM((2 * (m * m - sumk2)) // (m - 1)) AS BIGINT) AS s_o2,
               CAST(COUNT(*) AS BIGINT) AS n_units,
               CAST(SUM(m) AS BIGINT) AS n
        FROM kept
    ),
    marg AS (
        SELECT CAST(SUM(nc * nc) AS BIGINT) AS sn2
        FROM (SELECT p.val, SUM(p.k) AS nc
              FROM per_val p JOIN kept k ON k.user_id = p.user_id
              GROUP BY p.val)
    )
    SELECT o.n_units, o.n AS n_ratings, o.s_o2,
           CAST(ROUND(1000000.0
                      * (1 - CAST((o.n - 1) * o.s_o2 AS DOUBLE)
                             / (2 * (o.n * o.n - m.sn2)))) AS BIGINT)
               AS alpha_micro
    FROM obs o CROSS JOIN marg m
    """,
)
def q_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X334: Krippendorff's alpha (nominal), exact doubled-integer form.

    Units = users, raters = three 10-day periods, rating = the user's
    modal event type that period (X107's deterministic mode, tie-break
    max type); a user inactive in a period is simply missing — the
    case alpha (unlike X238's kappa) is DEFINED for. Per unit with m
    ratings, the doubled disagreement coincidence 2(m^2 - sum k_c^2)/
    (m-1) is an exact integer for m in {2,3}; expected disagreement is
    n^2 - sum n_c^2 over the doubled... marginals are plain rating
    counts, so alpha = 1 - (n-1) S_o2 / (2 (n^2 - sum n_c^2)) needs
    ONE float division. The inter-rater reliability gate an annotation
    pipeline runs before trusting labels.

    100 TB: one (user, period, type) combine, two user-grain
    aggregates, 1-row output — no windows beyond the keyed mode rank.
    """
    e = table(spark, sf_dir, "events")
    period = (
        F.when(F.dayofmonth("ts") <= 10, 0)
        .when(F.dayofmonth("ts") <= 20, 1)
        .otherwise(2)
    )
    cnts = e.groupBy(
        "user_id", period.alias("period"), "event_type"
    ).agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("user_id", "period").orderBy(
        F.desc("cnt"), F.desc("event_type")
    )
    ratings = (
        cnts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "period", F.col("event_type").alias("val"))
    )
    # per_val and kept feed BOTH the observed-disagreement branch and
    # the marginals branch — checkpoint so the mode-rank pipeline runs
    # once (the X12/graph lineage discipline).
    per_val = (
        ratings.groupBy("user_id", "val")
        .agg(F.count("*").alias("k"))
        .localCheckpoint(eager=True)
    )
    per_unit = per_val.groupBy("user_id").agg(
        F.sum("k").alias("m"), F.sum(F.col("k") * F.col("k")).alias("sumk2")
    )
    kept = per_unit.where(F.col("m") >= 2).localCheckpoint(eager=True)
    obs = kept.agg(
        F.sum(F.expr("(2 * (m * m - sumk2)) div (m - 1)"))
        .cast("bigint")
        .alias("s_o2"),
        F.count("*").cast("bigint").alias("n_units"),
        F.sum("m").cast("bigint").alias("n"),
    )
    marg = (
        per_val.join(kept.select("user_id"), "user_id")
        .groupBy("val")
        .agg(F.sum("k").alias("nc"))
        .agg(F.sum(F.col("nc") * F.col("nc")).cast("bigint").alias("sn2"))
    )
    o, n = F.col("s_o2"), F.col("n")
    return obs.crossJoin(F.broadcast(marg)).select(
        "n_units",
        n.alias("n_ratings"),
        "s_o2",
        F.round(
            F.lit(1000000.0)
            * (
                F.lit(1)
                - ((n - 1) * o).cast("double") / (2 * (n * n - F.col("sn2")))
            )
        )
        .cast("bigint")
        .alias("alpha_micro"),
    )


# --- X356: Wilcoxon signed-rank test -------------------------------------------

_WX_Y1, _WX_Y2 = 1999, 2000


@register(
    "q_wilcoxon",
    oracle=f"""
    WITH yearly AS (
        SELECT o_custkey AS c, EXTRACT(year FROM o_orderdate) AS y,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS s
        FROM orders
        WHERE EXTRACT(year FROM o_orderdate) IN ({_WX_Y1}, {_WX_Y2})
        GROUP BY 1, 2
    ),
    paired AS (
        SELECT a.c, b.s - a.s AS d
        FROM yearly a JOIN yearly b ON b.c = a.c
        WHERE a.y = {_WX_Y1} AND b.y = {_WX_Y2} AND b.s <> a.s
    ),
    census AS (
        SELECT ABS(d) AS ad, COUNT(*) AS t,
               SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS pos
        FROM paired GROUP BY 1
    ),
    ranked AS (
        SELECT ad, t, pos,
               SUM(t) OVER (ORDER BY ad) AS k
        FROM census
    ),
    stats AS (
        SELECT SUM(pos * (2 * (k - t) + t + 1)) AS w2,
               SUM(t) AS n,
               SUM(t * t * t - t) AS tie3
        FROM ranked
    )
    SELECT CAST(w2 AS BIGINT) AS w2,
           CAST(n AS BIGINT) AS n,
           ROUND((w2 - CAST(n AS DECIMAL(38,0)) * (n + 1) / 2)
                 / SQRT(CAST(n AS DECIMAL(38,0)) * (n + 1) * (2 * n + 1) / 6.0
                        - tie3 / 12.0), 4) AS z
    FROM stats
    """,
)
def q_wilcoxon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X356: Wilcoxon signed-rank test on paired per-customer yearly
    spend (1999 vs 2000) — the PAIRED two-sample member the rank-test
    family lacked (q_mann_whitney is unpaired, q_friedman is k-sample
    repeated measures, X291 McNemar is the binary pair).

    Zero differences drop (standard); |d| midranks come from the
    doubled-rank census over DISTINCT |d| — 2*below + ties + 1 is an
    integer, so W2 = 2*W+ is exact. Normal approximation with the
    exact integer tie correction Sum(t^3 - t); z is the single float.

    100 TB: one (customer, year) partial aggregate, one self-join on
    the customer key, one distinct-|d| census + ordered_cumsum — no
    per-row global window.
    """
    o = table(spark, sf_dir, "orders")
    yearly = (
        o.where(F.year("o_orderdate").isin(_WX_Y1, _WX_Y2))
        .groupBy(
            F.col("o_custkey").alias("c"), F.year("o_orderdate").alias("y")
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("s"))
    )
    a = yearly.where(F.col("y") == _WX_Y1).select("c", F.col("s").alias("s1"))
    b = yearly.where(F.col("y") == _WX_Y2).select("c", F.col("s").alias("s2"))
    paired = (
        a.join(b, "c")
        .select((F.col("s2") - F.col("s1")).alias("d"))
        .where(F.col("d") != 0)
    )
    census = paired.groupBy(F.abs("d").alias("ad")).agg(
        F.count("*").alias("t"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).alias("pos"),
    )
    ranked = ordered_cumsum(census, order_by=["ad"], values={"t": "k"})
    stats = ranked.agg(
        F.sum(
            F.col("pos") * (2 * (F.col("k") - F.col("t")) + F.col("t") + 1)
        ).alias("w2"),
        F.sum("t").alias("n"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tie3"),
    )
    dec = "decimal(38,0)"
    n = F.col("n").cast(dec)
    return stats.select(
        F.col("w2").cast("bigint").alias("w2"),
        F.col("n").cast("bigint").alias("n"),
        F.round(
            (F.col("w2") - (n * (F.col("n") + 1)).cast("double") / 2)
            / F.sqrt(
                (n * (F.col("n") + 1) * (2 * F.col("n") + 1)).cast("double") / 6.0
                - F.col("tie3") / 12.0
            ),
            4,
        ).alias("z"),
    )


# --- X358: Monte-Carlo permutation test -----------------------------------------

_PERM_B = 32


def _perm_oracle() -> str:
    # X218's digest-splitting discipline: 5 independent 24-bit uniforms
    # per 128-bit digest (hex chars 6*(b%5)+1..+6 of md5(b DIV 5|key))
    # -> 7 md5s per row for B=32 draws; md5 is the measured bottleneck
    # (6.5 s/scan for 32 digests at sf0.1). Assignment compares the
    # uniform against the PRECOMPUTED threshold t = 2^24*na DIV n —
    # Bernoulli(na/n) to within 2^-24, no modulo bias — and the hashed
    # CTE guarantees each digest is computed once, not once per
    # referencing aggregate.
    def h(b: int) -> str:
        j, slot = divmod(b, 5)
        return (
            f"CAST(('0x' || substring(m{j}, {6 * slot + 1}, 6)) AS BIGINT)"
        )

    digests = ", ".join(
        f"md5(CAST({j} AS VARCHAR) || '|' || CAST(o_orderkey AS VARCHAR))"
        f" AS m{j}"
        for j in range((_PERM_B + 4) // 5)
    )
    assigns = ",\n               ".join(
        f"SUM(CASE WHEN {h(b)} < t THEN v ELSE 0 END) AS s{b},"
        f" SUM(CASE WHEN {h(b)} < t THEN 1 ELSE 0 END) AS c{b}"
        for b in range(_PERM_B)
    )
    perm_rows = "\n        UNION ALL ".join(
        f"SELECT {b} AS b, s{b} AS sa, c{b} AS ca FROM wide"
        for b in range(_PERM_B)
    )
    return f"""
    WITH v AS (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS ga
        FROM orders
    ),
    sizes AS (
        SELECT COUNT(*) AS n, SUM(ga) AS na,
               16777216 * SUM(ga) // COUNT(*) AS t,
               SUM(v) AS s, SUM(CASE WHEN ga = 1 THEN v ELSE 0 END) AS sa0
        FROM v
    ),
    hashed AS (
        SELECT v, {digests} FROM v
    ),
    wide AS (
        SELECT n, na, s, sa0,
               {assigns}
        FROM hashed CROSS JOIN sizes
        GROUP BY n, na, s, sa0
    ),
    perms AS ({perm_rows}),
    obs AS (
        SELECT n, na, s, sa0,
               ABS(CAST(sa0 AS DECIMAL(38,0)) * (n - na)
                   - CAST(s - sa0 AS DECIMAL(38,0)) * na) AS num0,
               CAST(na AS DECIMAL(38,0)) * (n - na) AS den0
        FROM wide
    ),
    cmp AS (
        SELECT p.b,
               CASE WHEN p.ca > 0 AND p.ca < o.n
                     AND ABS(CAST(p.sa AS DECIMAL(38,0)) * (o.n - p.ca)
                             - CAST(o.s - p.sa AS DECIMAL(38,0)) * p.ca)
                         * o.den0
                     >= o.num0 * (CAST(p.ca AS DECIMAL(38,0)) * (o.n - p.ca))
                    THEN 1 ELSE 0 END AS ge
        FROM perms p CROSS JOIN obs o
    )
    SELECT CAST((SELECT SUM(ge) FROM cmp) AS BIGINT) AS n_ge,
           CAST({_PERM_B} AS INT) AS n_perms,
           CAST((1 + (SELECT SUM(ge) FROM cmp)) * 10000
                // ({_PERM_B} + 1) AS BIGINT) AS p_bp,
           CAST(o.num0 AS VARCHAR) AS obs_num,
           CAST(o.den0 AS VARCHAR) AS obs_den
    FROM obs o
    """


@register("q_relabel_test", oracle=_perm_oracle())
def q_relabel_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X358: Monte-Carlo RELABELING (two-sample randomization) test
    for the URGENT-vs-rest gap in mean order value — the TWO-SAMPLE
    member of the resampling-inference family: X244's permutation
    test flips signs of PAIRED differences (its null is symmetry),
    this one reassigns group labels (its null is exchangeability of
    the two samples); X218's bootstrap resamples for a CI.

    B=32 deterministic relabelings: draw b assigns an order to group A
    iff its 24-bit md5 uniform (5 draws per digest — X218's splitting)
    falls below t = 2^24*n_A DIV n — Bernoulli(n_A/n) to within 2^-24
    with no modulo bias (the Monte Carlo relabeling null; group sizes
    vary binomially and the statistic comparison handles it exactly).
    |mean gap| comparisons
    never divide: |S_A*(n-n_A') - S_B*n_A'| * den_obs >= num_obs *
    den_perm, cross-multiplied in DECIMAL(38) (X75 discipline), so
    the p-value numerator is an exact integer count; p_bp = (1+#ge)*
    10000 // (B+1), the add-one Monte Carlo estimator.

    100 TB: ALL 32 relabelings are conditional aggregates in ONE scan
    (the q_bootstrap_ci shape) — the relabeled datasets never exist.
    """
    o = table(spark, sf_dir, "orders")
    # Round 13: the 7-digest md5 projection below is the measured
    # bottleneck and it ran on the one-task single-row-group scan;
    # spread_scan parallelizes the scan stage (guarded no-op at corpus
    # scale — tables.spread_scan). Both consumers (the sizes aggregate
    # and the flagged projection) sit above the same spread relation.
    v = spread_scan(
        o.select("o_orderkey", "o_totalprice", "o_orderpriority"), "o_orderkey"
    ).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("ga"),
    )
    sizes = v.agg(
        F.count("*").alias("n"),
        F.sum("ga").alias("na"),
        F.expr("16777216 * SUM(ga) DIV COUNT(*)").alias("t"),
        # round 12: the threshold ALSO as a 6-digit lowercase hex string
        # — equal-width lowercase hex compares lexicographically exactly
        # like the numbers it spells, so each draw's assignment is ONE
        # substring < t_hex instead of conv(substring, 16, 10) < t. The
        # 32 radix conversions per row were 34% of the query (measured
        # 5.46 -> 3.61 s at sf0.1); the md5 digests themselves are
        # oracle-pinned and stay.
        #
        # Round 13 (ADVICE r12): t <= 2^24 with equality exactly when
        # na == n (every order URGENT); hex(2^24) is SEVEN chars and
        # lpad TRUNCATES to '  100000', silently turning the always-
        # true assignment into a ~6% draw. Guard the width: 'g' sorts
        # after every lowercase hex string, so it spells the same
        # always-true compare the numeric conv(...) < t form had.
        F.expr(
            "CASE WHEN SUM(ga) = COUNT(*) THEN 'g' "
            "ELSE lower(lpad(hex(16777216 * SUM(ga) DIV COUNT(*)), 6, '0')) END"
        ).alias("t_hex"),
        F.sum("v").alias("s"),
        F.sum(F.when(F.col("ga") == 1, F.col("v")).otherwise(0)).alias("sa0"),
    )
    # X218's digest-splitting: 5 independent 24-bit uniforms per md5 ->
    # 7 digests per row for B=32, projected ONCE before the aggregate
    # (md5 is the measured bottleneck: 6.5 s/scan for 32 digests at
    # sf0.1; 12.5 s warm pre-fix, 3.9 s after). Assignment compares
    # against t = 2^24*na DIV n — Bernoulli(na/n) to within 2^-24,
    # no modulo bias.
    # Round 13: the wide stages are built as SQL STRINGS (selectExpr /
    # F.expr), not nested Column chains — the 7 digests + 32 draws +
    # 64 aggregates + 32 explode structs cost ~1.1 s of py4j plan
    # BUILD per run under the Column API (the bench times fn() + the
    # action, so plan build is 40% of the line); one parsed string per
    # expression brings build to ~0.3 s with a bit-identical plan
    # (full-output equality verified, oracle hash green x3 scales).
    digests = [
        f"md5(concat('{j}|', CAST(o_orderkey AS STRING))) AS m{j}"
        for j in range((_PERM_B + 4) // 5)
    ]
    vn = v.crossJoin(F.broadcast(sizes)).selectExpr(
        "v", "n", "na", "t_hex", "s", "sa0", *digests
    )
    # booleans projected once: s{b} and c{b} both reference a{b}, so
    # each 24-bit draw is extracted and compared exactly once per row
    # (inlining the compare into both aggregates doubled the draw work)
    flagged = vn.selectExpr(
        "v", "n", "na", "s", "sa0",
        *[
            f"substring(m{b // 5}, {6 * (b % 5) + 1}, 6) < t_hex AS a{b}"
            for b in range(_PERM_B)
        ],
    )
    aggs = []
    for b in range(_PERM_B):
        aggs.append(F.expr(f"SUM(CASE WHEN a{b} THEN v ELSE 0 END) AS s{b}"))
        aggs.append(F.expr(f"SUM(CASE WHEN a{b} THEN 1 ELSE 0 END) AS c{b}"))
    wide = flagged.groupBy("n", "na", "s", "sa0").agg(*aggs)
    dec = "DECIMAL(38,0)"
    entries = ", ".join(
        f"struct({b} AS b, s{b} AS sa, c{b} AS ca)" for b in range(_PERM_B)
    )
    perms = wide.selectExpr(
        "n", "na", "s", "sa0", f"explode(array({entries})) AS p"
    ).selectExpr("n", "na", "s", "sa0", "p.b", "p.sa", "p.ca")
    num0 = f"abs(CAST(sa0 AS {dec}) * (n - na) - CAST(s - sa0 AS {dec}) * na)"
    den0 = f"(CAST(na AS {dec}) * (n - na))"
    nump = f"abs(CAST(sa AS {dec}) * (n - ca) - CAST(s - sa AS {dec}) * ca)"
    denp = f"(CAST(ca AS {dec}) * (n - ca))"
    cmp = perms.selectExpr(
        "n",
        "na",
        f"{num0} AS num0",
        f"{den0} AS den0",
        f"CASE WHEN ca > 0 AND ca < n AND {nump} * {den0} >= {num0} * {denp} "
        f"THEN 1 ELSE 0 END AS ge",
    )
    out = cmp.groupBy("num0", "den0").agg(F.expr("SUM(ge) AS n_ge"))
    return out.selectExpr(
        "CAST(n_ge AS BIGINT) AS n_ge",
        f"CAST({_PERM_B} AS INT) AS n_perms",
        f"CAST((1 + n_ge) * 10000 DIV ({_PERM_B} + 1) AS BIGINT) AS p_bp",
        "CAST(num0 AS STRING) AS obs_num",
        "CAST(den0 AS STRING) AS obs_den",
    )
