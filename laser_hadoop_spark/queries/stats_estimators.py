"""Descriptive statistics, robust estimators and distribution fits.

Entropy, ECDF, boxplots, moments and mean families, winsorized and
robust location (Theil-Sen, Huber, Hodges-Lehmann, geometric median),
L-moments, resampling (bootstrap, jackknife), correlation matrices and
parametric tail and extreme-value fits (Gumbel, Weibull, GPD, Hill,
zero-inflated Poisson, value at risk).
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from laser_hadoop_spark.operators.cumulative import closed_form_ntile, ordered_cumsum
from laser_hadoop_spark.queries.windows import _centi
from laser_hadoop_spark.registry import register
from laser_hadoop_spark.tables import spread_scan, table


@register(
    "q_weighted_median",
    oracle="""
    WITH v AS (
        SELECT CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS p,
               CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) AS w,
               l_orderkey, l_linenumber
        FROM lineitem
    ),
    c AS (
        SELECT p, SUM(w) OVER (ORDER BY p, l_orderkey, l_linenumber
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cw
        FROM v
    ),
    t AS (SELECT SUM(w) AS tot FROM v)
    SELECT CAST(MIN(p) AS BIGINT) AS median_price_centi,
           CAST(MIN(tot) AS BIGINT) AS total_weight_centi
    FROM c CROSS JOIN t WHERE 2 * cw >= tot
    """,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X98: distributed weighted median (quantity-weighted price).

    The lower weighted median: smallest price whose cumulative weight
    reaches half the total. Both price and weight in exact centi
    bigints, via operators/cumulative.ordered_weighted_quantile's
    HISTOGRAM PRUNING: a map-side (min, max, total) pass, a map-side
    4096-bucket weight histogram, and an exact per-value walk over
    ONLY the crossing bucket — the fact table is never shuffled or
    checkpointed (the earlier ordered_cumsum spelling range-shuffled
    + materialized every row and windowed it; bench at sf0.1 dropped
    1.36 s -> ~0.85 s, bounded below by its two column-pruned fact
    scans, and at 100 TB the exact walk touches only the crossing
    bucket's values while everything else is scan + partial
    aggregation).
    """
    from laser_hadoop_spark.operators.cumulative import ordered_weighted_quantile

    li = table(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint").alias("p"),
        F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("bigint").alias("w"),
    )
    return ordered_weighted_quantile(
        li,
        value_col="p",
        weight_col="w",
    ).select(
        F.col("quantile_value").cast("bigint").alias("median_price_centi"),
        F.col("total_weight").cast("bigint").alias("total_weight_centi"),
    )


@register(
    "q_entropy",
    oracle="""
    WITH c AS (
        SELECT user_id % 16 AS bucket, event_type, COUNT(*) AS cnt
        FROM events GROUP BY user_id % 16, event_type
    ),
    t AS (
        SELECT bucket, cnt,
               CAST(FLOOR(LOG10(CAST(cnt AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
                   AS li
        FROM c
    )
    SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS n_events,
           CAST(CAST(FLOOR(LOG10(CAST(SUM(cnt) AS DOUBLE)) * 1000000 + 0.5)
                     AS BIGINT)
                - SUM(cnt * li) // SUM(cnt) AS BIGINT) AS entropy_micro
    FROM t GROUP BY bucket
    """,
)
def q_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X108: Shannon entropy of a categorical distribution per group.

    H = log10(N) - (1/N) * sum(c_i * log10(c_i)) over the event-type
    distribution of each user bucket — the quality / diversity metric
    LLM corpus audits run per source shard. Fixed-point discipline:
    ONE log10 per distinct (bucket, type) cell, micro-rounded to a
    bigint before the weighted sum, so both engines aggregate
    identical integers; final division via truncating integer
    division (Spark DIV == DuckDB //, positive operands). One shuffle
    on the (bucket, type) aggregate.
    """
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy(
        (F.col("user_id") % 16).alias("bucket"), "event_type"
    ).agg(F.count("*").alias("cnt"))
    li = F.floor(F.log10(F.col("cnt").cast("double")) * 1000000 + F.lit(0.5)).cast(
        "bigint"
    )
    t = c.withColumn("li", li)
    return t.groupBy("bucket").agg(
        F.sum("cnt").cast("bigint").alias("n_events"),
        (
            F.floor(
                F.log10(F.sum("cnt").cast("double")) * 1000000 + F.lit(0.5)
            ).cast("bigint")
            - F.expr("SUM(cnt * li) DIV SUM(cnt)")
        ).alias("entropy_micro"),
    )


@register(
    "q_boxplot_stats",
    oracle="""
    WITH v AS (
        SELECT l_returnflag AS flag,
               CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS p,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY CAST(FLOOR(l_extendedprice * 100
                                                      + 0.5) AS BIGINT),
                                           l_orderkey, l_linenumber) AS rn,
               COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem
    ),
    q AS (
        SELECT flag, MAX(n) AS n,
               MIN(CASE WHEN rn = (25 * n + 99) // 100 THEN p END) AS q1_centi,
               MIN(CASE WHEN rn = (50 * n + 99) // 100 THEN p END) AS med_centi,
               MIN(CASE WHEN rn = (75 * n + 99) // 100 THEN p END) AS q3_centi
        FROM v GROUP BY flag
    )
    SELECT q.flag, CAST(q.n AS BIGINT) AS n,
           q.q1_centi, q.med_centi, q.q3_centi,
           q.q3_centi - q.q1_centi AS iqr_centi,
           CAST(SUM(CASE WHEN 2 * v.p < 2 * q.q1_centi
                              - 3 * (q.q3_centi - q.q1_centi)
                           OR 2 * v.p > 2 * q.q3_centi
                              + 3 * (q.q3_centi - q.q1_centi)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM q JOIN v ON v.flag = q.flag
    GROUP BY q.flag, q.n, q.q1_centi, q.med_centi, q.q3_centi
    """,
)
def q_boxplot_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X116: boxplot five-number summary with percentile_disc semantics.

    Per return flag: exact rank-based quartiles (the value at row
    ceil(p*n) of the sorted extended price — percentile_disc, spelled
    as rank arithmetic so both engines agree without trusting either's
    percentile function), IQR, and the Tukey outlier count at 1.5*IQR
    whiskers. The whisker comparison is doubled (2*p vs 2*q1 - 3*iqr)
    so 1.5*IQR stays integral.

    Scale shape: l_returnflag has THREE values, so a per-flag rank
    window is a 3-task funnel over the whole fact table. The per-group
    rank instead derives from ONE two-pass global rank in (flag, p,
    keys) order (operators/cumulative.ordered_cumsum — fully
    range-parallel) minus the broadcast per-flag start offset; the
    oracle keeps the plain window spelling and hash equality proves
    the offset arithmetic.
    """
    from laser_hadoop_spark.operators.cumulative import ordered_cumsum

    li = table(spark, sf_dir, "lineitem")
    p = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
    v = li.select(
        F.col("l_returnflag").alias("flag"),
        p.alias("p"),
        "l_orderkey",
        "l_linenumber",
    )
    ranked = ordered_cumsum(
        v,
        order_by=["flag", "p", "l_orderkey", "l_linenumber"],
        row_number_col="grn",
    )
    offs = ranked.groupBy("flag").agg(
        F.min("grn").alias("off"), F.count("*").alias("n")
    )
    v = ranked.join(F.broadcast(offs), "flag").select(
        "flag", "p", (F.col("grn") - F.col("off") + 1).alias("rn"), "n"
    )
    q = v.groupBy("flag").agg(
        F.max("n").alias("n"),
        F.min(F.when(F.col("rn") == F.expr("(25 * n + 99) DIV 100"), F.col("p"))).alias(
            "q1_centi"
        ),
        F.min(F.when(F.col("rn") == F.expr("(50 * n + 99) DIV 100"), F.col("p"))).alias(
            "med_centi"
        ),
        F.min(F.when(F.col("rn") == F.expr("(75 * n + 99) DIV 100"), F.col("p"))).alias(
            "q3_centi"
        ),
    )
    joined = v.select("flag", "p").join(F.broadcast(q), "flag")
    iqr = F.col("q3_centi") - F.col("q1_centi")
    outlier = (2 * F.col("p") < 2 * F.col("q1_centi") - 3 * iqr) | (
        2 * F.col("p") > 2 * F.col("q3_centi") + 3 * iqr
    )
    return (
        joined.groupBy("flag", "n", "q1_centi", "med_centi", "q3_centi")
        .agg(F.sum(F.when(outlier, 1).otherwise(0)).cast("bigint").alias("n_outliers"))
        .select(
            "flag",
            F.col("n").cast("bigint").alias("n"),
            "q1_centi",
            "med_centi",
            "q3_centi",
            iqr.alias("iqr_centi"),
            "n_outliers",
        )
    )


# ECDF probe points: $50k .. $400k in centi (o_totalprice spans
# ~$1k..$500k at every SF of the driver data).
_ECDF_PROBES = [5_000_000, 10_000_000, 20_000_000, 30_000_000, 40_000_000]


@register(
    "q_ecdf",
    oracle=f"""
    WITH v AS (
        SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS centi
        FROM orders
    ),
    agg AS (
        SELECT COUNT(*) AS n,
               {", ".join(
                   f"SUM(CASE WHEN centi <= {p} THEN 1 ELSE 0 END) AS c{i}"
                   for i, p in enumerate(_ECDF_PROBES)
               )}
        FROM v
    )
    SELECT probe_centi, n_le, CAST(n_le * 10000 // n AS BIGINT) AS share_bp
    FROM (
        {" UNION ALL ".join(
            f"SELECT CAST({p} AS BIGINT) AS probe_centi,"
            f" CAST(c{i} AS BIGINT) AS n_le, n FROM agg"
            for i, p in enumerate(_ECDF_PROBES)
        )}
    ) u
    """,
)
def q_ecdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X123: empirical CDF at fixed probe points.

    P(order value <= x) for five probes — the distribution fingerprint
    monitoring systems track per ingest batch. All five probes
    evaluate as conditional counts in ONE aggregate pass over the scan
    (no probe x row fanout), then unpivot into (probe, count, bp)
    rows; shares via truncating integer division in basis points. One
    scalar-aggregate shuffle.
    """
    o = table(spark, sf_dir, "orders")
    centi = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    agg = o.select(centi.alias("centi")).agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.when(F.col("centi") <= p, 1).otherwise(0)).alias(f"c{i}")
            for i, p in enumerate(_ECDF_PROBES)
        ],
    )
    pairs = ", ".join(
        f"CAST({p} AS BIGINT), CAST(c{i} AS BIGINT)"
        for i, p in enumerate(_ECDF_PROBES)
    )
    return agg.select(
        F.expr(f"stack({len(_ECDF_PROBES)}, {pairs}) AS (probe_centi, n_le)"),
        "n",
    ).select(
        "probe_centi",
        "n_le",
        F.expr("CAST(n_le * 10000 DIV n AS BIGINT)").alias("share_bp"),
    )


@register(
    "q_quantile_normalize",
    oracle="""
    WITH v AS (
        SELECT l_returnflag AS grp,
               CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS p,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY CAST(FLOOR(l_extendedprice * 100
                                                      + 0.5) AS BIGINT),
                                           l_orderkey, l_linenumber) AS rn
        FROM lineitem
    ),
    ref AS (
        SELECT rn, CAST(SUM(p) AS BIGINT) AS sum_p,
               COUNT(*) AS n_grps
        FROM v GROUP BY rn
    )
    SELECT v.grp, v.rn AS rank_in_group, v.p AS orig_centi,
           CAST(ref.sum_p // ref.n_grps AS BIGINT) AS normalized_centi
    FROM v JOIN ref ON ref.rn = v.rn
    WHERE v.rn <= 100
    """,
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X141: quantile normalization across groups.

    The bioinformatics normalization the reference's domain lives on
    (expression/genotype matrices): replace each group's k-th ranked
    value with the MEAN of k-th ranked values across all groups, so
    every group ends with an identical distribution. Ranks come from
    ONE two-pass global rank in (group, value, keys) order minus
    broadcast per-group offsets (the X116 shape — no 3-partition
    funnel); the reference distribution is a rank-keyed aggregate;
    truncating integer mean. Output limited to the first 100 ranks per
    group to keep the verified relation small — the full-width form is
    the same plan.
    """
    from laser_hadoop_spark.operators.cumulative import ordered_cumsum

    li = table(spark, sf_dir, "lineitem")
    p = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
    v = li.select(
        F.col("l_returnflag").alias("grp"),
        p.alias("p"),
        "l_orderkey",
        "l_linenumber",
    )
    ranked = ordered_cumsum(
        v,
        order_by=["grp", "p", "l_orderkey", "l_linenumber"],
        row_number_col="grn",
    )
    offs = ranked.groupBy("grp").agg(F.min("grn").alias("off"))
    v = ranked.join(F.broadcast(offs), "grp").select(
        "grp", "p", (F.col("grn") - F.col("off") + 1).alias("rn")
    )
    ref = v.groupBy("rn").agg(
        F.sum("p").cast("bigint").alias("sum_p"), F.count("*").alias("n_grps")
    )
    return (
        v.where(F.col("rn") <= 100)
        .join(ref, "rn")
        .select(
            "grp",
            F.col("rn").alias("rank_in_group"),
            F.col("p").alias("orig_centi"),
            F.expr("CAST(sum_p DIV n_grps AS BIGINT)").alias("normalized_centi"),
        )
    )


@register(
    "q_theil_sen",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS rev
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    slopes AS (
        SELECT a.event_type,
               (b.rev - a.rev) * 1000000
                   // date_diff('day', a.day, b.day) AS slope_micro
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND b.day > a.day
    ),
    ranked AS (
        SELECT event_type, slope_micro,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY slope_micro) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM slopes
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
           CAST(slope_micro AS BIGINT) AS ts_slope_micro
    FROM ranked WHERE rn = (n + 1) // 2
    """,
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X145: Theil-Sen robust trend (median of pairwise slopes).

    Per event type, the median slope of daily revenue over all day
    pairs — the robust regression line a few outlier days cannot drag
    (X52's least-squares slope is the fragile sibling). Slopes are
    exact micro-units/day by truncating integer division (negative
    slopes truncate toward zero on both engines); the lower median is
    the value at rank (n+1) DIV 2, deterministic regardless of how
    row_number breaks slope ties — the k-th order statistic depends
    only on the multiset. The pair self-join is quadratic in DAYS PER
    GROUP (calendar-bounded, ~150 at any sf), never in the fact table:
    the X53 scale pattern. The ranking window partitions by event_type,
    so no global funnel.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(_centi("value")).alias("rev"))
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("b.day") > F.col("a.day")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.expr(
            "CAST((b.rev - a.rev) * 1000000 DIV datediff(b.day, a.day) AS BIGINT)"
        ).alias("slope_micro"),
    )
    w = Window.partitionBy("event_type").orderBy("slope_micro")
    ranked = slopes.select(
        "event_type",
        "slope_micro",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    return ranked.where(F.col("rn") == F.expr("(n + 1) DIV 2")).select(
        "event_type",
        F.col("n").cast("bigint").alias("n_pairs"),
        F.col("slope_micro").cast("bigint").alias("ts_slope_micro"),
    )


@register(
    "q_higher_moments",
    oracle="""
    WITH v AS (
        SELECT o_orderpriority AS priority,
               CAST(FLOOR(o_totalprice) AS BIGINT) AS x
        FROM orders
    ),
    mu AS (
        SELECT priority, SUM(x) // COUNT(*) AS mu0 FROM v GROUP BY priority
    ),
    d AS (
        SELECT v.priority, v.x - m.mu0 AS dx
        FROM v JOIN mu m ON m.priority = v.priority
    ),
    s AS (
        SELECT priority, COUNT(*) AS n, SUM(dx) AS d1,
               SUM(CAST(dx AS HUGEINT) * dx) AS d2,
               SUM(CAST(dx AS HUGEINT) * dx * dx) AS d3,
               SUM(CAST(dx AS HUGEINT) * dx * dx * dx) AS d4
        FROM d GROUP BY priority
    ),
    f AS (
        SELECT priority, n, d1, d2, d3, d4,
               CAST(n AS DOUBLE) AS nd, CAST(d1 AS DOUBLE) AS dd1,
               CAST(d2 AS DOUBLE) AS dd2, CAST(d3 AS DOUBLE) AS dd3,
               CAST(d4 AS DOUBLE) AS dd4
        FROM s
    )
    SELECT priority, CAST(n AS BIGINT) AS n,
           CAST(d1 AS BIGINT) AS d1,
           CAST(d2 AS VARCHAR) AS d2, CAST(d3 AS VARCHAR) AS d3,
           CAST(d4 AS VARCHAR) AS d4,
           ROUND((nd * dd3 * nd - 3 * nd * dd1 * dd2
                  + 2 * dd1 * dd1 * dd1)
                 / POW(nd * dd2 - dd1 * dd1, 1.5), 6) AS skewness,
           ROUND((nd * nd * nd * dd4 - 4 * nd * nd * dd1 * dd3
                  + 6 * nd * dd1 * dd1 * dd2 - 3 * dd1 * dd1 * dd1 * dd1)
                 / ((nd * dd2 - dd1 * dd1) * (nd * dd2 - dd1 * dd1)) - 3, 6)
               AS excess_kurtosis
    FROM f
    """,
)
def q_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X174: exact higher-moment sums per group + skewness/kurtosis.

    Distribution shape beyond X52's variance, with the overflow done
    RIGHT: raw power sums explode (n^3 * sum(x^4) passes DECIMAL(38)
    around bench scale), so values are first SHIFTED by the per-group
    integer mean mu0 = s1 DIV n — central moments are shift-invariant,
    and the centered power sums d1..d4 are orders of magnitude
    smaller (d4 ~ n * spread^4, exact in DECIMAL(38)/HUGEINT through
    ~sf100). Those four sums are the hash-pinned exact artifacts
    (d2..d4 as strings — beyond int64 by design). The huge binomial
    combinations m3n3 = n^2 d3 - 3n d1 d2 + 2 d1^3 and m4n4 = n^3 d4
    - ... are NOT materialized as integers; skewness = m3n3/m2n2^1.5
    and excess kurtosis = m4n4/m2n2^2 - 3 (numpy-verified algebra)
    evaluate in DOUBLE with the identical left-associated expression
    text on both engines — same IEEE ops over bit-identical integer
    inputs, rounded to 6. Two passes (mean, then moments), both
    map-side aggregates; the mean join is a 5-row broadcast.
    """
    o = table(spark, sf_dir, "orders")
    x = F.floor(F.col("o_totalprice")).cast("bigint")
    v = o.select(F.col("o_orderpriority").alias("priority"), x.alias("x"))
    mu = v.groupBy("priority").agg(
        F.expr("SUM(x) DIV COUNT(*)").alias("mu0")
    )
    d = v.join(F.broadcast(mu), "priority").select(
        "priority", (F.col("x") - F.col("mu0")).alias("dx")
    )
    ddx = F.col("dx").cast("decimal(38,0)")
    s = d.groupBy("priority").agg(
        F.count("*").alias("n"),
        F.sum("dx").alias("d1"),
        F.sum(ddx * F.col("dx")).alias("d2"),
        F.sum(ddx * F.col("dx") * F.col("dx")).alias("d3"),
        F.sum(ddx * F.col("dx") * F.col("dx") * F.col("dx")).alias("d4"),
    )
    f = s.select(
        "priority",
        "n",
        "d1",
        "d2",
        "d3",
        "d4",
        F.col("n").cast("double").alias("nd"),
        F.col("d1").cast("double").alias("dd1"),
        F.col("d2").cast("double").alias("dd2"),
        F.col("d3").cast("double").alias("dd3"),
        F.col("d4").cast("double").alias("dd4"),
    )
    return f.select(
        "priority",
        F.col("n").cast("bigint").alias("n"),
        F.col("d1").cast("bigint").alias("d1"),
        F.col("d2").cast("string").alias("d2"),
        F.col("d3").cast("string").alias("d3"),
        F.col("d4").cast("string").alias("d4"),
        F.round(
            F.expr(
                "(nd * dd3 * nd - 3 * nd * dd1 * dd2"
                " + 2 * dd1 * dd1 * dd1)"
                " / POW(nd * dd2 - dd1 * dd1, 1.5)"
            ),
            6,
        ).alias("skewness"),
        F.round(
            F.expr(
                "(nd * nd * nd * dd4 - 4 * nd * nd * dd1 * dd3"
                " + 6 * nd * dd1 * dd1 * dd2 - 3 * dd1 * dd1 * dd1 * dd1)"
                " / ((nd * dd2 - dd1 * dd1) * (nd * dd2 - dd1 * dd1)) - 3"
            ),
            6,
        ).alias("excess_kurtosis"),
    )


@register(
    "q_winsorized_mean",
    oracle="""
    WITH v AS (
        SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS centi
        FROM orders
    ),
    r AS (
        SELECT centi, ROW_NUMBER() OVER (ORDER BY centi) AS rn,
               COUNT(*) OVER () AS n
        FROM v
    ),
    lo AS (SELECT MIN(centi) AS lo FROM r WHERE 100 * rn >= 5 * n),
    hi AS (SELECT MIN(centi) AS hi FROM r WHERE 100 * rn >= 95 * n)
    SELECT (SELECT CAST(MIN(n) AS BIGINT) FROM r) AS n,
           (SELECT CAST(lo AS BIGINT) FROM lo) AS lo_centi,
           (SELECT CAST(hi AS BIGINT) FROM hi) AS hi_centi,
           (SELECT CAST(SUM(centi) // MIN(n) AS BIGINT) FROM r)
               AS mean_centi,
           (SELECT CAST(SUM(GREATEST((SELECT lo FROM lo),
                                     LEAST((SELECT hi FROM hi), centi)))
                        // MIN(n) AS BIGINT) FROM r)
               AS winsor_mean_centi
    """,
)
def q_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X183: winsorized mean (p5/p95 clamp) — quantile-operator reuse.

    The robust mean heavy-tailed money columns need: clamp every value
    into [p5, p95] (lower quantiles, the X166 definition) and average
    exactly. The clamp bounds come from
    operators/cumulative.ordered_quantiles — the histogram-prune path,
    so finding them costs two scans and NO fact shuffle — broadcast
    back as a 2-value row; the clamped sum is one more scan-local
    aggregate with a truncating division. The oracle spells the same
    bounds via the definitional global rank. Three fact scans total,
    zero shuffles of fact rows; compare X96's MAD for the
    deviation-based robust sibling.
    """
    from laser_hadoop_spark.operators.cumulative import ordered_quantiles

    o = table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("centi")
    )
    qs = ordered_quantiles(
        o, value_col="centi", quantiles=[(5, 100), (95, 100)]
    )
    bounds = (
        qs.groupBy()
        .pivot("q_num", [5, 95])
        .agg(F.min("quantile_value"))
        .select(
            F.col("`5`").alias("lo"),
            F.col("`95`").alias("hi"),
        )
    )
    clamped = o.crossJoin(F.broadcast(bounds))
    return clamped.agg(
        F.count("*").alias("n"),
        F.min("lo").cast("bigint").alias("lo_centi"),
        F.min("hi").cast("bigint").alias("hi_centi"),
        F.expr("CAST(SUM(centi) DIV COUNT(*) AS BIGINT)").alias("mean_centi"),
        F.expr(
            "CAST(SUM(GREATEST(lo, LEAST(hi, centi))) DIV COUNT(*)"
            " AS BIGINT)"
        ).alias("winsor_mean_centi"),
    )


@register(
    "q_mean_family",
    oracle="""
    WITH v AS (
        SELECT o_orderpriority AS priority,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS centi
        FROM orders WHERE FLOOR(o_totalprice * 100 + 0.5) >= 1
    ),
    m AS (
        SELECT priority,
               CAST(centi AS BIGINT) AS centi,
               CAST(ROUND(LOG10(CAST(centi AS DOUBLE)) * 1000000) AS BIGINT)
                   AS log_micro,
               CAST(ROUND(1e12 / centi) AS BIGINT) AS inv_pico
        FROM v
    )
    SELECT priority, COUNT(*) AS n,
           CAST(SUM(centi) // COUNT(*) AS BIGINT) AS arith_centi,
           CAST(SUM(log_micro) // COUNT(*) AS BIGINT) AS mean_log_micro,
           CAST(SUM(inv_pico) AS BIGINT) AS sum_inv_pico,
           ROUND(POW(10, CAST(SUM(log_micro) // COUNT(*) AS DOUBLE)
                         / 1000000) / 100, 2) AS geo_mean_dollars,
           ROUND(CAST(COUNT(*) AS DOUBLE) * 1e12
                 / CAST(SUM(inv_pico) AS DOUBLE) / 100, 2)
               AS harm_mean_dollars
    FROM m GROUP BY priority
    """,
)
def q_mean_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X185: geometric + harmonic means, hash-exact to the last step.

    The mean family beyond the arithmetic (AM >= GM >= HM — a free
    sanity ordering in the output): per-value log10 and reciprocal are
    each micro/pico-rounded to integers BEFORE any aggregation (the
    q_text_lm_score discipline — float summation order can never
    differ because only integers are summed); the hash-pinned columns
    are those integer sums, and the two human-readable dollar means
    take one POW/division step each from identical integer inputs.
    Geometric mean prices the typical order under multiplicative
    spread; harmonic prices average-rate problems. Scan-local
    projections + one aggregate.
    """
    o = table(spark, sf_dir, "orders")
    centi = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    # guard on the FIXED-POINT domain (centi >= 1), not the raw float:
    # a price in (0, 0.005) floors to centi 0 — LOG10(0) aborts DuckDB
    # while Spark NULLs, an engine divergence
    m = o.where(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)) >= 1
    ).select(
        F.col("o_orderpriority").alias("priority"),
        centi.alias("centi"),
        F.round(F.log10(centi.cast("double")) * 1_000_000)
        .cast("bigint")
        .alias("log_micro"),
        F.round(F.lit(1e12) / centi).cast("bigint").alias("inv_pico"),
    )
    return m.groupBy("priority").agg(
        F.count("*").alias("n"),
        F.expr("CAST(SUM(centi) DIV COUNT(*) AS BIGINT)").alias(
            "arith_centi"
        ),
        F.expr("CAST(SUM(log_micro) DIV COUNT(*) AS BIGINT)").alias(
            "mean_log_micro"
        ),
        F.sum("inv_pico").cast("bigint").alias("sum_inv_pico"),
        F.round(
            F.pow(
                F.lit(10.0),
                F.expr("CAST(SUM(log_micro) DIV COUNT(*) AS DOUBLE)")
                / 1_000_000,
            )
            / 100,
            2,
        ).alias("geo_mean_dollars"),
        F.round(
            F.count("*").cast("double")
            * 1e12
            / F.sum("inv_pico").cast("double")
            / 100,
            2,
        ).alias("harm_mean_dollars"),
    )


# --- X218: deterministic Poisson bootstrap CI ------------------------------

# Inverse-CDF thresholds for Poisson(1) scaled to the 24-bit hash space
# [0, 16^6): c = #{t : t <= u} gives P(c=k) = Poisson(1) pmf to within
# 2^-24. Both engines share these integer constants, so the "random"
# resample counts are identical bit-for-bit.
_POIS_T = (6171993, 12343986, 15429982, 16458648, 16715814, 16767247, 16775819)
_N_REPS = 32


def _pois_case(u_expr: str) -> str:
    """CASE expression mapping a 24-bit uniform to a Poisson(1) count."""
    branches = " ".join(
        f"WHEN {u_expr} < {t} THEN {k}" for k, t in enumerate(_POIS_T)
    )
    return f"(CASE {branches} ELSE {len(_POIS_T)} END)"


def _pois_case_hex(s_expr: str) -> str:
    """_pois_case with the draw kept as its 6-char lowercase-hex digest
    slice: equal-width lowercase hex compares lexicographically exactly
    like the 24-bit number it spells, so the thresholds become string
    literals and the per-draw conv(…, 16, 10) disappears (round 12 —
    the q_relabel_test finding; the 32 radix conversions per row were
    the scan's second-biggest cost after md5 itself)."""
    branches = " ".join(
        f"WHEN {s_expr} < '{t:06x}' THEN {k}" for k, t in enumerate(_POIS_T)
    )
    return f"(CASE {branches} ELSE {len(_POIS_T)} END)"


def _bootstrap_oracle() -> str:
    # 5 independent 24-bit uniforms per 128-bit digest: replicate r
    # reads hex chars [6*(r%5)+1 .. +6] of md5(key || '|' || r DIV 5)
    # — 7 md5 evaluations per row instead of 32 (same draws both
    # engines; the md5 work dominates the whole query)
    u = (
        "('0x' || substring(md5(CAST(o_orderkey AS VARCHAR) || '|' "
        "|| CAST(r // 5 AS VARCHAR)), 6 * (r % 5) + 1, 6))::BIGINT"
    )
    return f"""
    WITH base AS (
        SELECT o_orderkey,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders
    ),
    reps AS (SELECT UNNEST(generate_series(0, {_N_REPS - 1})) AS r),
    drawn AS (
        SELECT r, {_pois_case(u)} AS c, cents
        FROM base CROSS JOIN reps
    ),
    agg AS (
        SELECT r, CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(c * cents) AS BIGINT) AS s
        FROM drawn GROUP BY r
    ),
    means AS (SELECT r, s // n AS mean FROM agg),
    ranked AS (
        SELECT mean, ROW_NUMBER() OVER (ORDER BY mean, r) AS rk FROM means
    ),
    pt AS (
        SELECT CAST(SUM(cents) // COUNT(*) AS BIGINT) AS point_mean FROM base
    )
    SELECT CAST(pt.point_mean AS BIGINT) AS point_mean_cents,
           CAST(MIN(CASE WHEN rk = 2 THEN mean END) AS BIGINT) AS ci_lo_cents,
           CAST(MIN(CASE WHEN rk = {_N_REPS - 1} THEN mean END) AS BIGINT)
               AS ci_hi_cents,
           CAST({_N_REPS} AS INT) AS n_replicates
    FROM ranked CROSS JOIN pt GROUP BY pt.point_mean
    """


@register("q_bootstrap_ci", oracle=_bootstrap_oracle())
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X218: deterministic Poisson-bootstrap confidence interval for the
    mean order value, exactly verified.

    The Poisson bootstrap is the ONLY bootstrap that works at 100 TB:
    instead of materializing B resamples, every row independently
    contributes a Poisson(1)-distributed count to each replicate, so
    all B replicate sums come out of ONE scan with map-side combine.
    Here the counts are derived from md5 via shared inverse-CDF integer
    thresholds (not an RNG), so both engines draw identical resamples
    and the whole "randomized" procedure is hash-verifiable. The CI is
    the 2nd/31st order statistic of the 32 replicate means (~94% CI).

    100 TB: the 32 replicates are 64 conditional-sum aggregate columns
    in a single scan-local pass — the x32 resample rows NEVER exist
    (X114's fanout-free discipline); everything after the first
    aggregate is a 32-row relation.
    """
    # The 32 per-replicate md5 draws dominate; a single-file scan runs
    # them in ONE task. Repartition the 16-byte projection first so the
    # hash work spreads across the cluster (q_minhash_signatures' fix;
    # measured 4.2 s -> sub-second at sf0.1 on 32 cores). Round 13:
    # spread_scan — hash partitioning on the unique key instead of
    # round-robin (no sortBeforeRepartition pass, deterministic under
    # retry), guarded no-op once the scan has >= cores splits.
    o = spread_scan(
        table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
        "o_orderkey",
    )
    # Round 12: the 7 digests are PROJECTED once per row before the
    # aggregate (the q_relabel_test discipline — inline md5 inside each
    # of the 64 aggregate expressions defeats codegen subexpression
    # elimination across aggregates), and each draw stays a 6-char hex
    # SLICE compared against hex-literal thresholds (_pois_case_hex)
    # instead of a conv(…, 16, 10) radix conversion. Together:
    # 1.66 -> 0.95 s noop at sf0.1, identical draws.
    # Round 13: expressions built as SQL strings (the q_relabel_test
    # plan-build lesson — nested Column chains for 7 digests + 64 wide
    # aggregates are py4j-bound plan BUILD time inside the timed fn()).
    digests = [
        f"md5(concat(CAST(o_orderkey AS STRING), '|{j}')) AS m{j}"
        for j in range((_N_REPS + 4) // 5)
    ]
    base = o.selectExpr(
        "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents", *digests
    )
    aggs = [
        F.expr("COUNT(*) AS point_n"),
        F.expr("SUM(cents) AS point_s"),
    ]
    for r in range(_N_REPS):
        u = f"substring(m{r // 5}, {6 * (r % 5) + 1}, 6)"
        c = _pois_case_hex(u)
        aggs.append(F.expr(f"SUM({c}) AS n_{r}"))
        aggs.append(F.expr(f"SUM({c} * cents) AS s_{r}"))
    one = base.agg(*aggs)
    stack_args = ", ".join(f"'{r}', n_{r}, s_{r}" for r in range(_N_REPS))
    reps = one.selectExpr(
        "point_s DIV point_n AS point_mean",
        f"stack({_N_REPS}, {stack_args}) AS (r, n, s)",
    ).select(
        "point_mean",
        F.col("r").cast("int").alias("r"),
        F.expr("s DIV n").alias("mean"),
    )
    rk = F.row_number().over(Window.orderBy("mean", "r"))
    ranked = reps.select("point_mean", "mean", rk.alias("rk"))
    return (
        ranked.groupBy(
            F.col("point_mean").cast("bigint").alias("point_mean_cents")
        )
        .agg(
            F.min(F.when(F.col("rk") == 2, F.col("mean")))
            .cast("bigint")
            .alias("ci_lo_cents"),
            F.min(F.when(F.col("rk") == _N_REPS - 1, F.col("mean")))
            .cast("bigint")
            .alias("ci_hi_cents"),
        )
        .select(
            "point_mean_cents",
            "ci_lo_cents",
            "ci_hi_cents",
            F.lit(_N_REPS).cast("int").alias("n_replicates"),
        )
    )


# --- X286: normal QQ table -----------------------------------------------------

# Phi^{-1}(i/20) in micro, i = 1..19 — pinned literals (the spec)
_QQ_Z_MICRO = [
    -1644854, -1281552, -1036433, -841621, -674490, -524401, -385320,
    -253347, -125661, 0, 125661, 253347, 385320, 524401, 674490,
    841621, 1036433, 1281552, 1644854,
]


@register(
    "q_qq_table",
    oracle=f"""
    WITH base AS (
        SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v
        FROM orders
    ),
    vals AS (SELECT v, COUNT(*) AS ct FROM base GROUP BY v),
    cum AS (
        SELECT v, SUM(ct) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                                PRECEDING AND CURRENT ROW) AS cw
        FROM vals
    ),
    tot AS (SELECT COUNT(*) AS n FROM base),
    grid AS (
        SELECT UNNEST(generate_series(1, 19)) AS i
    )
    SELECT CAST(g.i AS BIGINT) AS vigintile,
           CAST([{", ".join(str(z) for z in _QQ_Z_MICRO)}][g.i] AS BIGINT)
               AS z_micro,
           CAST(MIN(c.v) AS BIGINT) AS sample_q_cents
    FROM grid g CROSS JOIN tot t
    JOIN cum c ON 20 * c.cw >= g.i * t.n
    GROUP BY g.i
    """,
)
def q_qq_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X286: normal QQ table — empirical vigintiles vs pinned normal
    quantiles.

    The normality diagnostic as data: the 19 exact empirical
    vigintiles of order value (smallest v with 20*cum >= i*n — the
    X166 lower-quantile spec) paired with Phi^-1(i/20) pinned as
    micro-integer literals, so the whole table is engine-exact with
    no erf evaluation anywhere. A straight line in (z, q) means
    normal; the heavy upper tail of order values shows as upward
    curvature. The Spark side reuses `ordered_quantiles` — all 19
    quantiles from ONE histogram pass + ONE pruned scan, zero fact
    shuffles (the oracle spells the same spec as a cumulative walk).

    100 TB shape: two scan-shaped passes total (histogram + crossing
    buckets), broadcast literals, 19-row output.
    """
    from laser_hadoop_spark.operators.cumulative import ordered_quantiles

    base = table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("v")
    )
    q = ordered_quantiles(
        base, value_col="v", quantiles=[(i, 20) for i in range(1, 20)]
    )
    z = F.array(*[F.lit(z) for z in _QQ_Z_MICRO])
    return q.select(
        F.col("q_num").cast("bigint").alias("vigintile"),
        F.element_at(z, F.col("q_num").cast("int"))
        .cast("bigint")
        .alias("z_micro"),
        F.col("quantile_value").cast("bigint").alias("sample_q_cents"),
    )


# --- X295: isotonic (PAV) calibration ----------------------------------------

_CAL_BINS_SQL = """
    v AS (
        SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label,
               NTILE(10) OVER (ORDER BY CAST(FLOOR(value * 100 + 0.5)
                                             AS BIGINT), event_id) AS bin
        FROM events
    ),
    bins AS (
        SELECT bin, COUNT(*) AS n, SUM(label) AS pos
        FROM v GROUP BY bin
    ),
    cums AS (
        SELECT bin, n, pos,
               SUM(n) OVER (ORDER BY bin) AS cn,
               SUM(pos) OVER (ORDER BY bin) AS cpos
        FROM bins
    ),
    pairs AS (
        SELECT j.bin AS j, k.bin AS k,
               10000 * (k.cpos - (j.cpos - j.pos))
                   // (k.cn - (j.cn - j.n)) AS avg_bp
        FROM cums j JOIN cums k ON j.bin <= k.bin
    ),
    inner_min AS (
        SELECT i.bin AS i, p.j, MIN(p.avg_bp) AS min_bp
        FROM bins i JOIN pairs p ON p.j <= i.bin AND p.k >= i.bin
        GROUP BY 1, 2
    )
"""


@register(
    "q_isotonic_fit",
    oracle="WITH "
    + _CAL_BINS_SQL
    + """
    SELECT CAST(m.i AS INT) AS bin,
           CAST(b.n AS BIGINT) AS n,
           CAST(b.pos AS BIGINT) AS n_pos,
           CAST(10000 * b.pos // b.n AS BIGINT) AS raw_bp,
           CAST(MAX(m.min_bp) AS BIGINT) AS fit_bp
    FROM inner_min m JOIN bins b ON b.bin = m.i
    GROUP BY 1, 2, 3, 4
    ORDER BY 1
    """,
)
def q_isotonic_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X295: isotonic regression (PAV) via the minimax closed form.

    Over X154's score-decile reliability table, the isotonic fit at
    bin i is max_{j<=i} min_{k>=i} avg(pos)/avg(n) over the block
    [j..k] — the minimax characterization of pool-adjacent-violators,
    which needs no sequential pooling loop: with only 10 bins the
    (i,j,k) triple space is 220 rows of pure integer arithmetic
    (block rates in basis points via integer DIV on prefix-sum
    differences). The fact-scale work is X118's closed-form ntile
    (no single-partition window over events); everything after the
    10-row bin table is constant-size.

    100 TB: one two-pass global rank (ordered_cumsum) + one decile
    aggregate; the PAV itself runs on a calendar-of-10 relation.
    """
    e = table(spark, sf_dir, "events")
    v = e.select(
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("score"),
        (F.col("event_type") == "purchase").cast("bigint").alias("label"),
        "event_id",
    )
    ranked = ordered_cumsum(v, order_by=["score", "event_id"], row_number_col="rn")
    n_row = v.agg(F.count("*").alias("n"))
    bin_ = closed_form_ntile()
    # the 10-row bin table is referenced four times below (cums j/k,
    # the i probe, the final join) — checkpoint it eagerly so the
    # fact-scale rank+aggregate upstream runs ONCE, not per reference
    bins = (
        ranked.crossJoin(F.broadcast(n_row))
        .select("label", bin_.cast("int").alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("n"), F.sum("label").alias("pos"))
        .localCheckpoint(eager=True)
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cums = bins.select(
        "bin",
        "n",
        "pos",
        F.sum("n").over(w).alias("cn"),
        F.sum("pos").over(w).alias("cpos"),
    )
    j, k = cums.alias("j"), cums.alias("k")
    p_num = 10000 * (F.col("k.cpos") - (F.col("j.cpos") - F.col("j.pos")))
    p_den = F.col("k.cn") - (F.col("j.cn") - F.col("j.n"))
    pairs = j.join(F.broadcast(k), F.col("j.bin") <= F.col("k.bin")).select(
        F.col("j.bin").alias("j"),
        F.col("k.bin").alias("k"),
        ((p_num - p_num % p_den) / p_den).cast("bigint").alias("avg_bp"),
    )
    i = bins.alias("i")
    inner = (
        i.join(
            F.broadcast(pairs),
            (F.col("j") <= F.col("i.bin")) & (F.col("k") >= F.col("i.bin")),
        )
        .groupBy(F.col("i.bin").alias("i"), "j")
        .agg(F.min("avg_bp").alias("min_bp"))
    )
    raw = 10000 * F.col("pos")
    return (
        inner.groupBy("i")
        .agg(F.max("min_bp").cast("bigint").alias("fit_bp"))
        .join(bins, F.col("i") == F.col("bin"))
        .select(
            F.col("i").cast("int").alias("bin"),
            F.col("n").cast("bigint").alias("n"),
            F.col("pos").cast("bigint").alias("n_pos"),
            ((raw - raw % F.col("n")) / F.col("n")).cast("bigint").alias("raw_bp"),
            "fit_bp",
        )
        .orderBy("bin")
    )


# --- X318: Weibull median-rank fit -------------------------------------------


@register(
    "q_weibull_fit",
    oracle="""
    WITH seq AS (
        SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
               LAG(CAST(o_orderdate AS DATE)) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
                   AS prev_d
        FROM orders
    ),
    durs AS (
        SELECT o_custkey, d, date_diff('day', prev_d, d) AS dur
        FROM seq WHERE prev_d IS NOT NULL
          AND date_diff('day', prev_d, d) > 0
    ),
    ranked AS (
        SELECT dur,
               ROW_NUMBER() OVER (ORDER BY dur, o_custkey, d) AS i,
               COUNT(*) OVER () AS n
        FROM durs
    ),
    pts AS (
        SELECT CAST(ROUND(1000000 * LN(CAST(dur AS DOUBLE))) AS BIGINT) AS x,
               CAST(ROUND(1000000 * LN(-LN(1 - (i - 0.3) / (n + 0.4))))
                    AS BIGINT) AS y
        FROM ranked
    ),
    moms AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(CAST(x AS DOUBLE) * y) AS sxy,
               SUM(CAST(x AS DOUBLE) * x) AS sxx
        FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(ROUND(1000 * (n * sxy - CAST(sx AS DOUBLE) * sy)
                      / (n * sxx - CAST(sx AS DOUBLE) * sx)) AS BIGINT)
               AS shape_milli,
           CAST(ROUND((CAST(sy AS DOUBLE)
                       - (n * sxy - CAST(sx AS DOUBLE) * sy)
                         / (n * sxx - CAST(sx AS DOUBLE) * sx) * sx)
                      / n / 1000.0) AS BIGINT) AS intercept_milli
    FROM moms
    """,
)
def q_weibull_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X318: Weibull shape/scale by median-rank regression.

    The reliability engineer's closed-form fit: inter-purchase
    intervals as "times to failure", Benard plotting positions
    F_i = (i - 0.3)/(n + 0.4) on the ORDERED sample, then OLS of
    ln(-ln(1-F)) on ln(t) — the slope IS the Weibull shape k, the
    intercept gives ln(scale) = -b/k. No iteration (vs the MLE's
    Newton loop). Each point's two logs micro-round first, the four
    moment sums are exact integers (products in double only inside
    the final expressions, spelled identically), and the global rank
    comes from the two-pass cumulative — no single-partition window
    over the interval relation.

    100 TB: per-customer lag needs one shuffle on custkey; ranking is
    ordered_cumsum's two-pass; everything after is one aggregate.
    """
    o = table(spark, sf_dir, "orders")
    w_seq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        F.lag(F.col("o_orderdate").cast("date")).over(w_seq).alias("prev_d"),
    )
    durs = seq.where(
        F.col("prev_d").isNotNull() & (F.datediff("d", "prev_d") > 0)
    ).select("o_custkey", "d", F.datediff("d", "prev_d").alias("dur"))
    ranked = ordered_cumsum(
        durs, order_by=["dur", "o_custkey", "d"], row_number_col="i"
    )
    n_row = durs.agg(F.count("*").alias("n"))
    pts = ranked.crossJoin(F.broadcast(n_row)).select(
        F.round(1000000 * F.log(F.col("dur").cast("double")))
        .cast("bigint")
        .alias("x"),
        F.round(
            1000000
            * F.log(
                -F.log(1 - (F.col("i") - 0.3) / (F.col("n") + 0.4))
            )
        )
        .cast("bigint")
        .alias("y"),
    )
    moms = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("double") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("double") * F.col("x")).alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    slope = (n * F.col("sxy") - sx.cast("double") * sy) / (
        n * F.col("sxx") - sx.cast("double") * sx
    )
    return moms.select(
        n.cast("bigint").alias("n"),
        F.round(1000 * slope).cast("bigint").alias("shape_milli"),
        F.round((sy.cast("double") - slope * sx) / n / 1000.0)
        .cast("bigint")
        .alias("intercept_milli"),
    )


# --- X330: L-moments ----------------------------------------------------------


@register(
    "q_l_moments",
    oracle="""
    WITH pts AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderkey
        FROM orders
    ),
    ranked AS (
        SELECT cents,
               CAST(ROW_NUMBER() OVER (ORDER BY cents, o_orderkey)
                    AS BIGINT) AS i
        FROM pts
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pts),
    terms AS (
        SELECT r.cents,
               CAST(ROUND((CAST((r.i - 1) AS DOUBLE) / (nn.n - 1))
                          * (r.cents * 1000000)) AS BIGINT) AS t1,
               CAST(ROUND((CAST((r.i - 1) * (r.i - 2) AS DOUBLE)
                           / ((nn.n - 1) * (nn.n - 2)))
                          * (r.cents * 1000000)) AS BIGINT) AS t2,
               CAST(ROUND((CAST((r.i - 1) * (r.i - 2) * (r.i - 3) AS DOUBLE)
                           / ((nn.n - 1) * (nn.n - 2) * (nn.n - 3)))
                          * (r.cents * 1000000)) AS BIGINT) AS t3
        FROM ranked r CROSS JOIN nn
    ),
    sums AS (
        SELECT SUM(cents * 1000000) AS s0, SUM(t1) AS s1,
               SUM(t2) AS s2, SUM(t3) AS s3
        FROM terms
    )
    SELECT nn.n,
           CAST(ROUND(CAST(sums.s0 AS DOUBLE) / nn.n) AS BIGINT)
               AS l1_micro,
           CAST(ROUND(CAST(2 * sums.s1 - sums.s0 AS DOUBLE) / nn.n)
                AS BIGINT) AS l2_micro,
           CAST(ROUND(CAST(6 * sums.s2 - 6 * sums.s1 + sums.s0 AS DOUBLE)
                      / nn.n) AS BIGINT) AS l3_micro,
           CAST(ROUND(CAST(20 * sums.s3 - 30 * sums.s2 + 12 * sums.s1
                           - sums.s0 AS DOUBLE) / nn.n) AS BIGINT)
               AS l4_micro,
           CAST(ROUND(1000000.0
                      * CAST(6 * sums.s2 - 6 * sums.s1 + sums.s0 AS DOUBLE)
                      / CAST(2 * sums.s1 - sums.s0 AS DOUBLE)) AS BIGINT)
               AS lskew_micro,
           CAST(ROUND(1000000.0
                      * CAST(20 * sums.s3 - 30 * sums.s2 + 12 * sums.s1
                             - sums.s0 AS DOUBLE)
                      / CAST(2 * sums.s1 - sums.s0 AS DOUBLE)) AS BIGINT)
               AS lkurt_micro
    FROM sums CROSS JOIN nn
    """,
)
def q_l_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X330: first four L-moments + L-skewness / L-kurtosis, exact.

    The order-statistic moment family (Hosking 1990): lambda1=b0,
    lambda2=2b1-b0, lambda3=6b2-6b1+b0, lambda4=20b3-30b2+12b1-b0 with
    b_r the unbiased probability-weighted moments. Where X174's
    classical skew/kurtosis are dominated by a handful of extreme
    orders, the L-ratios are bounded in [-1,1] and exist whenever the
    mean does — the robust shape summary hydrology standardized on.
    Each per-point binomial weight is ONE float division of exact
    integer products, micro-scaled against the cents value and rounded
    (X318's plotting-position discipline); the b_r sums ride as
    wide-decimal integers so lambda combinations stay exact until the
    final division.

    100 TB: the global rank is ordered_cumsum's two-pass range
    partitioning (zero single-partition windows); everything after is
    one 1-row aggregate.
    """
    o = table(spark, sf_dir, "orders")
    pts = o.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        "o_orderkey",
    )
    ranked = ordered_cumsum(
        pts, order_by=["cents", "o_orderkey"], row_number_col="i"
    ).select("cents", F.col("i").cast("bigint").alias("i"))
    nn = F.broadcast(pts.agg(F.count("*").cast("bigint").alias("n")))
    t = ranked.crossJoin(nn)
    i, n, cents = F.col("i"), F.col("n"), F.col("cents")
    micro = cents * F.lit(1000000)
    terms = t.select(
        "n",
        micro.alias("m0"),
        F.round(((i - 1).cast("double") / (n - 1)) * micro)
        .cast("bigint")
        .alias("t1"),
        F.round(
            (((i - 1) * (i - 2)).cast("double") / ((n - 1) * (n - 2))) * micro
        )
        .cast("bigint")
        .alias("t2"),
        F.round(
            (((i - 1) * (i - 2) * (i - 3)).cast("double")
             / ((n - 1) * (n - 2) * (n - 3)))
            * micro
        )
        .cast("bigint")
        .alias("t3"),
    )
    dec = "decimal(38,0)"
    sums = terms.groupBy("n").agg(
        F.sum(F.col("m0").cast(dec)).alias("s0"),
        F.sum(F.col("t1").cast(dec)).alias("s1"),
        F.sum(F.col("t2").cast(dec)).alias("s2"),
        F.sum(F.col("t3").cast(dec)).alias("s3"),
    )
    s0, s1, s2, s3 = F.col("s0"), F.col("s1"), F.col("s2"), F.col("s3")
    l2_num = (2 * s1 - s0).cast("double")
    l3_num = (6 * s2 - 6 * s1 + s0).cast("double")
    l4_num = (20 * s3 - 30 * s2 + 12 * s1 - s0).cast("double")
    return sums.select(
        "n",
        F.round(s0.cast("double") / F.col("n")).cast("bigint").alias("l1_micro"),
        F.round(l2_num / F.col("n")).cast("bigint").alias("l2_micro"),
        F.round(l3_num / F.col("n")).cast("bigint").alias("l3_micro"),
        F.round(l4_num / F.col("n")).cast("bigint").alias("l4_micro"),
        F.round(F.lit(1000000.0) * l3_num / l2_num)
        .cast("bigint")
        .alias("lskew_micro"),
        F.round(F.lit(1000000.0) * l4_num / l2_num)
        .cast("bigint")
        .alias("lkurt_micro"),
    )


# --- X337: zero-inflated Poisson moment fit ----------------------------------


@register(
    "q_zip_fit",
    oracle="""
    WITH per_user AS (
        SELECT u.user_id,
               CAST(COALESCE(p.k, 0) AS BIGINT) AS k
        FROM (SELECT DISTINCT user_id FROM events) u
        LEFT JOIN (SELECT user_id, COUNT(*) AS k FROM events
                   WHERE event_type = 'purchase' GROUP BY user_id) p
          ON p.user_id = u.user_id
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(k) AS BIGINT) AS s1,
               CAST(SUM(k * k) AS BIGINT) AS s2,
               CAST(SUM(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_zero
        FROM per_user
    )
    SELECT n, s1, s2, n_zero,
           CAST(ROUND(1000000.0 * (s2 - s1) / s1) AS BIGINT)
               AS lambda_micro,
           CAST(ROUND(1000000.0
                      * (1 - CAST(s1 * s1 AS DOUBLE) / (n * (s2 - s1))))
                AS BIGINT) AS pi_micro,
           CAST(ROUND(10000.0 * n_zero / n) AS BIGINT) AS observed_zero_bp,
           CAST(ROUND(10000.0
                      * ((1 - CAST(s1 * s1 AS DOUBLE) / (n * (s2 - s1)))
                         + (CAST(s1 * s1 AS DOUBLE) / (n * (s2 - s1)))
                           * EXP(-(CAST(s2 - s1 AS DOUBLE) / s1))))
                AS BIGINT) AS fitted_zero_bp
    FROM s
    """,
)
def q_zip_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X337: zero-inflated Poisson fit by closed-form moments.

    Per-user purchase counts (zeros included — the users the zero
    inflation models): method of moments gives lambda = (S2-S1)/S1
    and pi = 1 - S1^2/(n(S2-S1)) in closed form — no EM iteration
    anywhere. The fitted zero mass pi + (1-pi)e^-lambda against the
    observed zero share is the one-glance goodness check (a gap means
    the excess-zeros story is wrong). Moment sums are exact integers;
    lambda/pi are one float division each, the fitted zero one EXP of
    an identical double on both engines.

    100 TB: one user-grain aggregate, 1-row output.
    """
    e = table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("k")
    )
    s = per_user.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("s1"),
        F.sum(F.col("k") * F.col("k")).cast("bigint").alias("s2"),
        F.sum(F.when(F.col("k") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    pi_d = F.lit(1) - (s1 * s1).cast("double") / (n * (s2 - s1))
    lam_d = (s2 - s1).cast("double") / s1
    return s.select(
        "n",
        "s1",
        "s2",
        "n_zero",
        F.round(F.lit(1000000.0) * (s2 - s1) / s1)
        .cast("bigint")
        .alias("lambda_micro"),
        F.round(F.lit(1000000.0) * pi_d).cast("bigint").alias("pi_micro"),
        F.round(F.lit(10000.0) * F.col("n_zero") / n)
        .cast("bigint")
        .alias("observed_zero_bp"),
        F.round(
            F.lit(10000.0) * (pi_d + (F.lit(1) - pi_d) * F.exp(-lam_d))
        )
        .cast("bigint")
        .alias("fitted_zero_bp"),
    )


# ln(-ln(1 - 1/20)) as ONE shared literal: both engines consume the
# same double, so libm differences in LN can never flip the hash.
_R20 = _math.log(-_math.log(1.0 - 1.0 / 20))


@register(
    "q_gumbel_fit",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev
        FROM orders GROUP BY 1
    ),
    blocks AS (
        SELECT date_trunc('week', d) AS wk, MAX(rev) AS m
        FROM daily GROUP BY 1
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(m) AS s1, SUM(m * m) AS s2
        FROM blocks
    ),
    fit AS (
        SELECT n,
               CAST(ROUND(1000000.0 * SQRT(6.0 * CAST(n * s2 - s1 * s1
                                                      AS DOUBLE))
                          / (PI() * n)) AS BIGINT) AS beta_micro,
               CAST(s1 AS BIGINT) AS s1b
        FROM s
    )
    SELECT n, beta_micro,
           CAST(ROUND(1000000.0 * s1b / n
                      - 0.5772156649015329 * beta_micro) AS BIGINT)
               AS mu_micro,
           CAST(ROUND(1000000.0 * s1b / n
                      - 0.5772156649015329 * beta_micro
                      - {_R20!r} * beta_micro) AS BIGINT)
               AS return20_micro
    FROM fit
    """,
)
def q_gumbel_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X340: Gumbel (EV1) fit of weekly revenue maxima + return level.

    Block maxima (weekly max of daily revenue cents) fitted by the
    method of moments: beta = sqrt(6) sd / pi, mu = mean - gamma beta
    (Euler-Mascheroni), plus the 20-week return level mu - beta
    ln(-ln(1 - 1/20)) — the "worst week we should expect per ~5
    months" number capacity planning quotes. Moment sums ride exact
    (HUGEINT / wide-decimal — rev^2 sums overflow int64 at sf0.1);
    beta is one float expression micro-rounded FIRST, so mu and the
    return level are float expressions of already-exact integers.

    100 TB: daily aggregate, weekly max, 1-row moments — the whole
    fit is three partial-aggregate shuffles, no windows.
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev")
    )
    blocks = daily.groupBy(F.date_trunc("week", "d").alias("wk")).agg(
        F.max("rev").alias("m")
    )
    dec = "decimal(38,0)"
    s = blocks.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("m").cast(dec)).alias("s1"),
        F.sum(F.col("m").cast(dec) * F.col("m")).alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    fit = s.select(
        "n",
        F.round(
            F.lit(1000000.0)
            * F.sqrt(F.lit(6.0) * (n * s2 - s1 * s1).cast("double"))
            / (F.lit(3.141592653589793) * n)
        )
        .cast("bigint")
        .alias("beta_micro"),
        s1.cast("bigint").alias("s1b"),
    )
    gamma = F.lit(0.5772156649015329)
    r20 = F.lit(_R20)
    mean_micro = F.lit(1000000.0) * F.col("s1b") / F.col("n")
    return fit.select(
        "n",
        "beta_micro",
        F.round(mean_micro - gamma * F.col("beta_micro"))
        .cast("bigint")
        .alias("mu_micro"),
        F.round(
            mean_micro - gamma * F.col("beta_micro") - r20 * F.col("beta_micro")
        )
        .cast("bigint")
        .alias("return20_micro"),
    )


# --- X341: Huber robust location ---------------------------------------------


@register(
    "q_huber_location",
    oracle="""
    WITH pts AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) * 1000000 AS x
        FROM orders
    ),
    s0 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS s1,
               SUM(x // 1000000) AS sc1,
               SUM((x // 1000000) * (x // 1000000)) AS s2c
        FROM pts
    ),
    init AS (
        SELECT n,
               CAST(ROUND(CAST(s1 AS DOUBLE) / n) AS BIGINT) AS m0,
               CAST(ROUND(1345000.0 * SQRT(CAST(n * s2c - sc1 * sc1
                                                AS DOUBLE))
                          / n) AS BIGINT) AS k
        FROM s0
    ),
    it1 AS (
        SELECT i.n, i.k,
               CAST(ROUND(1000000.0 * CAST(SUM(w * (x // 1000000)) AS DOUBLE)
                          / SUM(w)) AS BIGINT) AS m1
        FROM (SELECT p.x,
                     CAST(ROUND(1000.0 * LEAST(1.0,
                          CAST(i.k AS DOUBLE) / ABS(p.x - i.m0))) AS BIGINT)
                         AS w
              FROM pts p CROSS JOIN init i) t
        CROSS JOIN init i
        GROUP BY i.n, i.k
    ),
    it2 AS (
        SELECT i1.n,
               CAST(ROUND(1000000.0 * CAST(SUM(w * (x // 1000000)) AS DOUBLE)
                          / SUM(w)) AS BIGINT) AS m2,
               CAST(SUM(CASE WHEN w < 1000 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_down
        FROM (SELECT p.x,
                     CAST(ROUND(1000.0 * LEAST(1.0,
                          CAST(i1.k AS DOUBLE) / ABS(p.x - i1.m1)))
                          AS BIGINT) AS w
              FROM pts p CROSS JOIN it1 i1) t
        CROSS JOIN it1 i1
        GROUP BY i1.n
    )
    SELECT i.n,
           CAST(ROUND(CAST((SELECT s1 FROM s0) AS DOUBLE)
                      / i.n) AS BIGINT) AS mean_micro,
           i1.m1 AS m1_micro, i2.m2 AS m2_micro, i2.n_down
    FROM init i CROSS JOIN it1 i1 CROSS JOIN it2 i2
    """,
)
def q_huber_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X341: Huber M-estimator of location, two IRLS rounds unrolled.

    The outlier-resistant mean between X183's winsorized mean (hard
    clip) and X96's MAD (pure rank): start at the mean, set the Huber
    k = 1.345 sigma (the 95%-efficiency tuning constant), then twice
    reweight w = min(1, k/|x - m|) and take the weighted mean. Each
    weight milli-rounds FIRST (integer w in 0..1000), so both
    weighted means are exact integer-sum ratios with one float
    division — the IRLS iteration is hash-reproducible (X320/X339
    discipline). n_down reports how many orders the final round
    downweights: the outlier budget.

    100 TB: three scans of the cents relation (moments, round 1,
    round 2), each a partial-aggregate; the 1-row center broadcasts.
    """
    o = table(spark, sf_dir, "orders")
    pts = o.select(
        (F.round(F.col("o_totalprice") * 100).cast("bigint") * 1000000).alias(
            "x"
        )
    )
    dec = "decimal(38,0)"
    s0 = pts.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("x").cast(dec)).alias("s1"),
        F.sum(F.expr("x div 1000000").cast(dec)).alias("sc1"),
        F.sum(
            F.expr("x div 1000000").cast(dec) * F.expr("x div 1000000")
        ).alias("s2c"),
    )
    n, s1 = F.col("n"), F.col("s1")
    init = F.broadcast(
        s0.select(
            "n",
            "s1",
            F.round(s1.cast("double") / n).cast("bigint").alias("m0"),
            F.round(
                F.lit(1345000.0)
                * F.sqrt(
                    (
                        n * F.col("s2c") - F.col("sc1") * F.col("sc1")
                    ).cast("double")
                )
                / n
            )
            .cast("bigint")
            .alias("k"),
        )
    )

    def irls(prev: DataFrame, m_col: str):
        w = F.round(
            F.lit(1000.0)
            * F.least(
                F.lit(1.0),
                F.col("k").cast("double") / F.abs(F.col("x") - F.col(m_col)),
            )
        ).cast("bigint")
        return (
            pts.crossJoin(prev)
            .select(
                "n",
                "k",
                "s1",
                F.expr("x div 1000000").alias("xc"),
                w.alias("w"),
            )
            .groupBy("n", "k", "s1")
            .agg(
                F.round(
                    F.lit(1000000.0)
                    * F.sum(F.col("w").cast(dec) * F.col("xc")).cast("double")
                    / F.sum("w")
                )
                .cast("bigint")
                .alias("m_new"),
                F.sum(F.when(F.col("w") < 1000, 1).otherwise(0))
                .cast("bigint")
                .alias("n_down"),
            )
        )

    it1 = F.broadcast(
        irls(init, "m0").select(
            "n", "k", "s1", F.col("m_new").alias("m1")
        ).localCheckpoint(eager=True)
    )
    it2 = irls(it1, "m1").select(
        "n",
        "s1",
        F.col("m_new").alias("m2"),
        "n_down",
    )
    return it2.join(it1.select("n", "m1"), "n").select(
        "n",
        F.round(F.col("s1").cast("double") / F.col("n"))
        .cast("bigint")
        .alias("mean_micro"),
        F.col("m1").alias("m1_micro"),
        F.col("m2").alias("m2_micro"),
        "n_down",
    )


# --- X342: Weiszfeld geometric median ----------------------------------------

_GM_HASH_LAT = "(('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 1, 6))::BIGINT % 120 - 60)"
_GM_HASH_LON = "(('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 9, 6))::BIGINT % 360 - 180)"

_GM_ITER_SQL = """
    it{K} AS (
        SELECT CAST(ROUND(CAST(SUM(w * xm) AS DOUBLE) / SUM(w)) AS BIGINT)
                   AS mx,
               CAST(ROUND(CAST(SUM(w * ym) AS DOUBLE) / SUM(w)) AS BIGINT)
                   AS my
        FROM (SELECT p.xm, p.ym,
                     CAST(ROUND(1000000000.0
                          / GREATEST(SQRT(CAST((p.xm - i.mx) * (p.xm - i.mx)
                                + (p.ym - i.my) * (p.ym - i.my) AS DOUBLE)),
                                     1.0)) AS BIGINT) AS w
              FROM pts p CROSS JOIN it{P} i) t
    )"""


@register(
    "q_geometric_median",
    oracle=f"""
    WITH pts AS (
        SELECT {_GM_HASH_LAT} * 1000000 AS xm,
               {_GM_HASH_LON} * 1000000 AS ym
        FROM customer
    ),
    it0 AS (
        SELECT CAST(ROUND(CAST(SUM(xm) AS DOUBLE) / COUNT(*)) AS BIGINT)
                   AS mx,
               CAST(ROUND(CAST(SUM(ym) AS DOUBLE) / COUNT(*)) AS BIGINT)
                   AS my
        FROM pts
    ),
    {_GM_ITER_SQL.format(K=1, P=0)},
    {_GM_ITER_SQL.format(K=2, P=1)},
    {_GM_ITER_SQL.format(K=3, P=2)},
    audit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(
                   SQRT(CAST((p.xm - i.mx) * (p.xm - i.mx)
                             + (p.ym - i.my) * (p.ym - i.my) AS DOUBLE))
                   ) AS BIGINT)) AS BIGINT) AS total_dist_micro
        FROM pts p CROSS JOIN it3 i
    )
    SELECT a.n, i.mx AS gm_lat_micro, i.my AS gm_lon_micro,
           a.total_dist_micro
    FROM it3 i CROSS JOIN audit a
    """,
)
def q_geometric_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X342: 2D geometric median by three unrolled Weiszfeld rounds.

    The L1 spatial center (facility-location optimum) of the X278
    hash-synthesized customer coordinates: start at the centroid,
    then three rounds of m <- sum(x/d) / sum(1/d). Per-point inverse
    distances nano-round FIRST (with a 1-micro-degree floor so a
    point sitting ON the center can't blow up the weight — the
    standard Weiszfeld guard), making every round two exact
    wide-integer ratios — the X320/X339/X341 fixed-point iteration
    discipline applied to a genuinely 2D iteration. The audit column
    is the total distance at the final center: the quantity Weiszfeld
    is provably non-increasing on.

    100 TB: each round is one scan + 1-row aggregate with the center
    broadcast; nothing ever shuffles the point set.
    """
    c = table(spark, sf_dir, "customer")
    lat = (
        F.conv(F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        % 120
        - 60
    )
    lon = (
        F.conv(F.substring(F.md5(F.col("c_custkey").cast("string")), 9, 6), 16, 10)
        .cast("bigint")
        % 360
        - 180
    )
    pts = c.select(
        (lat * 1000000).alias("xm"), (lon * 1000000).alias("ym")
    ).localCheckpoint(eager=True)
    dec = "decimal(38,0)"
    it = F.broadcast(
        pts.agg(
            F.round(F.sum(F.col("xm").cast(dec)).cast("double") / F.count("*"))
            .cast("bigint")
            .alias("mx"),
            F.round(F.sum(F.col("ym").cast(dec)).cast("double") / F.count("*"))
            .cast("bigint")
            .alias("my"),
        )
    )
    for _ in range(3):
        d = F.sqrt(
            (
                (F.col("xm") - F.col("mx")) * (F.col("xm") - F.col("mx"))
                + (F.col("ym") - F.col("my")) * (F.col("ym") - F.col("my"))
            ).cast("double")
        )
        w = F.round(F.lit(1000000000.0) / F.greatest(d, F.lit(1.0))).cast(
            "bigint"
        )
        it = F.broadcast(
            pts.crossJoin(it)
            .select("xm", "ym", w.alias("w"))
            .agg(
                F.round(
                    F.sum(F.col("w").cast(dec) * F.col("xm")).cast("double")
                    / F.sum("w")
                )
                .cast("bigint")
                .alias("mx"),
                F.round(
                    F.sum(F.col("w").cast(dec) * F.col("ym")).cast("double")
                    / F.sum("w")
                )
                .cast("bigint")
                .alias("my"),
            )
            .localCheckpoint(eager=True)
        )
    d3 = F.sqrt(
        (
            (F.col("xm") - F.col("mx")) * (F.col("xm") - F.col("mx"))
            + (F.col("ym") - F.col("my")) * (F.col("ym") - F.col("my"))
        ).cast("double")
    )
    audit = pts.crossJoin(it).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.round(d3).cast("bigint")).cast("bigint").alias(
            "total_dist_micro"
        ),
    )
    return audit.crossJoin(it).select(
        "n",
        F.col("mx").alias("gm_lat_micro"),
        F.col("my").alias("gm_lon_micro"),
        "total_dist_micro",
    )


# --- X343: importance-weight ESS audit ---------------------------------------


@register(
    "q_ess_weights",
    oracle="""
    WITH per_src AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s
        FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS big_n,
                   CAST(COUNT(*) AS BIGINT) AS k FROM per_src),
    weights AS (
        SELECT p.source, p.n_s,
               CAST(ROUND(1000000.0 * t.big_n / (t.k * p.n_s)) AS BIGINT)
                   AS w_micro
        FROM per_src p CROSS JOIN tot t
    ),
    caps(clip_label, cap) AS (VALUES ('none', 9223372036854775807),
                                     ('2x', 2000000), ('5x', 5000000)),
    clipped AS (
        SELECT c.clip_label,
               SUM(w.n_s * LEAST(w.w_micro, c.cap)) AS sw,
               SUM(w.n_s * LEAST(w.w_micro, c.cap)
                   * LEAST(w.w_micro, c.cap)) AS sw2,
               CAST(SUM(CASE WHEN w.w_micro > c.cap THEN w.n_s
                             ELSE 0 END) AS BIGINT) AS n_clipped,
               MAX(t.big_n) AS big_n
        FROM weights w CROSS JOIN caps c CROSS JOIN tot t
        GROUP BY c.clip_label
    )
    SELECT clip_label,
           CAST(ROUND(1000.0 * CAST(sw AS DOUBLE) * sw / sw2) AS BIGINT)
               AS ess_milli,
           CAST(ROUND(10000.0 * n_clipped / big_n) AS BIGINT)
               AS clipped_bp
    FROM clipped ORDER BY clip_label
    """,
)
def q_ess_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X343: effective sample size of importance weights, 3 clip levels.

    Reweighting the corpus to uniform-over-sources gives every doc of
    source s the weight N/(k n_s); ESS = (sum w)^2 / sum w^2 says how
    many samples the weighted corpus is WORTH (Kish). Clipping at 2x
    and 5x trades bias for ESS — the exact tradeoff table a curator
    reads before applying X136's mixture reweight or X155's DSIR
    weights. Per-source weights micro-round once; all ESS sums are
    then exact integers expanded by the per-source counts (never a
    per-doc relation), with one float division per row.

    100 TB: one |sources|-row aggregate; the clip grid is a 3-row
    broadcast — the whole audit never touches per-doc data again.
    """
    d = table(spark, sf_dir, "documents")
    # feeds both the total and the weight branch — checkpoint so the
    # corpus scans once
    per_src = (
        d.groupBy("source")
        .agg(F.count("*").cast("bigint").alias("n_s"))
        .localCheckpoint(eager=True)
    )
    tot = per_src.agg(
        F.sum("n_s").cast("bigint").alias("big_n"),
        F.count("*").cast("bigint").alias("k"),
    )
    weights = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_s",
        "big_n",
        F.round(
            F.lit(1000000.0) * F.col("big_n") / (F.col("k") * F.col("n_s"))
        )
        .cast("bigint")
        .alias("w_micro"),
    )
    caps = spark.createDataFrame(
        [("none", 9223372036854775807), ("2x", 2000000), ("5x", 5000000)],
        "clip_label string, cap long",
    )
    wc = F.least(F.col("w_micro"), F.col("cap"))
    clipped = (
        weights.crossJoin(F.broadcast(caps))
        .groupBy("clip_label")
        .agg(
            F.sum((F.col("n_s") * wc).cast("decimal(38,0)")).alias("sw"),
            F.sum(F.col("n_s").cast("decimal(38,0)") * wc * wc).alias("sw2"),
            F.sum(
                F.when(F.col("w_micro") > F.col("cap"), F.col("n_s")).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("n_clipped"),
            F.max("big_n").alias("big_n"),
        )
    )
    return clipped.select(
        "clip_label",
        F.round(
            F.lit(1000.0) * F.col("sw").cast("double") * F.col("sw") / F.col("sw2")
        )
        .cast("bigint")
        .alias("ess_milli"),
        F.round(F.lit(10000.0) * F.col("n_clipped") / F.col("big_n"))
        .cast("bigint")
        .alias("clipped_bp"),
    ).orderBy("clip_label")


# --- X348: one-pass Pearson correlation matrix -------------------------------


@register(
    "q_corr_matrix",
    oracle="""
    WITH m AS (
        SELECT CAST(l_quantity AS BIGINT) AS qty,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price,
               CAST(ROUND(l_discount * 10000) AS BIGINT) AS disc,
               CAST(ROUND(l_tax * 10000) AS BIGINT) AS tax
        FROM lineitem
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(qty) AS s_q, SUM(price) AS s_p,
               SUM(disc) AS s_d, SUM(tax) AS s_t,
               SUM(qty * qty) AS s_qq, SUM(price * price) AS s_pp,
               SUM(disc * disc) AS s_dd, SUM(tax * tax) AS s_tt,
               SUM(qty * price) AS s_qp, SUM(qty * disc) AS s_qd,
               SUM(qty * tax) AS s_qt, SUM(price * disc) AS s_pd,
               SUM(price * tax) AS s_pt, SUM(disc * tax) AS s_dt
        FROM m
    )
    SELECT col_x, col_y,
           CAST(ROUND(1000000.0 * CAST(num AS DOUBLE)
                      / (SQRT(CAST(dx AS DOUBLE)) * SQRT(CAST(dy AS DOUBLE))))
                AS BIGINT) AS corr_micro
    FROM (
        SELECT 'qty' AS col_x, 'price' AS col_y,
               n * s_qp - s_q * s_p AS num,
               n * s_qq - s_q * s_q AS dx, n * s_pp - s_p * s_p AS dy
        FROM s
        UNION ALL
        SELECT 'qty', 'disc', n * s_qd - s_q * s_d,
               n * s_qq - s_q * s_q, n * s_dd - s_d * s_d FROM s
        UNION ALL
        SELECT 'qty', 'tax', n * s_qt - s_q * s_t,
               n * s_qq - s_q * s_q, n * s_tt - s_t * s_t FROM s
        UNION ALL
        SELECT 'price', 'disc', n * s_pd - s_p * s_d,
               n * s_pp - s_p * s_p, n * s_dd - s_d * s_d FROM s
        UNION ALL
        SELECT 'price', 'tax', n * s_pt - s_p * s_t,
               n * s_pp - s_p * s_p, n * s_tt - s_t * s_t FROM s
        UNION ALL
        SELECT 'disc', 'tax', n * s_dt - s_d * s_t,
               n * s_dd - s_d * s_d, n * s_tt - s_t * s_t FROM s
    )
    ORDER BY col_x, col_y
    """,
)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X348: exact Pearson correlation matrix from ONE scan.

    All six pairwise correlations of the four lineitem measures
    (quantity, price cents, discount bp, tax bp) from a single pass's
    14 moment sums — the data-profiling primitive feature selection
    (X233) and X52's regression start from, generalized to the full
    matrix without rescanning per pair. Sums ride wide-decimal (the
    price*price sum overflows int64 at sf0.1); each correlation is
    ONE float expression over exact integers, micro-rounded.

    100 TB: one partial-aggregate scan; the 6-row matrix is built by
    exploding a literal array over the 1-row moment relation.
    """
    li = table(spark, sf_dir, "lineitem")
    m = li.select(
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price"),
        F.round(F.col("l_discount") * 10000).cast("bigint").alias("disc"),
        F.round(F.col("l_tax") * 10000).cast("bigint").alias("tax"),
    )
    dec = "decimal(38,0)"
    names = ["q", "p", "d", "t"]
    cols = {"q": "qty", "p": "price", "d": "disc", "t": "tax"}
    aggs = [F.count("*").cast("bigint").alias("n")]
    for x in names:
        aggs.append(F.sum(F.col(cols[x]).cast(dec)).alias(f"s_{x}"))
    for i, x in enumerate(names):
        for y in names[i:]:
            aggs.append(
                F.sum(F.col(cols[x]).cast(dec) * F.col(cols[y])).alias(
                    f"s_{x}{y}"
                )
            )
    s = m.agg(*aggs)
    pairs = [("q", "p"), ("q", "d"), ("q", "t"), ("p", "d"), ("p", "t"), ("d", "t")]
    label = {"q": "qty", "p": "price", "d": "disc", "t": "tax"}
    n = F.col("n")
    structs = []
    for x, y in pairs:
        num = n * F.col(f"s_{x}{y}") - F.col(f"s_{x}") * F.col(f"s_{y}")
        dx = n * F.col(f"s_{x}{x}") - F.col(f"s_{x}") * F.col(f"s_{x}")
        dy = n * F.col(f"s_{y}{y}") - F.col(f"s_{y}") * F.col(f"s_{y}")
        structs.append(
            F.struct(
                F.lit(label[x]).alias("col_x"),
                F.lit(label[y]).alias("col_y"),
                F.round(
                    F.lit(1000000.0)
                    * num.cast("double")
                    / (F.sqrt(dx.cast("double")) * F.sqrt(dy.cast("double")))
                )
                .cast("bigint")
                .alias("corr_micro"),
            )
        )
    return (
        s.select(F.explode(F.array(*structs)).alias("r"))
        .select("r.*")
        .orderBy("col_x", "col_y")
    )


# --- X355: historical VaR + expected shortfall ---------------------------------


@register(
    "q_var_es",
    oracle="""
    WITH daily AS (
        SELECT o_orderpriority AS pri, o_orderdate AS d,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev
        FROM orders GROUP BY 1, 2
    ),
    rets AS (
        SELECT pri,
               (rev - LAG(rev) OVER w) * 10000 // LAG(rev) OVER w AS ret_bp
        FROM daily WINDOW w AS (PARTITION BY pri ORDER BY d)
        QUALIFY LAG(rev) OVER w IS NOT NULL
    ),
    var_ AS (
        SELECT pri,
               CAST(quantile_disc(ret_bp, 0.05) AS BIGINT) AS var_bp,
               CAST(COUNT(*) AS BIGINT) AS n_days
        FROM rets GROUP BY pri
    ),
    es AS (
        SELECT r.pri,
               CAST(SUM(r.ret_bp) // COUNT(*) AS BIGINT) AS es_bp
        FROM rets r JOIN var_ v ON v.pri = r.pri
        WHERE r.ret_bp <= v.var_bp
        GROUP BY r.pri
    )
    SELECT v.pri, v.var_bp, e.es_bp, v.n_days
    FROM var_ v JOIN es e ON e.pri = v.pri
    ORDER BY v.pri
    """,
)
def q_var_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X355: historical 95% value-at-risk + expected shortfall per
    priority class — the tail-risk pair (X347's realized volatility is
    the dispersion number; VaR/ES are the regulatory tail numbers, and
    ES is the coherent one). Day-over-day revenue returns in exact
    truncating basis points; VaR = the exact 5th-percentile return
    (percentile_disc — a real order statistic, no interpolation to
    diverge between engines), ES = the truncating integer mean of the
    returns at or below it.

    100 TB: one daily (pri, date) partial aggregate; returns are a
    per-priority lag window over the calendar-bounded series; the
    quantile is percentile_disc on that same bounded relation.
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("pri"), F.col("o_orderdate").alias("d")
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("rev"))
    w = Window.partitionBy("pri").orderBy("d")
    prev = F.lag("rev").over(w)
    rets = (
        daily.select(
            "pri", ((F.col("rev") - prev) * 10000).alias("num"), prev.alias("den")
        )
        .where(F.col("den").isNotNull())
        .select("pri", F.expr("num DIV den").alias("ret_bp"))
    )
    var_ = rets.groupBy("pri").agg(
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY ret_bp)")
        .cast("bigint")
        .alias("var_bp"),
        F.count("*").cast("bigint").alias("n_days"),
    )
    es = (
        rets.join(F.broadcast(var_.select("pri", "var_bp")), "pri")
        .where(F.col("ret_bp") <= F.col("var_bp"))
        .groupBy("pri")
        .agg(F.expr("CAST(SUM(ret_bp) DIV COUNT(*) AS BIGINT)").alias("es_bp"))
    )
    return (
        var_.join(es, "pri")
        .select("pri", "var_bp", "es_bp", "n_days")
        .orderBy("pri")
    )


# --- X357: Hodges-Lehmann pseudomedian ------------------------------------------


@register(
    "q_hodges_lehmann",
    oracle="""
    WITH daily AS (
        SELECT o_orderdate AS d,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev
        FROM orders GROUP BY 1
    ),
    walsh AS (
        SELECT (a.rev + b.rev) // 2 AS w
        FROM daily a JOIN daily b ON a.d <= b.d
    ),
    census AS (SELECT w, COUNT(*) AS c FROM walsh GROUP BY w),
    tot AS (SELECT SUM(c) AS n FROM census),
    cum AS (
        SELECT w, SUM(c) OVER (ORDER BY w) AS cw FROM census
    )
    -- lower median spelled explicitly (smallest w with 2*cw >= n):
    -- no builtin quantile convention to diverge between engines
    SELECT CAST(MIN(w) AS BIGINT) AS hl_centi,
           CAST(t.n AS BIGINT) AS n_pairs
    FROM cum CROSS JOIN tot t
    WHERE 2 * cw >= t.n
    GROUP BY t.n
    """,
)
def q_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X357: Hodges-Lehmann one-sample pseudomedian of daily revenue —
    the location estimator dual to the Wilcoxon test (X356): the
    median of all Walsh averages (x_i + x_j)/2, i <= j. ~30% more
    statistically efficient than the plain median under near-normal
    data, breakdown point 29% — the robust-location family member
    next to Weiszfeld (spatial, X342) and Huber (iterative, X341),
    closed-form here.

    Walsh pairs live on the CALENDAR-BOUNDED daily aggregate (~2.4k
    rows at sf0.1 -> ~2.9M pairs — the q_theil_sen bounded-series
    self-join precedent); the pair mean floors exactly (both revs
    positive). The median is the EXPLICIT lower order statistic
    (smallest w with 2*cum >= n) through ordered_weighted_quantile's
    histogram pruning — the first spelling used percentile_disc, a
    holistic aggregate that funnelled all 2.9M Walsh rows into one
    task's sort (measured 9.8 s warm at sf0.1; 2.1 s after).

    100 TB: one daily partial aggregate; the quadratic stage is bound
    by the date domain, never fact rows; the quantile never shuffles
    the pair relation (two scan-shaped histogram passes). Although
    daily is referenced four times downstream (both self-join sides x
    the quantile's two passes), AQE exchange reuse largely
    deduplicates it (3 ReusedExchange in the final plan) — probed
    round 8: an eager localCheckpoint here was NO faster at
    10x-orders-same-calendar (3.57 -> 3.52 s end-to-end) and 49%
    SLOWER at sf0.1 (1.35 -> 2.01 s, the blocking materialization
    defeats pipelining), so the declarative spelling stands
    (PERF_NOTES.md round 8, "calendar-boundedness under 10x facts";
    contrast q_isotonic_fit, whose checkpoint IS
    load-bearing — its bin table feeds a triple self-join AQE cannot
    dedupe across).
    """
    from laser_hadoop_spark.operators.cumulative import (
        ordered_weighted_quantile,
    )

    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("rev")
    )
    a = daily.select(F.col("d").alias("da"), F.col("rev").alias("ra"))
    b = daily.select(F.col("d").alias("db"), F.col("rev").alias("rb"))
    walsh = a.join(b, F.col("da") <= F.col("db")).select(
        F.expr("(ra + rb) DIV 2").alias("w"), F.lit(1).alias("one")
    )
    q = ordered_weighted_quantile(walsh, value_col="w", weight_col="one")
    return q.select(
        F.col("quantile_value").cast("bigint").alias("hl_centi"),
        F.col("total_weight").cast("bigint").alias("n_pairs"),
    )


# --- X359: grouped (delete-one-group) jackknife ---------------------------------


@register(
    "q_jackknife",
    oracle="""
    WITH v AS (
        SELECT o_orderpriority AS g,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
        FROM orders
    ),
    per_g AS (SELECT g, SUM(v) AS sg, COUNT(*) AS ng FROM v GROUP BY g),
    tot AS (SELECT SUM(sg) AS s, SUM(ng) AS n, COUNT(*) AS k FROM per_g),
    loo AS (
        SELECT g, CAST(1000000 * (t.s - p.sg) // (t.n - p.ng) AS BIGINT)
                      AS theta_loo_micro
        FROM per_g p CROSS JOIN tot t
    ),
    dot AS (SELECT SUM(theta_loo_micro) AS sd, COUNT(*) AS k FROM loo),
    var_ AS (
        SELECT CAST(ROUND(SQRT(
                   (d.k - 1.0) / d.k
                   * SUM(CAST((d.k * l.theta_loo_micro - d.sd) AS DOUBLE)
                         * (d.k * l.theta_loo_micro - d.sd))
                   / (CAST(d.k AS DOUBLE) * d.k))) AS BIGINT) AS jk_se_micro
        FROM loo l CROSS JOIN dot d GROUP BY d.k, d.sd
    )
    SELECT l.g, l.theta_loo_micro, v.jk_se_micro,
           CAST(1000000 * t.s // t.n AS BIGINT) AS theta_micro
    FROM loo l CROSS JOIN var_ v CROSS JOIN tot t
    ORDER BY l.g
    """,
)
def q_jackknife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X359: delete-one-GROUP jackknife for the mean order value —
    the closed-form resampling sibling of the Poisson bootstrap (X218):
    leave each of the 5 priority strata out once, recompute the mean,
    and the spread of the leave-one-out estimates gives the standard
    error WITHOUT any random draws (the survey-statistics grouped
    jackknife, the right tool when units cluster).

    Every theta_(i) is micro-rounded FIRST (one truncating DIV from
    exact centi sums), then the variance works on integers:
    (k*theta_i - sum theta)^2 avoids the float mean; the final sqrt
    is the only float. Output: per-group leave-one-out means + the
    shared jackknife SE + the full-sample mean.

    100 TB: one 5-row partial aggregate — everything else is
    arithmetic on the broadcast 5-row relation.
    """
    o = table(spark, sf_dir, "orders")
    v = o.select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
    )
    per_g = v.groupBy("g").agg(
        F.sum("v").alias("sg"), F.count("*").alias("ng")
    )
    tot = per_g.agg(
        F.sum("sg").alias("s"), F.sum("ng").alias("n"), F.count("*").alias("k")
    )
    loo = per_g.crossJoin(F.broadcast(tot)).select(
        "g",
        F.expr("CAST(1000000 * (s - sg) DIV (n - ng) AS BIGINT)").alias(
            "theta_loo_micro"
        ),
        "s",
        "n",
    )
    dot = loo.agg(
        F.sum("theta_loo_micro").alias("sd"), F.count("*").alias("k")
    )
    var_ = (
        loo.crossJoin(F.broadcast(dot))
        .groupBy("k", "sd")
        .agg(
            F.round(
                F.sqrt(
                    (F.col("k") - F.lit(1.0))
                    / F.col("k")
                    * F.sum(
                        (
                            (F.col("k") * F.col("theta_loo_micro") - F.col("sd"))
                            .cast("double")
                        )
                        * (F.col("k") * F.col("theta_loo_micro") - F.col("sd"))
                    )
                    / (F.col("k").cast("double") * F.col("k"))
                )
            )
            .cast("bigint")
            .alias("jk_se_micro")
        )
    )
    return (
        loo.crossJoin(F.broadcast(var_.select("jk_se_micro")))
        .select(
            "g",
            "theta_loo_micro",
            "jk_se_micro",
            F.expr("CAST(1000000 * s DIV n AS BIGINT)").alias("theta_micro"),
        )
        .orderBy("g")
    )


# --- X370: Hill tail-index estimator ------------------------------------------

_HILL_KS = (100, 300)


def _hill_oracle() -> str:
    branches = []
    for k in _HILL_KS:
        branches.append(f"""
        SELECT {k} AS k,
               (SELECT v FROM ranked WHERE rn = {k} + 1) AS x_ref_centi,
               CAST(1000000000000 * {k} //
                    SUM(lnm_v - (SELECT lnm_v FROM ranked WHERE rn = {k} + 1))
                    AS BIGINT) AS alpha_micro,
               CAST(SUM(lnm_v
                        - (SELECT lnm_v FROM ranked WHERE rn = {k} + 1))
                    AS BIGINT) AS sum_lnr_micro
        FROM ranked WHERE rn <= {k}""")
    union = "\n        UNION ALL".join(branches)
    return f"""
    WITH vals AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v, o_orderkey
        FROM orders
    ),
    ranked AS (
        SELECT v, CAST(ROUND(1000000 * LN(v)) AS BIGINT) AS lnm_v,
               ROW_NUMBER() OVER (ORDER BY v DESC, o_orderkey) AS rn
        FROM vals
        QUALIFY ROW_NUMBER() OVER (ORDER BY v DESC, o_orderkey)
            <= {max(_HILL_KS) + 1}
    )
    SELECT * FROM ({union})
    ORDER BY k
    """


def _hill_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-checkpoint top-(kmax+1) order-statistic relation — the
    PROVABLY BOUNDED input of q_hill_tail's intentionally-global rank
    window. Exposed so tests/test_round10_fixes.py can assert the
    GlobalLimit 301 in-plan (VERDICT_r09 item 6: the WindowExec
    "No Partition Defined" warning this query emits is benign exactly
    because this relation is a 301-row TakeOrdered, and the eager
    localCheckpoint in the query hides that limit from the final
    plan's text)."""
    o = table(spark, sf_dir, "orders")
    vals = o.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
        "o_orderkey",
    )
    kmax = max(_HILL_KS)
    return (
        vals.orderBy(F.desc("v"), "o_orderkey")
        .limit(kmax + 1)
        .select("v", F.round(1000000 * F.log("v")).cast("bigint").alias("lnm_v"))
    )


@register("q_hill_tail", oracle=_hill_oracle())
def q_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X370: Hill estimator of the Pareto tail index of order values,
    at two cutoffs (k=100, 300 — reading alpha's stability across k IS
    the Hill-plot diagnostic). alpha = k / sum_{i<=k} ln(x_(i)/x_(k+1))
    over the top order statistics: each ln micro-rounds BEFORE the
    integer sum (X253's discipline), the ratio is one integer
    division, and the top-(k+1) set is made engine-identical by the
    (value DESC, orderkey) tiebreak. alpha <= 2 would mean infinite
    variance — the existence check for every mean/CI this suite
    reports on the same column.

    100 TB: top-(k+1) is a TakeOrdered (per-partition top-k then a
    k-sized merge — never a global sort); everything after runs on a
    301-row broadcast relation.
    """
    top = _hill_top(spark, sf_dir)
    # rank within the 301-row relation (broadcast-sized — a window
    # here is a single tiny partition by construction, not a funnel
    # of fact data; the TakeOrdered above did the distributed work)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("v"))
    ranked = top.select(
        "v", "lnm_v", F.row_number().over(w).alias("rn")
    ).localCheckpoint(eager=True)
    out = None
    for k in _HILL_KS:
        ref = ranked.where(F.col("rn") == k + 1).select(
            F.col("v").alias("x_ref_centi"), F.col("lnm_v").alias("lnm_ref")
        )
        part = (
            ranked.where(F.col("rn") <= k)
            .crossJoin(F.broadcast(ref))
            .agg(
                F.lit(k).alias("k"),
                F.first("x_ref_centi").alias("x_ref_centi"),
                F.expr(
                    f"CAST(1000000000000 * {k} DIV SUM(lnm_v - lnm_ref)"
                    " AS BIGINT)"
                ).alias("alpha_micro"),
                F.sum(F.col("lnm_v") - F.col("lnm_ref"))
                .cast("bigint")
                .alias("sum_lnr_micro"),
            )
        )
        out = part if out is None else out.unionByName(part)
    return out.orderBy("k")


# --- X373: peaks-over-threshold GPD fit (method of moments) -----------------------


@register(
    "q_gpd_pot",
    oracle="""
    WITH vals AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v FROM orders
    ),
    thr AS (
        SELECT CAST(quantile_disc(v, 0.95) AS BIGINT) AS u FROM vals
    ),
    exc AS (
        SELECT v - t.u AS y FROM vals CROSS JOIN thr t WHERE v > t.u
    ),
    mom AS (
        SELECT COUNT(*) AS n, SUM(y) AS s,
               SUM(CAST(y AS DECIMAL(38,0)) * y) AS q
        FROM exc
    )
    SELECT CAST(t.u AS BIGINT) AS threshold_centi,
           CAST(m.n AS BIGINT) AS n_exceed,
           CAST(m.s // m.n AS BIGINT) AS mean_excess_centi,
           -- MOM: xi = (1 - mean^2/var)/2, beta = mean*(mean^2/var + 1)/2
           CAST(ROUND(1000000 * (1 -
                (CAST(m.s AS DOUBLE) * m.s / m.n)
                / (CAST(m.q AS DOUBLE) - CAST(m.s AS DOUBLE) * m.s / m.n))
                / 2) AS BIGINT) AS xi_micro,
           CAST(ROUND((CAST(m.s AS DOUBLE) / m.n) * (
                (CAST(m.s AS DOUBLE) * m.s / m.n)
                / (CAST(m.q AS DOUBLE) - CAST(m.s AS DOUBLE) * m.s / m.n)
                + 1) / 2) AS BIGINT) AS beta_centi
    FROM mom m CROSS JOIN thr t
    """,
)
def q_gpd_pot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X373: peaks-over-threshold generalized-Pareto fit, method of
    moments — the extreme-value trio's closer: X370's Hill reads the
    tail index off order statistics, X355's VaR/ES read the empirical
    tail, and GPD-POT fits the law that EXTRAPOLATES beyond the
    observed maximum (the Pickands-Balkema-de Haan guarantee: excesses
    over a high threshold converge to GPD regardless of the parent).
    Threshold = exact p95 order statistic; excess moments are exact
    centi/DECIMAL(38) integers; xi and beta come out of the
    closed-form MOM identities with doubles only in the final
    combination (the q_eigen2_closed lesson: every decimal casts to
    double SEPARATELY, no subtractive cancellation in these forms —
    var = q - s^2/n is the one subtraction and it is the dominant
    term, not a near-cancellation, for any dispersed tail).

    100 TB: one percentile pass + one filtered moment scan — both
    partial-aggregated; nothing holistic touches fact rows twice.
    """
    o = table(spark, sf_dir, "orders")
    vals = o.select(F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"))
    thr = vals.agg(
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY v)")
        .cast("bigint")
        .alias("u")
    )
    exc = (
        vals.crossJoin(F.broadcast(thr))
        .where(F.col("v") > F.col("u"))
        .select((F.col("v") - F.col("u")).alias("y"), "u")
    )
    dec = "decimal(38,0)"
    mom = exc.groupBy("u").agg(
        F.count("*").alias("n"),
        F.sum("y").alias("s"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("q"),
    )
    s_d = F.col("s").cast("double")
    q_d = F.col("q").cast("double")
    n_ = F.col("n")
    mean2_over_var = (s_d * F.col("s") / n_) / (q_d - s_d * F.col("s") / n_)
    return mom.select(
        F.col("u").cast("bigint").alias("threshold_centi"),
        n_.cast("bigint").alias("n_exceed"),
        F.expr("CAST(s DIV n AS BIGINT)").alias("mean_excess_centi"),
        F.round(1000000 * (1 - mean2_over_var) / 2)
        .cast("bigint")
        .alias("xi_micro"),
        F.round((s_d / n_) * (mean2_over_var + 1) / 2)
        .cast("bigint")
        .alias("beta_centi"),
    )
