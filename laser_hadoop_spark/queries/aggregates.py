"""Aggregation queries (SURVEY.md §2.4) and the sort/top-k surface (§2.6).

The reference's result channel is Hadoop counters: global counts,
conditional counts, per-batch grouped counts, partial->final merge at
the driver, and TreeSet-based distinct cardinality
(LASERInputCheckMapper.java:176-177,239-251; TRACEInputCheckMapper.java:267-269;
LASERInputValidator.java:142-145). Each becomes a plain Spark aggregate
with automatic partial/final HashAggregate.

The closure adds grouping sets, argmin/argmax, modes, histograms
(fixed-width, equi-depth, log-scale, 2D), approximate and pruned
quantiles, top-k with ties and re-aggregatable partial states.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from laser_hadoop_spark.functions.scalar import money_sum
from laser_hadoop_spark.registry import register
from laser_hadoop_spark.tables import register_views, table


@register(
    "q_partial_final_agg",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 4) AS DOUBLE)
               AS sum_qty,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           ROUND(MIN(l_extendedprice), 4) AS min_price,
           ROUND(MAX(l_extendedprice), 4) AS max_price,
           ROUND(STDDEV_SAMP(l_discount), 4) AS sd_discount
    FROM lineitem
    """,
)
def q_partial_final_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A4/A6/A7: the standard aggregate suite in one scan.

    The reference's per-task counter increments merged at the driver
    (LASERInputValidator.java:142-145) are exactly Spark's partial/final
    HashAggregate — map-side combine, one tiny exchange.
    """
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        money_sum(F.col("l_quantity"), scale=2).alias("sum_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.min("l_extendedprice"), 4).alias("min_price"),
        F.round(F.max("l_extendedprice"), 4).alias("max_price"),
        F.round(F.stddev_samp("l_discount"), 4).alias("sd_discount"),
    )


@register(
    "q_count_conditional",
    oracle="""
    SELECT COUNT(*) AS total_sites,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                AS BIGINT) AS shared_sites,
           CAST(SUM(CASE WHEN l_quantity > 25 AND l_discount > 0.05
                         THEN 1 ELSE 0 END) AS BIGINT) AS flagged
    FROM lineitem
    """,
)
def q_count_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/F14: total + conditional counts in one pass.

    Reference: TOTAL_SITES vs SHARED_SITES counted in the same loop
    (LASERInputCheckMapper.java:239-251).
    """
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("total_sites"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("shared_sites"),
        F.sum(
            F.when((F.col("l_quantity") > 25) & (F.col("l_discount") > 0.05), 1).otherwise(0)
        ).alias("flagged"),
    )


@register(
    "q_grouped_counts",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 4) AS DOUBLE)
               AS total_price
    FROM orders
    GROUP BY o_orderpriority, o_orderstatus
    """,
)
def q_grouped_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: grouped counters keyed by a secondary key.

    Reference: counters keyed per batch/fileId
    (TRACEInputCheckMapper.java:267-269).
    """
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        money_sum(F.col("o_totalprice"), scale=2).alias("total_price"),
    )


@register(
    "q_count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_suppliers,
           COUNT(DISTINCT l_partkey) AS n_parts
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: exact distinct cardinality per group.

    Reference: TreeSet cardinality constraints
    (LASERInputCheckMapper.java:31,136,170-174). Exact distinct is an
    extra shuffle at scale — see q_approx_count_distinct for the 100 TB
    path.
    """
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


@register("q_approx_count_distinct", oracle=None)  # HLL sketch: rows-only check
def q_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: approximate distinct (HyperLogLog++), the 100 TB cardinality path.

    Sketch values differ across engines by construction -> rows-only.
    """
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
    )


@register(
    "q_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 4) AS DOUBLE)
               AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: hierarchical rollup (subtotals + grand total)."""
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        money_sum(F.col("l_quantity"), scale=2).alias("sum_qty"),
    )


@register(
    "q_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 4) AS DOUBLE)
               AS sum_price
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: full cube over two grouping columns."""
    li = table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        money_sum(F.col("l_extendedprice"), scale=2).alias("sum_price"),
    )


@register(
    "q_dedup_exact",
    oracle="SELECT DISTINCT * FROM documents",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10/L1: exact whole-row deduplication (hash aggregate on all cols)."""
    return table(spark, sf_dir, "documents").distinct()


@register(
    "q_order_limit",
    oracle="""
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 4) AS total_price
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def q_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: global top-k (TakeOrderedAndProject — no full sort at scale).

    Ties broken by the unique key so the limit set is deterministic.
    """
    o = table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("total_price"))
        .limit(10)
    )


@register(
    "q_percentile",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 4) AS p50,
           ROUND(quantile_cont(value, 0.95), 4) AS p95,
           ROUND(quantile_cont(value, 0.99), 4) AS p99
    FROM events
    GROUP BY event_type
    """,
)
def q_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (latency-style metrics).

    Spark `percentile` and DuckDB `quantile_cont` share the linear-
    interpolation definition, so values hash-match. Exact percentiles
    sort each group's values — at 100 TB switch to
    `approx_percentile(col, p, accuracy)` (t-digest-style sketch, one
    pass, mergeable partials; engine-specific values -> rows-only
    territory, same trade as q_approx_count_distinct).
    """
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95"),
        F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
    )


@register(
    "q_collect_agg",
    oracle="""
    SELECT c_nationkey,
           array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',')
               AS segments_csv,
           COUNT(DISTINCT c_mktsegment) AS n_segments
    FROM customer
    GROUP BY c_nationkey
    """,
)
def q_collect_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-closure: collection aggregates (collect_set -> sorted CSV).

    Deterministic despite collect_set's arbitrary order: sort_array
    before joining. The scale caveat is documented where it bites —
    collected sets must be small per group (here <=5 segments); for
    unbounded groups the engine form is an explode + groupBy instead.
    """
    c = table(spark, sf_dir, "customer")
    segs = F.sort_array(F.collect_set("c_mktsegment"))
    return c.groupBy("c_nationkey").agg(
        F.array_join(segs, ",").alias("segments_csv"),
        F.count_distinct("c_mktsegment").alias("n_segments"),
    )


@register(
    "q_null_semantics",
    oracle="""
    SELECT n_rows, n_orderkeys, n_rows - n_orderkeys AS n_null_orderkeys,
           n_distinct_status, n_fallback
    FROM (
        SELECT COUNT(*) AS n_rows,
               COUNT(o_orderkey) AS n_orderkeys,
               COUNT(DISTINCT o_orderstatus) AS n_distinct_status,
               CAST(SUM(CASE WHEN COALESCE(o_orderstatus, 'NONE') = 'NONE'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_fallback
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    )
    """,
)
def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL null semantics under an outer join: COUNT(*) vs COUNT(col)
    (null-skipping), null-skipping DISTINCT, and COALESCE fallback
    counting — the exact rules the oracle comparison depends on
    engine-agreement for.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    j = c.join(o, c.c_custkey == o.o_custkey, "left")
    agg = j.agg(
        F.count("*").alias("n_rows"),
        F.count("o_orderkey").alias("n_orderkeys"),
        F.count_distinct("o_orderstatus").alias("n_distinct_status"),
        F.sum(
            F.when(F.coalesce("o_orderstatus", F.lit("NONE")) == "NONE", 1).otherwise(0)
        ).alias("n_fallback"),
    )
    return agg.select(
        "n_rows",
        "n_orderkeys",
        (F.col("n_rows") - F.col("n_orderkeys")).alias("n_null_orderkeys"),
        "n_distinct_status",
        "n_fallback",
    )


@register(
    "q_regression_stats",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS sx,
               SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sy,
               SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)
                   * CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sxy,
               SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)
                   * CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS sxx,
               SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS HUGEINT)
                   * CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS syy
        FROM lineitem
        GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE),
                 4) AS slope,
           ROUND(CAST(CAST(sy AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sxy AS DOUBLE)
                 / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                 / 100.0, 4) AS intercept,
           ROUND(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / SQRT(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                        * CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)),
                 4) AS corr_xy,
           ROUND(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (n - 1)) / 10000.0, 4) AS covar_samp
    FROM s
    """,
)
def q_regression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-closure: exactly-verified second-moment statistics.

    Per-group least-squares slope/intercept, Pearson correlation, and
    sample covariance of (l_quantity, l_extendedprice) — computed NOT
    with the built-in single-pass moment aggregates (regr_slope, corr,
    covar_samp: float accumulation order differs per engine and per
    partitioning, so their last digits are not reproducible) but from
    exact integer power sums in centi-units: n, Σx, Σy, Σxy, Σx², Σy²
    are bigint/decimal-exact and order-independent, and doubles appear
    only in one final IEEE division/sqrt, which is bit-identical on
    both engines. The unit scaling cancels in slope and corr; intercept
    divides by 100, covariance by 100².

    The map-side partial aggregation story is the same as the built-ins
    (six algebraic sums), so this is also the 100 TB-safe formulation:
    no second pass, no Python, one shuffle of six longs per group.
    """
    xc = F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("bigint")
    yc = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
    s = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_returnflag"), xc.alias("xc"), yc.alias("yc"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum("xc").alias("sx"),
            F.sum("yc").alias("sy"),
            F.sum(F.col("xc") * F.col("yc")).alias("sxy"),
            F.sum(F.col("xc") * F.col("xc")).alias("sxx"),
            F.sum((F.col("yc").cast("decimal(38,0)") * F.col("yc"))).alias("syy"),
        )
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num_xy = (dec("n") * F.col("sxy") - dec("sx") * F.col("sy")).cast("double")
    den_xx = (dec("n") * F.col("sxx") - dec("sx") * F.col("sx")).cast("double")
    den_yy = (dec("n") * F.col("syy") - dec("sy") * F.col("sy")).cast("double")
    num_b0 = (dec("sy") * F.col("sxx") - dec("sx") * F.col("sxy")).cast("double")
    return s.select(
        "l_returnflag",
        "n",
        F.round(num_xy / den_xx, 4).alias("slope"),
        F.round(num_b0 / den_xx / F.lit(100.0), 4).alias("intercept"),
        F.round(num_xy / F.sqrt(den_xx * den_yy), 4).alias("corr_xy"),
        F.round(
            num_xy / (F.col("n").cast("double") * (F.col("n") - 1)) / F.lit(10000.0), 4
        ).alias("covar_samp"),
    )


@register(
    "q_hll_sketch",
    oracle="""
    SELECT o_orderpriority AS grp,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
           TRUE AS within_5pct
    FROM orders
    GROUP BY o_orderpriority
    UNION ALL
    SELECT 'ALL', CAST(COUNT(DISTINCT o_custkey) AS BIGINT), TRUE
    FROM orders
    """,
)
def q_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8-closure: mergeable HLL sketches (Datasketches), accuracy-gated.

    Per-priority distinct-customer estimates from hll_sketch_agg, PLUS
    the re-aggregation story that makes sketches the 100 TB path: the
    per-group sketch BINARIES are merged with hll_union_agg into the
    global estimate without touching the raw data again — the rollup
    a second exact count-distinct pass would need the full input for.

    Sketch estimates are engine-specific, so the driver-checkable
    contract is the accuracy gate: each row asserts |est - exact| <=
    5% * exact (HLL lgK=12 gives ~1.6% standard error), and the oracle
    asserts the same exact counts with the flag literally true. A
    drifting or broken sketch implementation flips the flag and fails
    the hash compare; the exact counts pin everything else.
    """
    o = table(spark, sf_dir, "orders")
    per_group = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count_distinct("o_custkey").alias("exact_distinct"),
        F.hll_sketch_agg("o_custkey").alias("sketch"),
    )
    gated = per_group.select(
        "grp",
        "exact_distinct",
        (
            F.abs(
                F.hll_sketch_estimate("sketch")
                - F.col("exact_distinct")
            )
            <= 0.05 * F.col("exact_distinct")
        ).alias("within_5pct"),
    )
    merged = (
        per_group.agg(
            F.hll_union_agg("sketch").alias("sketch"),
            F.sum(F.lit(0)).alias("_z"),
        )
        .crossJoin(
            o.agg(F.count_distinct("o_custkey").alias("exact_distinct"))
        )
        .select(
            F.lit("ALL").alias("grp"),
            "exact_distinct",
            (
                F.abs(F.hll_sketch_estimate("sketch") - F.col("exact_distinct"))
                <= 0.05 * F.col("exact_distinct")
            ).alias("within_5pct"),
        )
    )
    return gated.unionByName(merged)


@register(
    "q_stat_aggs",
    oracle="""
    SELECT l_returnflag,
           ROUND(median(l_quantity), 4) AS med_qty,
           CAST(bit_and(l_linenumber) AS INTEGER) AS band,
           CAST(bit_or(l_linenumber) AS INTEGER) AS bor,
           CAST(bit_xor(l_linenumber) AS INTEGER) AS bxor,
           bool_and(l_quantity >= 1) AS all_positive,
           bool_or(l_quantity > 49) AS any_near_max,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_stat_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-closure: median / bitwise / boolean aggregate surface.

    Exact interpolated median (both engines interpolate even-count
    groups identically — proven by the shared quantile_cont convention
    of q_percentile), bit_and/bit_or/bit_xor over the int line numbers,
    and bool_and/bool_or predicates. All exact values; median is the
    only sort-based aggregate, and its scalable sibling is
    q_approx_percentile's mergeable sketch.
    """
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 4).alias("med_qty"),
        F.bit_and("l_linenumber").alias("band"),
        F.bit_or("l_linenumber").alias("bor"),
        F.bit_xor("l_linenumber").alias("bxor"),
        F.bool_and(F.col("l_quantity") >= 1).alias("all_positive"),
        F.bool_or(F.col("l_quantity") > 49).alias("any_near_max"),
        F.count("*").alias("n"),
    )


@register(
    "q_outlier_count",
    oracle="""
    WITH pts AS (
        SELECT l_returnflag AS grp,
               CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS xc
        FROM lineitem
    ),
    stats AS (
        SELECT grp, COUNT(*) AS n, SUM(xc) AS sx,
               SUM(CAST(xc AS HUGEINT) * xc) AS sxx
        FROM pts GROUP BY grp
    )
    SELECT p.grp,
           CAST(s.n AS BIGINT) AS n,
           CAST(SUM(CASE WHEN CAST(p.xc * s.n - s.sx AS HUGEINT)
                              * (p.xc * s.n - s.sx) * (s.n - 1)
                            > 9 * CAST(s.n AS HUGEINT)
                              * (s.n * s.sxx - CAST(s.sx AS HUGEINT) * s.sx)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(MAX(CASE WHEN CAST(p.xc * s.n - s.sx AS HUGEINT)
                              * (p.xc * s.n - s.sx) * (s.n - 1)
                            > 9 * CAST(s.n AS HUGEINT)
                              * (s.n * s.sxx - CAST(s.sx AS HUGEINT) * s.sx)
                         THEN p.xc END) AS BIGINT) AS max_outlier_centi
    FROM pts p JOIN stats s ON s.grp = p.grp
    GROUP BY p.grp, s.n
    """,
)
def q_outlier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-closure: 3-sigma outlier detection, decided in pure integers.

    |x - mean| > 3*sigma_samp restated with the common denominator
    cleared: (xc*n - sx)^2 * (n-1) > 9 * n * (n*sxx - sx^2), all in
    exact centi-unit integer sums — the outlier decision involves NO
    floating point at all, so there is no boundary row that could flip
    between engines (contrast the usual mean/stddev comparison, where a
    point sitting exactly near 3 sigma is at the mercy of float
    rounding). Two passes by construction (stats, then per-row test) —
    the same shape any production z-score filter has; the stats side is
    six longs per group, broadcast back.
    """
    li = table(spark, sf_dir, "lineitem")
    xc = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
    pts = li.select(F.col("l_returnflag").alias("grp"), xc.alias("xc"))
    stats = pts.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum("xc").alias("sx"),
        F.sum(F.col("xc").cast("decimal(38,0)") * F.col("xc")).alias("sxx"),
    )
    j = pts.join(F.broadcast(stats), "grp")
    dev = F.col("xc") * F.col("n") - F.col("sx")
    lhs = dev.cast("decimal(38,0)") * dev * (F.col("n") - 1)
    rhs = (
        F.lit(9)
        * F.col("n").cast("decimal(38,0)")
        * (F.col("n") * F.col("sxx") - F.col("sx").cast("decimal(38,0)") * F.col("sx"))
    )
    is_out = lhs > rhs
    return j.groupBy("grp", F.col("n").cast("bigint").alias("n")).agg(
        F.sum(F.when(is_out, 1).otherwise(0)).cast("bigint").alias("n_outliers"),
        F.max(F.when(is_out, F.col("xc"))).cast("bigint").alias("max_outlier_centi"),
    ).select("grp", "n", "n_outliers", "max_outlier_centi")


@register(
    "q_mad",
    oracle="""
    WITH med AS (
        SELECT o_orderpriority, median(o_totalprice) AS m
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority,
           ROUND(med.m, 4) AS median_price,
           ROUND(median(ABS(o.o_totalprice - med.m)), 4) AS mad
    FROM orders o JOIN med ON med.o_orderpriority = o.o_orderpriority
    GROUP BY o.o_orderpriority, med.m
    """,
)
def q_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-closure: median absolute deviation (robust dispersion).

    MAD = median(|x - median(x)|) per group — the robust alternative to
    stddev that q_profile_stats/q_regression_stats report. Two exact
    interpolated medians (the proven cross-engine percentile
    definition) with the group median joined back for the second pass.
    Necessarily two passes — MAD has no single-pass algebraic form;
    the approx path substitutes approx_percentile in both passes.
    """
    o = table(spark, sf_dir, "orders")
    med = o.groupBy("o_orderpriority").agg(F.median("o_totalprice").alias("m"))
    return (
        o.join(F.broadcast(med), "o_orderpriority")
        .groupBy("o_orderpriority", "m")
        .agg(
            F.round(F.median(F.abs(F.col("o_totalprice") - F.col("m"))), 4).alias(
                "mad"
            )
        )
        .select(
            "o_orderpriority",
            F.round("m", 4).alias("median_price"),
            "mad",
        )
    )


@register(
    "q_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus) + 2 * GROUPING(o_orderpriority) AS gid,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 4) AS DOUBLE)
               AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: explicit GROUPING SETS (finer than rollup/cube) + GROUPING() ids.

    Multi-level report closure of the reference's per-batch counters
    (TRACEInputCheckMapper.java:267-269) — one Expand + one aggregate,
    not three scans. gid disambiguates real NULLs from subtotal rows.
    """
    register_views(spark, sf_dir, names=("orders",))
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               GROUPING(o_orderstatus) + 2 * GROUPING(o_orderpriority) AS gid,
               COUNT(*) AS n_orders,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 4)
                   AS sum_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """
    )


@register(
    "q_min_max_by",
    oracle="""
    SELECT o_custkey,
           arg_max(o_orderkey, o_totalprice + o_orderkey * 1e-9) AS best_order,
           arg_min(o_orderkey, o_totalprice + o_orderkey * 1e-9) AS worst_order,
           ROUND(MAX(o_totalprice), 4) AS best_price
    FROM orders
    GROUP BY o_custkey
    """,
)
def q_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-closure: argmin/argmax aggregates (max_by/min_by).

    Selecting the row *at* an extreme without a join-back — one partial
    aggregate instead of the agg+self-join the reference pattern would
    need. Price ties are broken deterministically by folding the unique
    o_orderkey into the comparison value at 1e-9 weight (exact in
    doubles at these magnitudes: price ~1e5, ulp ~1e-11 < 1e-9·key).
    """
    o = table(spark, sf_dir, "orders")
    tiebroken = F.col("o_totalprice") + F.col("o_orderkey") * F.lit(1e-9)
    return o.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", tiebroken).alias("best_order"),
        F.min_by("o_orderkey", tiebroken).alias("worst_order"),
        F.round(F.max("o_totalprice"), 4).alias("best_price"),
    )


@register(
    "q_histogram",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 25000) AS BIGINT) AS bin,
           COUNT(*) AS n,
           ROUND(MIN(o_totalprice), 4) AS lo_price,
           ROUND(MAX(o_totalprice), 4) AS hi_price
    FROM orders
    GROUP BY 1
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram binning (floor-divide keys).

    One partial-aggregated scan; bin boundaries are IEEE-identical
    across engines because both compute the same double divide+floor.
    The generalization of the reference's chunk-id math
    (rowIndex / chunkSize, LASERInputCheckMapper.java:155-161) from row
    position to value domain.
    """
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / 25000).cast("bigint").alias("bin")
        ).agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 4).alias("lo_price"),
            F.round(F.max("o_totalprice"), 4).alias("hi_price"),
        )
    )


@register("q_approx_percentile", oracle=None)  # sketch-based: rows-only
def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 companion: approx_percentile (KLL-style sketch) per group.

    The 100 TB path for quantiles: a mergeable bounded-size sketch per
    partition, one tiny exchange — vs q_percentile's exact sort-based
    form. Accuracy vs the exact interpolated percentile is
    pytest-verified (tests/test_operators.py); sketch estimates are
    engine-specific, hence rows-only here. Output is posexploded to one
    row per (priority, quantile) — scalar columns only, because the
    driver's canonicalizer sorts cells and array cells are unhashable.
    """
    o = table(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderpriority").agg(
        F.percentile_approx("o_totalprice", [0.5, 0.9, 0.99], 10_000).alias(
            "approx_pcts"
        ),
        F.count("*").alias("n"),
    )
    return agg.select(
        "o_orderpriority",
        "n",
        F.posexplode("approx_pcts").alias("q_idx", "approx_value"),
    )


@register(
    "q_mode_per_group",
    oracle="""
    WITH counts AS (
        SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
               COUNT(*) AS n_orders
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY c.c_mktsegment, o.o_orderpriority
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY segment
                                     ORDER BY n_orders DESC, priority) AS rn
        FROM counts
    )
    SELECT segment, priority AS mode_priority, n_orders
    FROM ranked WHERE rn = 1
    """,
)
def q_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X107: modal value per group (MODE() aggregate).

    The most frequent order priority per market segment — the mode
    aggregate the suite lacked (min/max/argmin/argmax landed as
    X20). Deterministic tiebreak: highest count, then smallest
    priority string. Two-phase: one (segment, priority) count
    aggregate (partial map-side combine — the 100 TB shape), then a
    row_number window over the tiny 25-row aggregate. One real
    shuffle; the customer dim is broadcast.
    """
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    counts = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count("*").alias("n_orders"))
    )
    w = Window.partitionBy("segment").orderBy(F.desc("n_orders"), F.asc("priority"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("segment", F.col("priority").alias("mode_priority"), "n_orders")
    )


@register(
    "q_equidepth_histogram",
    oracle="""
    WITH v AS (
        SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS centi,
               NTILE(10) OVER (ORDER BY CAST(FLOOR(o_totalprice * 100 + 0.5)
                                             AS BIGINT),
                               o_orderkey) AS bucket
        FROM orders
    )
    SELECT CAST(bucket AS INT) AS bucket, COUNT(*) AS n_orders,
           CAST(MIN(centi) AS BIGINT) AS lo_centi,
           CAST(MAX(centi) AS BIGINT) AS hi_centi
    FROM v GROUP BY bucket
    """,
)
def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X118: equi-depth histogram (10 equal-count buckets).

    Bucket boundaries that equalize row counts rather than value
    ranges — the statistics a cost-based optimizer or a range
    partitioner actually wants on skewed money columns (X24's
    q_histogram is the equi-width sibling). The oracle keeps DuckDB's
    NTILE spelling; the Spark side computes the IDENTICAL bucket
    assignment from a two-pass range-partitioned global rank
    (operators/cumulative.ordered_cumsum — no single-partition window
    anywhere, the 100 TB shape) and ntile's remainder arithmetic:
    with q = n DIV 10, r = n % 10, the first r buckets take q+1 rows.
    Hash equality proves the closed form matches the window function.
    """
    from laser_hadoop_spark.operators.cumulative import (
        closed_form_ntile,
        ordered_cumsum,
    )

    o = table(spark, sf_dir, "orders")
    centi = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    v = o.select(centi.alias("centi"), "o_orderkey")
    ranked = ordered_cumsum(
        v, order_by=["centi", "o_orderkey"], row_number_col="rn"
    )
    n_row = v.agg(F.count("*").alias("n"))
    bucket = closed_form_ntile()
    return (
        ranked.crossJoin(F.broadcast(n_row))
        .select("centi", bucket.cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_orders"),
            F.min("centi").alias("lo_centi"),
            F.max("centi").alias("hi_centi"),
        )
    )


@register(
    "q_incremental_merge",
    oracle="""
    WITH partials AS (
        SELECT o_orderkey % 2 AS batch_id, o_orderpriority AS priority,
               COUNT(*) AS n,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS sum_centi,
               MIN(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS min_centi,
               MAX(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS max_centi
        FROM orders GROUP BY o_orderkey % 2, o_orderpriority
    )
    SELECT priority, CAST(SUM(n) AS BIGINT) AS n,
           CAST(SUM(sum_centi) AS BIGINT) AS sum_centi,
           MIN(min_centi) AS min_centi, MAX(max_centi) AS max_centi,
           CAST(SUM(sum_centi) AS BIGINT) // CAST(SUM(n) AS BIGINT)
               AS avg_centi
    FROM partials GROUP BY priority
    """,
)
def q_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X120: re-aggregatable partial-state merge (incremental rollup).

    The incremental-view-maintenance shape: each ingest batch keeps a
    compact per-key state (n, sum, min, max) and the serving rollup is
    a MERGE of states, never a rescan of history. Batches are
    simulated by o_orderkey parity; the merged result must equal the
    direct aggregate (associativity/commutativity proof — the property
    that makes the state valid at 100 TB where history rescans are
    impossible). Average derives from merged sums via truncating
    integer division. Two narrow aggregates; the second runs over
    2 x |priorities| state rows.
    """
    o = table(spark, sf_dir, "orders")
    centi = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    partials = o.groupBy(
        (F.col("o_orderkey") % 2).alias("batch_id"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(
        F.count("*").alias("n"),
        F.sum(centi).alias("sum_centi"),
        F.min(centi).alias("min_centi"),
        F.max(centi).alias("max_centi"),
    )
    return partials.groupBy("priority").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("sum_centi").cast("bigint").alias("sum_centi"),
        F.min("min_centi").alias("min_centi"),
        F.max("max_centi").alias("max_centi"),
        F.expr(
            "CAST(SUM(sum_centi) AS BIGINT) DIV CAST(SUM(n) AS BIGINT)"
        ).alias("avg_centi"),
    )


@register(
    "q_histogram2d",
    oracle="""
    SELECT CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                // 1000000 AS BIGINT) AS price_bin,
           CAST(CAST(l_quantity AS BIGINT) // 10 AS BIGINT) AS qty_bin,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_centi
    FROM lineitem
    GROUP BY CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) // 1000000,
             CAST(l_quantity AS BIGINT) // 10
    """,
)
def q_histogram2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X129: 2D histogram (price x quantity joint distribution).

    Joint binning — $10k price bins x 10-unit quantity bins with count
    and exact centi mass per cell — the heatmap / copula input X24's
    1D histogram can't provide. Pure scan-local floor-division keys,
    one combine-friendly aggregate; cardinality is bounded by the bin
    grid, not the data.
    """
    li = table(spark, sf_dir, "lineitem")
    centi = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
    return (
        li.select(
            centi.alias("centi"),
            F.col("l_quantity").cast("bigint").alias("qty"),
        )
        .groupBy(
            F.expr("centi DIV 1000000").cast("bigint").alias("price_bin"),
            F.expr("qty DIV 10").cast("bigint").alias("qty_bin"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum("centi").cast("bigint").alias("sum_centi"),
        )
    )


@register(
    "q_topk_with_ties",
    oracle="""
    WITH vals AS (
        SELECT c.c_mktsegment AS segment,
               CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS centi,
               COUNT(*) AS n_orders
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY c.c_mktsegment, CAST(FLOOR(o.o_totalprice * 100 + 0.5)
                                      AS BIGINT)
    ),
    ranked AS (
        SELECT *, DENSE_RANK() OVER (PARTITION BY segment
                                     ORDER BY centi DESC) AS rnk
        FROM vals
    )
    SELECT segment, CAST(rnk AS BIGINT) AS rnk, centi, n_orders
    FROM ranked WHERE rnk <= 3
    """,
)
def q_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X130: top-k WITH TIES (dense_rank semantics).

    The 3 highest distinct order values per segment, KEEPING ties —
    the WITH TIES / dense_rank variant of X-series row_number top-k
    (W3), a genuinely different operator contract (output size is
    data-dependent). Ranking runs on the (segment, value) AGGREGATE
    (distinct values with counts), so the window input is the
    compressed domain, not the fact table; dense_rank over centi desc
    needs no tiebreaker because the partition key + ordering value is
    already unique per row.
    """
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    centi = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    vals = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"), centi.alias("centi")
        )
        .agg(F.count("*").alias("n_orders"))
    )
    w = Window.partitionBy("segment").orderBy(F.desc("centi"))
    return (
        vals.withColumn("rnk", F.dense_rank().over(w).cast("bigint"))
        .where(F.col("rnk") <= 3)
        .select("segment", "rnk", "centi", "n_orders")
    )


_FRACTIONS = [(1, 4), (1, 2), (3, 4), (9, 10), (99, 100)]


@register(
    "q_quantiles_pruned",
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
    q AS (
        SELECT 1 AS num, 4 AS den UNION ALL
        SELECT 1, 2 UNION ALL
        SELECT 3, 4 UNION ALL
        SELECT 9, 10 UNION ALL
        SELECT 99, 100
    )
    SELECT CAST(q.num AS BIGINT) AS q_num, CAST(q.den AS BIGINT) AS q_den,
           CAST(MIN(r.centi) AS BIGINT) AS quantile_value,
           CAST(MIN(r.n) AS BIGINT) AS total_weight
    FROM r JOIN q ON q.den * r.rn >= q.num * r.n
    GROUP BY q.num, q.den
    """,
)
def q_quantiles_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X166: five percentile_disc points, two scans, no fact shuffle.

    p25/p50/p75/p90/p99 of the order value via
    operators/cumulative.ordered_quantiles — ONE fixed-width weight
    histogram (map-side partial aggregation), one cumulative walk over
    the tiny histogram to find each fraction's crossing bucket, one
    pruned re-scan covering the UNION of crossing buckets. The oracle
    is the definitional global-rank spelling (ROW_NUMBER over every
    row — exactly the single-partition plan the operator exists to
    avoid), so hash equality proves the pruning lossless at all five
    fractions at once. k quantiles cost 2 scans, not 2k and not one
    full-table sort: at 100 TB this replaces the classic
    sort-everything percentile job with two column-pruned passes.
    """
    from laser_hadoop_spark.operators.cumulative import ordered_quantiles

    o = table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("centi")
    )
    return ordered_quantiles(
        o, value_col="centi", quantiles=_FRACTIONS
    ).select(
        F.col("q_num").cast("bigint").alias("q_num"),
        F.col("q_den").cast("bigint").alias("q_den"),
        F.col("quantile_value").cast("bigint").alias("quantile_value"),
        F.col("total_weight").cast("bigint").alias("total_weight"),
    )


@register(
    "q_log2_histogram",
    oracle="""
    WITH v AS (
        SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS centi
        FROM orders
    )
    SELECT CAST(length(bin(centi)) - 1 AS INT) AS log2_bucket,
           COUNT(*) AS n_orders,
           CAST(MIN(centi) AS BIGINT) AS lo_centi,
           CAST(MAX(centi) AS BIGINT) AS hi_centi,
           CAST(SUM(centi) AS BIGINT) AS mass_centi
    FROM v GROUP BY log2_bucket
    """,
)
def q_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X167: powers-of-2 (log-scale) histogram of order values.

    The long-tail profile: equi-width bins (X24) starve the tail and
    equi-depth bins (X118) hide magnitude — log2 buckets show both.
    The bucket key floor(log2(x)) is computed as length(bin(x)) - 1,
    the bit length of the value's binary string — PURE integer/string
    arithmetic on both engines, no float log whose rounding could
    flip a 2^k boundary value. Scan-local key + one aggregate.
    """
    o = table(spark, sf_dir, "orders")
    centi = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    v = o.select(centi.alias("centi"))
    bucket = (F.length(F.bin("centi")) - 1).cast("int")
    return v.groupBy(bucket.alias("log2_bucket")).agg(
        F.count("*").alias("n_orders"),
        F.min("centi").cast("bigint").alias("lo_centi"),
        F.max("centi").cast("bigint").alias("hi_centi"),
        F.sum("centi").cast("bigint").alias("mass_centi"),
    )
