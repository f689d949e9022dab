"""Time-series queries over daily revenue and event-count series.

Smoothing and decomposition (EWMA, rolling medians, STL, Haar), serial
dependence (ACF, cross-correlation, Durbin-Watson), changepoints and
anomalies (CUSUM, binary segmentation, Page-Hinkley, Hampel, control
charts, matrix profile), trend tests, forecast accuracy, downsampling,
SAX symbols and volatility.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from laser_hadoop_spark.operators.cumulative import ordered_cumsum
from laser_hadoop_spark.queries.windows import _centi
from laser_hadoop_spark.registry import register
from laser_hadoop_spark.tables import table


@register(
    "q_ewma",
    oracle="""
    WITH e AS (
        SELECT user_id,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v_centi,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts) DESC, event_id DESC)
                   AS rn
        FROM events
    )
    SELECT user_id, COUNT(*) AS n_used,
           CAST(SUM(v_centi * (CAST(1 AS BIGINT) << (16 - rn))) AS BIGINT)
               AS ewma_x32768
    FROM e WHERE rn <= 16 GROUP BY user_id
    """,
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X112: exact geometric-decay EWMA via powers-of-two weights.

    Per-user exponentially weighted value with decay 1/2 truncated to
    the 16 most recent events: EWMA * 2^15 = sum(v_centi * 2^(16-rn)).
    Choosing alpha = 1/2 makes every weight a power of two, so the
    whole computation is BIGINT-exact — the float summation-order
    problem that makes textbook EWMA unverifiable across engines
    simply never appears. One user_id shuffle shared by the recency
    window and the final aggregate; the rn <= 16 filter keeps state
    bounded regardless of per-user history length (the 100 TB
    property — this is the batch form of a streaming decayed counter).
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts").desc(), F.col("event_id").desc()
    )
    e = ev.select(
        "user_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("v_centi"),
        F.row_number().over(w).alias("rn"),
    ).where(F.col("rn") <= 16)
    return e.groupBy("user_id").agg(
        F.count("*").alias("n_used"),
        F.sum(
            F.col("v_centi") * F.expr("CAST(1 AS BIGINT) << (16 - rn)")
        ).cast("bigint").alias("ewma_x32768"),
    )


def _autocorr_sql(cast_big: str) -> str:
    return f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    pairs AS (
        SELECT rev AS x,
               LEAD(rev) OVER (ORDER BY d) AS y
        FROM daily
    ),
    p AS (SELECT x, y FROM pairs WHERE y IS NOT NULL),
    s AS (
        SELECT COUNT(*) AS n,
               SUM({cast_big('x')}) AS sx, SUM({cast_big('y')}) AS sy,
               SUM({cast_big('x')} * {cast_big('x')}) AS sxx,
               SUM({cast_big('y')} * {cast_big('y')}) AS syy,
               SUM({cast_big('x')} * {cast_big('y')}) AS sxy
        FROM p
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           ROUND(CAST({cast_big('n')} * sxy - sx * sy AS DOUBLE)
                 / SQRT(CAST({cast_big('n')} * sxx - sx * sx AS DOUBLE)
                        * CAST({cast_big('n')} * syy - sy * sy AS DOUBLE)),
                 4) AS r_lag1
    FROM s
    """


@register(
    "q_autocorr_lag1",
    oracle=_autocorr_sql(lambda e: f"CAST({e} AS HUGEINT)"),
)
def q_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X126: lag-1 autocorrelation of the daily revenue series.

    Pearson r between consecutive observed days' exact centi revenue —
    the seasonality/momentum screen for any KPI series. All five sums
    accumulate in wide integers (HUGEINT / DECIMAL(38,0): daily centi
    revenue squared overflows int64), exactly as q_regression_stats
    (X52); the two IEEE divisions happen once on exact operands, then
    round(4). The lead window runs on the per-day aggregate — bounded
    by the date domain (~2.4k rows), the documented exception to the
    no-global-window rule (q_monthly_growth precedent).
    """
    from laser_hadoop_spark.tables import register_views

    register_views(spark, sf_dir, names=("orders",))
    return spark.sql(_autocorr_sql(lambda e: f"CAST({e} AS DECIMAL(38,0))"))


@register(
    "q_rolling_zscore",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS x,
               epoch_us(ts) AS t_us
        FROM events
    ),
    stats AS (
        SELECT user_id, event_id, x,
               COUNT(*) OVER w AS n,
               SUM(x) OVER w AS sx,
               SUM(x * x) OVER w AS sxx
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id
                     ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id,
           CAST(SUM(CASE WHEN n >= 4
                          AND CAST((n * x - sx) AS HUGEINT)
                              * CAST((n * x - sx) AS HUGEINT)
                              > 9 * CAST(n AS HUGEINT)
                                  * (CAST(n AS HUGEINT) * sxx
                                     - CAST(sx AS HUGEINT) * sx)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
           COUNT(*) AS n_events
    FROM stats GROUP BY user_id
    """,
)
def q_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X132: rolling z-score anomaly counts, pure-integer comparison.

    Events whose value deviates > 3 sigma from the mean/std of the
    user's previous <= 8 events (frame excludes the current row — no
    self-contamination). The |z| > 3 test cross-multiplies into
    integers: (n*x - sx)^2 > 9 * n * (n*sxx - sx^2) — no division, no
    sqrt, no float, so both engines count identical anomalies
    (HUGEINT/DECIMAL38 for the squares). Warm-up rows (n < 4) don't
    count. One user_id shuffle shared by the frame window and the
    final per-user rollup — the online-monitoring shape, batch form.
    """
    ev = table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("x"),
        F.unix_micros("ts").alias("t_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "event_id")
        .rowsBetween(-8, -1)
    )
    stats = e.select(
        "user_id",
        "x",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
    )
    dec = lambda c: f"CAST({c} AS DECIMAL(38,0))"  # noqa: E731
    anomaly = F.expr(
        f"n >= 4 AND {dec('n * x - sx')} * {dec('n * x - sx')} "
        f"> 9 * {dec('n')} * ({dec('n')} * sxx - {dec('sx')} * sx)"
    )
    return stats.groupBy("user_id").agg(
        F.sum(F.when(anomaly, 1).otherwise(0)).cast("bigint").alias("n_anomalies"),
        F.count("*").alias("n_events"),
    )


@register(
    "q_cusum_changepoint",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    tot AS (SELECT COUNT(*) AS n, SUM(rev) AS srev FROM daily),
    cum AS (
        SELECT d,
               SUM(rev) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cumrev,
               ROW_NUMBER() OVER (ORDER BY d) AS rn
        FROM daily
    ),
    dev AS (
        SELECT d, ABS(CAST(t.n AS HUGEINT) * cumrev
                      - CAST(rn AS HUGEINT) * t.srev) AS s_abs
        FROM cum CROSS JOIN tot t
    )
    SELECT d AS changepoint_day,
           CAST(s_abs AS VARCHAR) AS s_abs_str
    FROM dev ORDER BY s_abs DESC, d LIMIT 1
    """,
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X133: CUSUM changepoint over the daily revenue series.

    The day t maximizing |S_t|, S_t = sum_{i<=t}(rev_i - mean) — the
    classic single-changepoint estimator. Scaled by n to stay
    integral: n*S_t = n*cumrev_t - t*total, an exact wide integer
    (HUGEINT / DECIMAL38 — cumrev * n overflows int64 at sf1), emitted
    as a string because a 96-bit magnitude can't ride a BIGINT column
    through the comparator. The cumulative revenue runs through the
    two-pass operator; argmax breaks ties to the earliest day. One
    ordered pass + one top-1.
    """
    from laser_hadoop_spark.operators.cumulative import ordered_cumsum

    o = table(spark, sf_dir, "orders")
    centi = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    daily = (
        o.select(F.col("o_orderdate").cast("date").alias("d"), centi.alias("rev"))
        .groupBy("d")
        .agg(F.sum("rev").alias("rev"))
    )
    cum = ordered_cumsum(
        daily, order_by=["d"], values={"rev": "cumrev"}, row_number_col="rn"
    )
    tot = daily.agg(F.count("*").alias("n"), F.sum("rev").alias("srev"))
    dec = lambda c: f"CAST({c} AS DECIMAL(38,0))"  # noqa: E731
    dev = cum.crossJoin(F.broadcast(tot)).select(
        "d",
        F.expr(f"ABS({dec('n')} * cumrev - {dec('rn')} * srev)").alias("s_abs"),
    )
    return (
        dev.orderBy(F.desc("s_abs"), F.asc("d"))
        .limit(1)
        .select(
            F.col("d").alias("changepoint_day"),
            F.col("s_abs").cast("decimal(38,0)").cast("string").alias("s_abs_str"),
        )
    )


@register(
    "q_seasonal_residual",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(dayofweek(CAST(o_orderdate AS DATE)) AS INT) AS dow,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev
        FROM orders GROUP BY 1, 2
    ),
    dow_stats AS (
        SELECT dow, COUNT(*) AS n_dow, SUM(rev) AS sum_dow
        FROM daily GROUP BY dow
    )
    SELECT d.d AS day, CAST(d.rev AS BIGINT) AS rev_centi,
           CAST(d.rev * s.n_dow - s.sum_dow AS BIGINT) AS residual_scaled,
           CAST(s.n_dow AS BIGINT) AS n_dow
    FROM daily d JOIN dow_stats s ON s.dow = d.dow
    ORDER BY ABS(d.rev * s.n_dow - s.sum_dow) DESC, d.d
    LIMIT 10
    """,
)
def q_seasonal_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X143: deseasonalized residual anomalies (top-10 days).

    The days whose revenue deviates most from their own day-of-week
    mean — seasonality-aware anomaly detection (a Saturday is compared
    with Saturdays, X86's profile applied as a filter). The residual
    cross-multiplies into exact integers: rev*n_dow - sum_dow is the
    deviation scaled by the day count, so no mean division ever runs.
    Deterministic top-10 via (|residual|, date); TakeOrderedAndProject,
    two small aggregates, one broadcast join.
    """
    o = table(spark, sf_dir, "orders")
    centi = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    daily = (
        o.select(
            F.col("o_orderdate").cast("date").alias("d"),
            F.dayofweek(F.col("o_orderdate").cast("date")).cast("int").alias("dow"),
            centi.alias("rev"),
        )
        .groupBy("d", "dow")
        .agg(F.sum("rev").alias("rev"))
    )
    dow_stats = daily.groupBy("dow").agg(
        F.count("*").alias("n_dow"), F.sum("rev").alias("sum_dow")
    )
    joined = daily.join(F.broadcast(dow_stats), "dow").select(
        F.col("d").alias("day"),
        F.col("rev").alias("rev_centi"),
        (F.col("rev") * F.col("n_dow") - F.col("sum_dow"))
        .cast("bigint")
        .alias("residual_scaled"),
        F.col("n_dow").cast("bigint").alias("n_dow"),
    )
    return joined.orderBy(
        F.abs(F.col("residual_scaled")).desc(), F.asc("day")
    ).limit(10)


@register(
    "q_rolling_median",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    pairs AS (
        SELECT a.day AS day, b.rev AS rev
        FROM daily a JOIN daily b ON b.day BETWEEN a.day - 6 AND a.day
    ),
    ranked AS (
        SELECT day, rev,
               ROW_NUMBER() OVER (PARTITION BY day ORDER BY rev) AS rn,
               COUNT(*) OVER (PARTITION BY day) AS n
        FROM pairs
    )
    SELECT day, CAST(n AS BIGINT) AS n_days,
           CAST(rev AS BIGINT) AS med_centi
    FROM ranked WHERE rn = (n + 1) // 2
    """,
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X152: 7-day rolling lower median of daily revenue.

    Order statistics inside a sliding frame — the robust smoother a
    mean-based rolling average (X31) can't give. No window-frame
    median exists in either engine, so the frame is materialized as a
    date-range self-join over the DAILY AGGREGATE (calendar-bounded:
    |days| x 7 rows regardless of fact cardinality — the X53/X145
    scale pattern) and the lower median is the (n+1) DIV 2 order
    statistic per day, deterministic over the value multiset. Ranking
    windows partition by day; the only fact-table work is one
    date-keyed aggregate.
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum(_centi("o_totalprice")).alias("rev"))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(
        b,
        (F.col("b.day") >= F.date_sub(F.col("a.day"), 6))
        & (F.col("b.day") <= F.col("a.day")),
    ).select(F.col("a.day").alias("day"), F.col("b.rev").alias("rev"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("day").orderBy("rev")
    ranked = pairs.select(
        "day",
        "rev",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("day")).alias("n"),
    )
    return ranked.where(F.col("rn") == F.expr("(n + 1) DIV 2")).select(
        "day",
        F.col("n").cast("bigint").alias("n_days"),
        F.col("rev").cast("bigint").alias("med_centi"),
    )


@register(
    "q_forecast_accuracy",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS rev
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    joined AS (
        SELECT a.event_type, ABS(a.rev - f.rev) AS abs_err, a.rev AS actual
        FROM daily a JOIN daily f
          ON f.event_type = a.event_type AND f.day = a.day - 7
    )
    SELECT event_type, COUNT(*) AS n_days,
           CAST(SUM(abs_err) // COUNT(*) AS BIGINT) AS mae_centi,
           CAST(10000 * SUM(abs_err) // SUM(actual) AS BIGINT) AS wmape_bp
    FROM joined GROUP BY event_type
    """,
)
def q_forecast_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X153: seasonal-naive forecast accuracy (MAE + weighted MAPE).

    The baseline every forecasting model must beat: predict each day's
    revenue as the value 7 days earlier, then score it. MAE in exact
    centi-units and WMAPE in basis points — WMAPE (sum|err|/sum
    actual) deliberately replaces per-day MAPE so there is exactly ONE
    truncating division per group and no per-day ratio instability.
    Plan: one date-keyed aggregate of the fact table, a self-join on
    the tiny daily relation shifted by 7 days, one final aggregate —
    the evaluation harness for X112's EWMA or X145's trend as
    forecasters.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(_centi("value")).alias("rev"))
    a, f_ = daily.alias("a"), daily.alias("f")
    joined = a.join(
        f_,
        (F.col("f.event_type") == F.col("a.event_type"))
        & (F.col("f.day") == F.date_sub(F.col("a.day"), 7)),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.abs(F.col("a.rev") - F.col("f.rev")).alias("abs_err"),
        F.col("a.rev").alias("actual"),
    )
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.expr("CAST(SUM(abs_err) DIV COUNT(*) AS BIGINT)").alias("mae_centi"),
        F.expr("CAST(10000 * SUM(abs_err) DIV SUM(actual) AS BIGINT)").alias(
            "wmape_bp"
        ),
    )


@register(
    "q_cross_correlation",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS rev
        FROM events WHERE event_type IN ('purchase', 'click')
        GROUP BY event_type, CAST(ts AS DATE)
    ),
    p AS (SELECT day, rev FROM daily WHERE event_type = 'purchase'),
    c AS (SELECT day, rev FROM daily WHERE event_type = 'click'),
    lags AS (SELECT UNNEST(generate_series(-3, 3)) AS lag),
    joined AS (
        SELECT l.lag, p.rev AS x, c.rev AS y
        FROM lags l
        JOIN p ON TRUE
        JOIN c ON date_diff('day', p.day, c.day) = l.lag
    ),
    s AS (
        SELECT lag, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(y AS HUGEINT) * y) AS syy,
               SUM(CAST(x AS HUGEINT) * y) AS sxy
        FROM joined GROUP BY lag
    )
    SELECT CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_days,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                    * SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS r
    FROM s
    """,
)
def q_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X158: lagged cross-correlation of two event-type series.

    Does click revenue LEAD purchase revenue? Pearson r between
    purchase[day] and click[day + lag] for lags -3..+3 — the
    lead/lag-indicator scan behind "which metric moves first"
    dashboards (X126's autocorrelation is the self-pair special
    case). The lag axis rides in as a 7-row explode joined against
    the calendar-bounded daily relations, power sums are exact
    bigints per lag, products go through DECIMAL(38) via the same
    final-division discipline as X144/X149. Fact-table work: one
    date-keyed aggregate; everything after is |days| x 7 rows.
    """
    e = table(spark, sf_dir, "events")
    daily = (
        e.where(F.col("event_type").isin("purchase", "click"))
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("rev")
        )
    )
    p = daily.where(F.col("event_type") == "purchase").select("day", "rev")
    c = daily.where(F.col("event_type") == "click").select(
        F.col("day").alias("cday"), F.col("rev").alias("y")
    )
    lags = spark.range(-3, 4).select(F.col("id").cast("int").alias("lag"))
    joined = (
        p.crossJoin(F.broadcast(lags))
        .join(
            c,
            F.col("cday")
            == F.expr("date_add(day, lag)"),
        )
        .select("lag", F.col("rev").alias("x"), "y")
    )
    dec_prod = lambda a, b: F.sum(  # noqa: E731  (X144 overflow
        F.col(a).cast("decimal(38,0)") * F.col(b)
    )  # discipline: daily-revenue products wrap bigint around sf10)
    s = joined.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        dec_prod("x", "x").alias("sxx"),
        dec_prod("y", "y").alias("syy"),
        dec_prod("x", "y").alias("sxy"),
    )
    dec = lambda col: F.col(col).cast("decimal(38,0)")  # noqa: E731
    num = dec("n") * dec("sxy") - dec("sx") * dec("sy")
    den1 = dec("n") * dec("sxx") - dec("sx") * dec("sx")
    den2 = dec("n") * dec("syy") - dec("sy") * dec("sy")
    return s.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("bigint").alias("n_days"),
        F.round(
            num.cast("double")
            / (F.sqrt(den1.cast("double")) * F.sqrt(den2.cast("double"))),
            6,
        ).alias("r"),
    )


@register(
    "q_binary_segmentation",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    cum AS (
        SELECT day, rev,
               ROW_NUMBER() OVER (ORDER BY day) AS rn,
               SUM(rev) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS c
        FROM daily
    ),
    tot AS (SELECT COUNT(*) AS n, SUM(rev) AS total FROM daily),
    l1 AS (
        SELECT rn, day, c,
               ROW_NUMBER() OVER (
                   ORDER BY ABS(t.n * c - rn * t.total) DESC, rn) AS w,
               ABS(t.n * c - rn * t.total) AS stat
        FROM cum CROSS JOIN tot t WHERE rn < t.n
    ),
    s1 AS (SELECT rn AS t1, day AS d1, c AS c1, stat FROM l1 WHERE w = 1),
    left_ AS (
        SELECT cum.rn, cum.day,
               ROW_NUMBER() OVER (
                   ORDER BY ABS(s.t1 * cum.c - cum.rn * s.c1) DESC,
                            cum.rn) AS w,
               ABS(s.t1 * cum.c - cum.rn * s.c1) AS stat
        FROM cum CROSS JOIN s1 s WHERE cum.rn < s.t1
    ),
    right_ AS (
        SELECT cum.rn, cum.day,
               ROW_NUMBER() OVER (
                   ORDER BY ABS((t.n - s.t1) * (cum.c - s.c1)
                                - (cum.rn - s.t1) * (t.total - s.c1)) DESC,
                            cum.rn) AS w,
               ABS((t.n - s.t1) * (cum.c - s.c1)
                   - (cum.rn - s.t1) * (t.total - s.c1)) AS stat
        FROM cum CROSS JOIN s1 s CROSS JOIN tot t
        WHERE cum.rn > s.t1 AND cum.rn < t.n
    )
    SELECT * FROM (
        SELECT 1 AS level, 'root' AS segment,
               CAST(t1 AS INT) AS split_rn, d1 AS split_day,
               CAST(stat AS VARCHAR) AS stat FROM s1
        UNION ALL
        SELECT 2, 'left', CAST(rn AS INT), day, CAST(stat AS VARCHAR)
        FROM left_ WHERE w = 1
        UNION ALL
        SELECT 2, 'right', CAST(rn AS INT), day, CAST(stat AS VARCHAR)
        FROM right_ WHERE w = 1
    )
    """,
)
def q_binary_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X190: depth-2 binary segmentation (recursive CUSUM changepoints).

    X133 found ONE changepoint; real regime analysis recurses: split
    at the CUSUM argmax, then split each child the same way. The key
    scale property: the children never re-walk the series — a child's
    statistic |n'*c' - t'*total'| is pure algebra over the PARENT's
    cumulative relation plus two broadcast scalars (the split's rank
    and cumulative), so depth d costs d tiny argmax passes over ONE
    two-pass cumulative, not d cumulative rebuilds. All statistics
    are exact integers (HUGEINT/DECIMAL, emitted as strings per
    X133); argmax ties break to the earliest day. The cumulative runs
    over the calendar-bounded daily aggregate.
    """
    from laser_hadoop_spark.operators.cumulative import ordered_cumsum

    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("rev")
    )
    cum = ordered_cumsum(
        daily, order_by=["day"], values={"rev": "c"}, row_number_col="rn"
    ).localCheckpoint(eager=False)
    tot = daily.agg(F.count("*").alias("n"), F.sum("rev").alias("total"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731

    def argmax(df: DataFrame, stat_col, keep_cols):
        from pyspark.sql.window import Window

        w = Window.orderBy(F.col("__stat").desc(), F.col("rn"))
        return (
            df.withColumn("__stat", stat_col)
            .withColumn("__w", F.row_number().over(w))
            .where(F.col("__w") == 1)
            .select(*keep_cols, F.col("__stat"))
        )

    l1_base = cum.crossJoin(F.broadcast(tot)).where(F.col("rn") < F.col("n"))
    s1 = argmax(
        l1_base,
        F.abs(dec("n") * F.col("c") - dec("rn") * F.col("total")),
        ["rn", "day", "c"],
    ).select(
        F.col("rn").alias("t1"),
        F.col("day").alias("d1"),
        F.col("c").alias("c1"),
        F.col("__stat").alias("stat1"),
    )
    left_base = cum.crossJoin(F.broadcast(s1)).where(F.col("rn") < F.col("t1"))
    left = argmax(
        left_base,
        F.abs(dec("t1") * F.col("c") - dec("rn") * F.col("c1")),
        ["rn", "day"],
    )
    right_base = (
        cum.crossJoin(F.broadcast(s1))
        .crossJoin(F.broadcast(tot))
        .where((F.col("rn") > F.col("t1")) & (F.col("rn") < F.col("n")))
    )
    right = argmax(
        right_base,
        F.abs(
            (dec("n") - F.col("t1")) * (F.col("c") - F.col("c1"))
            - (dec("rn") - F.col("t1")) * (F.col("total") - F.col("c1"))
        ),
        ["rn", "day"],
    )
    row1 = s1.select(
        F.lit(1).alias("level"),
        F.lit("root").alias("segment"),
        F.col("t1").cast("int").alias("split_rn"),
        F.col("d1").alias("split_day"),
        F.col("stat1").cast("string").alias("stat"),
    )
    row2 = left.select(
        F.lit(2).alias("level"),
        F.lit("left").alias("segment"),
        F.col("rn").cast("int").alias("split_rn"),
        F.col("day").alias("split_day"),
        F.col("__stat").cast("string").alias("stat"),
    )
    row3 = right.select(
        F.lit(2).alias("level"),
        F.lit("right").alias("segment"),
        F.col("rn").cast("int").alias("split_rn"),
        F.col("day").alias("split_day"),
        F.col("__stat").cast("string").alias("stat"),
    )
    return row1.unionByName(row2).unionByName(row3)


@register(
    "q_rolling_corr",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                        ELSE 0 END) AS x,
               SUM(CASE WHEN event_type = 'click'
                        THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                        ELSE 0 END) AS y
        FROM events GROUP BY CAST(ts AS DATE)
    ),
    frames AS (
        SELECT a.day, COUNT(*) AS n,
               SUM(b.x) AS sx, SUM(b.y) AS sy,
               SUM(CAST(b.x AS HUGEINT) * b.x) AS sxx,
               SUM(CAST(b.y AS HUGEINT) * b.y) AS syy,
               SUM(CAST(b.x AS HUGEINT) * b.y) AS sxy
        FROM (SELECT DISTINCT day FROM daily) a
        JOIN daily b ON b.day BETWEEN a.day - 13 AND a.day
        GROUP BY a.day
    ),
    bounds AS (SELECT MIN(day) AS lo FROM daily)
    SELECT f.day, CAST(f.n AS BIGINT) AS n_days,
           CASE WHEN f.n * f.sxx - f.sx * f.sx > 0
                 AND f.n * f.syy - f.sy * f.sy > 0
                THEN ROUND(CAST(f.n * f.sxy - f.sx * f.sy AS DOUBLE)
                     / (SQRT(CAST(f.n * f.sxx - f.sx * f.sx AS DOUBLE))
                        * SQRT(CAST(f.n * f.syy - f.sy * f.sy AS DOUBLE))), 6)
                ELSE NULL END AS r
    FROM frames f CROSS JOIN bounds b
    WHERE f.day >= b.lo + 13
    """,
)
def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X191: rolling 14-day correlation of two event series.

    The DYNAMIC coupling monitor (X158's fixed-lag cross-correlation
    scored the whole series once; this shows when the purchase/click
    relationship changes): per day, Pearson r over the trailing 14
    days, full windows only. The frame is the calendar-bounded range
    self-join (X152/X186's shape — |days| x 14 rows, never
    fact-scale), per-frame power sums are exact with HUGEINT/DECIMAL
    products, and the one float division per frame rounds from
    identical integers. Day gaps shrink n_days honestly rather than
    imputing.
    """
    e = table(spark, sf_dir, "events")
    centi = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", centi).otherwise(0)
        ).alias("x"),
        F.sum(
            F.when(F.col("event_type") == "click", centi).otherwise(0)
        ).alias("y"),
    )
    # daily is grouped by day -> already unique; no distinct needed
    spine = daily.select(F.col("day").alias("fday"))
    b = daily.select(F.col("day").alias("bday"), "x", "y")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    frames = (
        spine.join(
            b,
            (F.col("bday") >= F.date_sub(F.col("fday"), 13))
            & (F.col("bday") <= F.col("fday")),
        )
        .groupBy(F.col("fday").alias("day"))
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
            F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        )
    )
    bounds = daily.agg(F.min("day").alias("lo"))
    num = dec("n") * F.col("sxy") - dec("sx") * F.col("sy")
    den1 = dec("n") * F.col("sxx") - dec("sx") * F.col("sx")
    den2 = dec("n") * F.col("syy") - dec("sy") * F.col("sy")
    return (
        frames.crossJoin(F.broadcast(bounds))
        .where(F.col("day") >= F.date_add(F.col("lo"), 13))
        .select(
            "day",
            F.col("n").cast("bigint").alias("n_days"),
            # zero-variance guard: a constant window makes a denominator
            # 0 — NULL on both engines instead of an ANSI-session
            # DIVIDE_BY_ZERO on Spark only
            F.when(
                (den1 > 0) & (den2 > 0),
                F.round(
                    num.cast("double")
                    / (
                        F.sqrt(den1.cast("double"))
                        * F.sqrt(den2.cast("double"))
                    ),
                    6,
                ),
            ).alias("r"),
        )
    )


@register(
    "q_seasonality_strength",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, isodow(CAST(ts AS DATE)) AS dow,
               SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS rev
        FROM events GROUP BY CAST(ts AS DATE)
    ),
    means AS (
        SELECT dow, SUM(rev) * 1000000 // COUNT(*) AS mean_micro
        FROM daily GROUP BY dow
    ),
    gmean AS (
        SELECT SUM(rev) * 1000000 // COUNT(*) AS gmean_micro FROM daily
    ),
    devs AS (
        SELECT d.day,
               d.rev * 1000000 - m.mean_micro AS dev_w,
               d.rev * 1000000 - g.gmean_micro AS dev_t
        FROM daily d
        JOIN means m ON m.dow = d.dow
        CROSS JOIN gmean g
    ),
    ss AS (
        SELECT SUM(CAST(dev_w AS HUGEINT) * dev_w) AS ss_resid,
               SUM(CAST(dev_t AS HUGEINT) * dev_t) AS ss_tot,
               COUNT(*) AS n
        FROM devs
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(ss_resid AS VARCHAR) AS ss_resid,
           CAST(ss_tot AS VARCHAR) AS ss_tot,
           CAST(10000 * (ss_tot - ss_resid) // ss_tot AS BIGINT)
               AS strength_bp
    FROM ss
    """,
)
def q_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X192: day-of-week seasonality strength (variance explained).

    X86 showed the weekly profile; this scores how much it MATTERS:
    strength = 1 - SS_within-dow / SS_total over daily revenue — near
    0 means the weekday pattern explains nothing (don't build
    DOW-aware forecasts), near 1 means X153's seasonal-naive is the
    right baseline. Exactness: the seven group means and the grand
    mean are MICRO-FIXED-POINTED first (truncating division — both
    engines agree on the mean integers), then every squared deviation
    is exact HUGEINT/DECIMAL arithmetic and the strength is one
    truncating bp division; ss numerators hash-pin as strings.
    Calendar-bounded relations throughout; isodow == weekday()+1 (the
    X86/X171 pinned numbering).
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("rev")
    ).withColumn("dow", F.weekday("day") + 1)
    # sums through DECIMAL(38): DuckDB's SUM is HUGEINT, so the
    # *1e6 product must not wrap on the Spark side either
    mean_expr = (
        "CAST(CAST(SUM(rev) AS DECIMAL(38,0)) * 1000000 div COUNT(*)"
        " AS BIGINT)"
    )
    means = daily.groupBy("dow").agg(F.expr(mean_expr).alias("mean_micro"))
    gmean = daily.agg(F.expr(mean_expr).alias("gmean_micro"))
    devs = (
        daily.join(F.broadcast(means), "dow")
        .crossJoin(F.broadcast(gmean))
        .select(
            (F.col("rev") * 1_000_000 - F.col("mean_micro")).alias("dev_w"),
            (F.col("rev") * 1_000_000 - F.col("gmean_micro")).alias("dev_t"),
        )
    )
    ss = devs.agg(
        F.sum(F.col("dev_w").cast("decimal(38,0)") * F.col("dev_w")).alias(
            "ss_resid"
        ),
        F.sum(F.col("dev_t").cast("decimal(38,0)") * F.col("dev_t")).alias(
            "ss_tot"
        ),
        F.count("*").alias("n"),
    )
    return ss.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.col("ss_resid").cast("string").alias("ss_resid"),
        F.col("ss_tot").cast("string").alias("ss_tot"),
        F.expr(
            "CAST(10000 * (ss_tot - ss_resid) div ss_tot AS BIGINT)"
        ).alias("strength_bp"),
    )


# --- X219: Mann-Kendall trend test -----------------------------------------


@register(
    "q_mann_kendall",
    oracle="""
    WITH monthly AS (
        SELECT o_orderpriority AS grp,
               date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev
        FROM orders GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.grp,
               SUM(CASE WHEN b.rev > a.rev THEN 1 ELSE 0 END) AS n_concordant,
               SUM(CASE WHEN b.rev < a.rev THEN 1 ELSE 0 END) AS n_discordant,
               SUM(CASE WHEN b.rev = a.rev THEN 1 ELSE 0 END) AS n_tied
        FROM monthly a JOIN monthly b ON b.grp = a.grp AND b.m > a.m
        GROUP BY a.grp
    ),
    sizes AS (SELECT grp, COUNT(*) AS n_months FROM monthly GROUP BY grp)
    SELECT s.grp AS o_orderpriority,
           CAST(s.n_months AS BIGINT) AS n_months,
           CAST(p.n_concordant - p.n_discordant AS BIGINT) AS s_stat,
           CAST(p.n_concordant AS BIGINT) AS n_concordant,
           CAST(p.n_discordant AS BIGINT) AS n_discordant,
           CAST(p.n_tied AS BIGINT) AS n_tied,
           CAST(CASE WHEN p.n_concordant >= p.n_discordant
                     THEN (p.n_concordant - p.n_discordant) * 10000
                          // (s.n_months * (s.n_months - 1) // 2)
                     ELSE -((p.n_discordant - p.n_concordant) * 10000
                            // (s.n_months * (s.n_months - 1) // 2))
                END AS BIGINT) AS tau_bp
    FROM sizes s JOIN pairs p ON p.grp = s.grp
    """,
)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X219: Mann-Kendall trend test, exact integers.

    The standard non-parametric monotone-trend detector over each
    priority class's monthly revenue series: S = #(later > earlier) -
    #(later < earlier) over all ordered month pairs, tau = S / C(n,2)
    in truncating bp (sign split so both engines truncate toward zero).
    Complements X145 (Theil-Sen estimates the slope; Mann-Kendall
    decides whether a trend exists at all) and is immune to outliers
    and the revenue scale.

    100 TB: the month-pair self-join is PER-GROUP over the bounded
    calendar series (n months, not n rows — C(84,2) pairs per group
    regardless of fact size); one shuffle builds the monthly relation,
    everything after is dimension-sized.
    """
    o = table(spark, sf_dir, "orders")
    cents = F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)")
    monthly = o.groupBy(
        F.col("o_orderpriority").alias("grp"),
        F.date_trunc("month", F.col("o_orderdate").cast("date")).alias("m"),
    ).agg(F.sum(cents).alias("rev"))
    a, b = monthly.alias("a"), monthly.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.grp") == F.col("a.grp")) & (F.col("b.m") > F.col("a.m")),
        )
        .groupBy(F.col("a.grp").alias("grp"))
        .agg(
            F.sum(F.when(F.col("b.rev") > F.col("a.rev"), 1).otherwise(0)).alias(
                "n_concordant"
            ),
            F.sum(F.when(F.col("b.rev") < F.col("a.rev"), 1).otherwise(0)).alias(
                "n_discordant"
            ),
            F.sum(F.when(F.col("b.rev") == F.col("a.rev"), 1).otherwise(0)).alias(
                "n_tied"
            ),
        )
    )
    sizes = monthly.groupBy("grp").agg(F.count("*").alias("n_months"))
    s = F.col("n_concordant") - F.col("n_discordant")
    # integer DIV with explicit sign split (truncation toward zero on
    # both engines, negative-safe)
    tau = F.expr(
        "CASE WHEN n_concordant >= n_discordant "
        "THEN (n_concordant - n_discordant) * 10000 "
        "     DIV (n_months * (n_months - 1) DIV 2) "
        "ELSE -((n_discordant - n_concordant) * 10000 "
        "       DIV (n_months * (n_months - 1) DIV 2)) END"
    )
    return (
        sizes.join(pairs, "grp")
        .select(
            F.col("grp").alias("o_orderpriority"),
            F.col("n_months").cast("bigint").alias("n_months"),
            s.cast("bigint").alias("s_stat"),
            F.col("n_concordant").cast("bigint").alias("n_concordant"),
            F.col("n_discordant").cast("bigint").alias("n_discordant"),
            F.col("n_tied").cast("bigint").alias("n_tied"),
            tau.cast("bigint").alias("tau_bp"),
        )
    )


# --- X261: autocorrelation function (correlogram) ---------------------------

_ACF_MAX_LAG = 14


@register(
    "q_acf",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    lags AS (SELECT UNNEST(generate_series(1, {_ACF_MAX_LAG})) AS lag),
    pairs AS (
        SELECT g.lag, a.rev AS x, b.rev AS y
        FROM daily a
        CROSS JOIN lags g
        JOIN daily b ON b.d = a.d + g.lag * INTERVAL 1 DAY
    ),
    s AS (
        SELECT lag, COUNT(*) AS n,
               SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(y AS HUGEINT) * y) AS syy,
               SUM(CAST(x AS HUGEINT) * y) AS sxy
        FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_pairs,
           ROUND(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
                 / SQRT(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
                        * CAST(CAST(n AS HUGEINT) * syy - sy * sy
                               AS DOUBLE)), 4) AS r
    FROM s
    """,
)
def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X261: autocorrelation function of daily revenue, lags 1..14.

    X126's lag-1 coefficient generalized to the correlogram — the
    weekly-seasonality fingerprint (a spike at lag 7 IS the weekly
    cycle X86/X192 measure differently). Lag semantics are
    calendar-day shifts (a self-join on d + lag), not row shifts, so
    date gaps shorten the pair set instead of silently misaligning
    it. Sums are exact through HUGEINT/DECIMAL(38); each r rounds
    once at 1e-4 from identical exact integers (X126's spelling).

    100 TB shape: the fact collapses to the calendar-bounded daily
    relation first; the 14-lag fanout and self-join run over
    |days| x 14 rows — trivially small at any corpus scale.
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
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            F.col("b.d")
            == F.expr("date_add(a.d, lag)"),
        )
        .select(
            "lag", F.col("a.rev").alias("x"), F.col("b.rev").alias("y")
        )
    )
    dec = lambda col: f"CAST({col} AS DECIMAL(38,0))"
    s = pairs.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum(F.expr(dec("x"))).alias("sx"),
        F.sum(F.expr(dec("y"))).alias("sy"),
        F.sum(F.expr(f"{dec('x')} * x")).alias("sxx"),
        F.sum(F.expr(f"{dec('y')} * y")).alias("syy"),
        F.sum(F.expr(f"{dec('x')} * y")).alias("sxy"),
    )
    return s.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("bigint").alias("n_pairs"),
        F.expr(
            "ROUND(CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE)"
            " / SQRT(CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx"
            " AS DOUBLE)"
            " * CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy AS DOUBLE)),"
            " 4)"
        ).alias("r"),
    )


# --- X268: Page-Hinkley drift detector --------------------------------------

_PH_DELTA_CENTI = 50_000  # drift margin delta: $500 in centi


@register(
    "q_page_hinkley",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    cum AS (
        SELECT d, rev,
               SUM(rev) OVER w AS s,
               ROW_NUMBER() OVER (ORDER BY d) AS t
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    ),
    dev AS (
        SELECT d, t, rev - s // t - {_PH_DELTA_CENTI} AS dv
        FROM cum
    ),
    ph AS (
        SELECT d, t,
               SUM(dv) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS m
        FROM dev
    ),
    stat AS (
        SELECT d, t, m,
               MIN(m) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS mmin
        FROM ph
    )
    SELECT CAST(MAX(t) AS BIGINT) AS n_days,
           CAST(MAX(m - mmin) AS BIGINT) AS ph_stat_centi,
           CAST(MIN(CASE WHEN rnk = 1 THEN t END) AS BIGINT) AS argmax_day
    FROM (
        SELECT t, m, mmin,
               ROW_NUMBER() OVER (ORDER BY m - mmin DESC, d) AS rnk
        FROM stat
    ) r
    """,
)
def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X268: Page-Hinkley mean-shift (drift) detection, exact.

    The sequential drift test streaming ML monitors run: accumulate
    deviations from the RUNNING mean minus a margin delta, and alarm
    when the cumulative climbs lambda above its own running minimum.
    Here the full trace computes in batch: PH statistic = max_t (m_t
    - min_{i<=t} m_i) with m_t = sum of (x_i - mean_i - delta), the
    running mean as a consistent truncating DIV (identical both
    engines). Reports the statistic and WHEN it peaked — CUSUM (X133)
    finds the global split; Page-Hinkley is its one-sided online
    form whose alarm day a production monitor would have fired on.

    100 TB shape: the fact collapses to the calendar-bounded daily
    relation; all windows run over those few-thousand rows.
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("rev")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "d",
        "rev",
        F.sum("rev").over(w).alias("s"),
        F.row_number().over(Window.orderBy("d")).alias("t"),
    )
    dev = cum.select(
        "d",
        "t",
        F.expr(f"rev - s DIV t - {_PH_DELTA_CENTI}").alias("dv"),
    )
    ph = dev.select("d", "t", F.sum("dv").over(w).alias("m"))
    stat = ph.select(
        "d", "t", "m", F.min("m").over(w).alias("mmin")
    )
    ranked = stat.select(
        "t",
        "m",
        "mmin",
        F.row_number()
        .over(Window.orderBy(F.desc(F.col("m") - F.col("mmin")), "d"))
        .alias("rnk"),
    )
    return ranked.agg(
        F.max("t").cast("bigint").alias("n_days"),
        F.max(F.col("m") - F.col("mmin")).cast("bigint").alias(
            "ph_stat_centi"
        ),
        F.min(F.when(F.col("rnk") == 1, F.col("t")))
        .cast("bigint")
        .alias("argmax_day"),
    )


# --- X274: Durbin-Watson statistic ------------------------------------------

_DW_K = 10**12  # offset making every scaled residual division nonnegative


@register(
    "q_durbin_watson",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS y
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT y, CAST(d - (SELECT MIN(d) FROM daily) AS BIGINT) AS t
        FROM daily
    ),
    s AS (
        SELECT COUNT(*) AS n, SUM(t) AS st, SUM(y) AS sy,
               SUM(CAST(t AS HUGEINT) * t) AS stt,
               SUM(CAST(t AS HUGEINT) * y) AS sty
        FROM idx
    ),
    coef AS (
        SELECT n, st, sy,
               n * sty - CAST(st AS HUGEINT) * sy AS nb,
               n * stt - CAST(st AS HUGEINT) * st AS db
        FROM s
    ),
    resid AS (
        SELECT i.t,
               (n * db * i.y - (db * sy - nb * st) - n * nb * i.t
                + {_DW_K} * n * db) // (n * db) - {_DW_K} AS e
        FROM idx i CROSS JOIN coef
    ),
    lagged AS (
        SELECT e, LAG(e) OVER (ORDER BY t) AS ep FROM resid
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(1000 * SUM(CASE WHEN ep IS NULL THEN 0
                      ELSE CAST(e - ep AS HUGEINT) * (e - ep) END)
                // SUM(CAST(e AS HUGEINT) * e) AS BIGINT) AS dw_milli
    FROM lagged
    """,
)
def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X274: Durbin-Watson residual-autocorrelation statistic, exact.

    Are the daily-revenue OLS-trend residuals serially correlated?
    DW = sum((e_t - e_{{t-1}})^2) / sum(e_t^2): ~2 means none, ->0
    positive, ->4 negative autocorrelation — the standard regression
    diagnostic X52's fit statistics omit. Exactness: clearing the OLS
    denominators gives integer scaled residuals E_t = n*Db*y_t - C -
    n*Nb*t (the common factor n*Db cancels in DW); they are reduced
    back to cent-scale by one division made sign-safe with a
    multiple-of-the-divisor offset (+K*n*Db before, -K after): both
    engines' integer division TRUNCATES toward zero (probed — DuckDB
    // is not a floor on negatives either), so negative dividends
    round toward zero while positive ones round down; the offset
    makes every dividend nonnegative, where the conventions coincide,
    and cancels exactly because it is a multiple of n*Db.

    100 TB shape: one daily aggregate off the scan (map-side combine,
    calendar-bounded output), one 1-row moment aggregate broadcast
    back, one lag window over the bounded daily relation.
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("y")
    )
    mn = daily.agg(F.min("d").alias("d0"))
    idx = daily.crossJoin(F.broadcast(mn)).select(
        "y", F.datediff(F.col("d"), F.col("d0")).cast("bigint").alias("t")
    )
    td = F.col("t").cast("decimal(38,0)")
    s = idx.agg(
        F.count("*").alias("n"),
        F.sum("t").alias("st"),
        F.sum("y").alias("sy"),
        F.sum(td * td).alias("stt"),
        F.sum(td * F.col("y")).alias("sty"),
    )
    coef = s.select(
        "n", "st", "sy",
        F.expr("n * sty - CAST(st AS DECIMAL(38,0)) * sy").alias("nb"),
        F.expr("n * stt - CAST(st AS DECIMAL(38,0)) * st").alias("db"),
    )
    resid = idx.crossJoin(F.broadcast(coef)).select(
        "t",
        F.expr(
            f"CAST((n * db * y - (db * sy - nb * st) - n * nb * t"
            f" + CAST({_DW_K} AS DECIMAL(38,0)) * n * db)"
            f" DIV (n * db) - {_DW_K} AS BIGINT)"
        ).alias("e"),
    )
    w = Window.orderBy("t")  # calendar-bounded: |days|, never fact rows
    lagged = resid.select(
        "e", F.lag("e").over(w).alias("ep")
    )
    ed = F.col("e").cast("decimal(38,0)")
    return lagged.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.expr(
            "CAST(1000 * SUM(CASE WHEN ep IS NULL THEN 0"
            " ELSE CAST(e - ep AS DECIMAL(38,0)) * (e - ep) END)"
            " DIV SUM(CAST(e AS DECIMAL(38,0)) * e) AS BIGINT)"
        ).alias("dw_milli"),
    )


# --- X275: SAX symbolization -------------------------------------------------

_SAX_W = 7  # PAA window: calendar weeks of the daily series


@register(
    "q_sax_symbols",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS y
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT y, ROW_NUMBER() OVER (ORDER BY d) - 1 AS i FROM daily
    ),
    paa AS (
        SELECT i // {_SAX_W} AS w,
               1000 * SUM(y) // COUNT(*) AS pm_milli
        FROM idx GROUP BY 1
    ),
    sym AS (
        SELECT w, pm_milli,
               CHR(CAST(96 + NTILE(4) OVER (ORDER BY pm_milli, w)
                        AS INTEGER)) AS s
        FROM paa
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_windows,
           STRING_AGG(s, '' ORDER BY w) AS sax_string,
           CAST(SUM(CASE WHEN s = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(SUM(CASE WHEN s = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           CAST(SUM(CASE WHEN s = 'c' THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
           CAST(SUM(CASE WHEN s = 'd' THEN 1 ELSE 0 END) AS BIGINT) AS n_d
    FROM sym
    """,
)
def q_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X275: SAX symbolization of the daily revenue series.

    Symbolic Aggregate approXimation: the series compresses to PAA
    window means (7-day windows over the day-indexed series) and each
    window maps to a 4-letter alphabet — here by EMPIRICAL quartiles
    (rank-based ntile with the window id as tiebreaker) instead of the
    classical Gaussian breakpoints, which keeps the mapping exact and
    distribution-free. The emitted string is the series' motif
    representation (what similarity/anomaly miners index); the census
    counts prove the quartile balance. All arithmetic is integer
    (window means in milli-cents via one floor division).

    100 TB shape: the fact scan reduces to the calendar-bounded daily
    relation map-side; everything after (day index, PAA groups,
    quartile ranks, string fold) operates on |days| and |days|/7 rows
    — the two windows here are bounded-relation windows by
    construction, never fact-cardinality.
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("y")
    )
    iw = Window.orderBy("d")  # calendar-bounded
    idx = daily.select(
        "y", (F.row_number().over(iw) - 1).alias("i")
    )
    paa = idx.groupBy(F.expr(f"i DIV {_SAX_W}").alias("w")).agg(
        F.expr("1000 * SUM(y) DIV COUNT(*)").alias("pm_milli")
    )
    sw = Window.orderBy("pm_milli", "w")  # |days|/7 rows
    sym = paa.select(
        "w", "pm_milli", F.chr(F.ntile(4).over(sw) + 96).alias("s")
    )
    return sym.agg(
        F.count("*").cast("bigint").alias("n_windows"),
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(w, s))),"
            " x -> x.s), '')"
        ).alias("sax_string"),
        *[
            F.sum(F.when(F.col("s") == c, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n_{c}")
            for c in "abcd"
        ],
    )


# --- X284: Hampel filter -------------------------------------------------------

# 10000 * 3 * 1.4826 (the MAD-to-sigma consistency constant) = 44478
_HAMPEL_K_X10K = 44478


@register(
    "q_hampel_filter",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS y
        FROM orders GROUP BY 1
    ),
    win AS (
        SELECT d, y,
               LIST(y) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING
                             AND CURRENT ROW) AS l
        FROM daily
    ),
    med AS (
        SELECT d, y, list_sort(l)[4] AS med, l
        FROM win WHERE len(l) = 7
    ),
    mad AS (
        SELECT d, y, med,
               list_sort(list_transform(l, v -> ABS(v - med)))[4] AS mad
        FROM med
    )
    SELECT d AS day, CAST(y AS BIGINT) AS y_cents,
           CAST(med AS BIGINT) AS med_cents,
           CAST(mad AS BIGINT) AS mad_cents
    FROM mad
    WHERE 10000 * ABS(y - med) > {_HAMPEL_K_X10K} * mad
    """,
)
def q_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X284: Hampel filter — rolling-median/MAD anomaly days.

    A day is anomalous when |y - med7| > 3 * 1.4826 * MAD7 (median and
    median-absolute-deviation over the trailing 7 days). The robust
    sibling of X132's rolling z-score: one planted spike inflates a
    rolling MEAN and its std enough to mask itself, but moves a median
    of 7 by at most one rank. Exactness: windows with exactly 7 days
    make both medians true middles (sorted[4], 1-based) — integer, no
    interpolation; the flag cross-multiplies the 3*1.4826 constant as
    the integer spec {_HAMPEL_K_X10K}/10000. Emits the anomalous days
    with their local statistics.

    100 TB shape: the fact scan reduces map-side to the
    calendar-bounded daily relation; the list window, sorts, and MAD
    transform run over 7-element arrays on |days| rows.
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("y")
    )
    w = Window.orderBy("d").rowsBetween(-6, 0)  # calendar-bounded
    win = daily.select("d", "y", F.collect_list("y").over(w).alias("l"))
    med = win.where(F.size("l") == 7).select(
        "d", "y", "l", F.expr("array_sort(l)[3]").alias("med")
    )
    mad = med.select(
        "d", "y", "med",
        F.expr("array_sort(transform(l, v -> ABS(v - med)))[3]").alias("mad"),
    )
    return mad.where(
        10000 * F.abs(F.col("y") - F.col("med"))
        > _HAMPEL_K_X10K * F.col("mad")
    ).select(
        F.col("d").alias("day"),
        F.col("y").cast("bigint").alias("y_cents"),
        F.col("med").cast("bigint").alias("med_cents"),
        F.col("mad").cast("bigint").alias("mad_cents"),
    )


# --- X300: LTTB downsampling (fixed-anchor variant) --------------------------

_LTTB_BUCKETS = 60


@register(
    "q_lttb_downsample",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) // 100
                   AS v
        FROM orders GROUP BY 1
    ),
    pts AS (
        SELECT ROW_NUMBER() OVER (ORDER BY d) AS t, d, v,
               NTILE({_LTTB_BUCKETS}) OVER (ORDER BY d) AS bkt
        FROM daily
    ),
    bstat AS (
        SELECT bkt, SUM(t) AS sx, SUM(v) AS sy, COUNT(*) AS n
        FROM pts GROUP BY bkt
    ),
    mid AS (
        SELECT p.bkt, p.t, p.d, p.v,
               ABS(pr.sx * (p.v * nx.n - nx.sy)
                   + p.t * (nx.sy * pr.n - pr.sy * nx.n)
                   + nx.sx * (pr.sy - p.v * pr.n)) AS area2
        FROM pts p
        JOIN bstat pr ON pr.bkt = p.bkt - 1
        JOIN bstat nx ON nx.bkt = p.bkt + 1
    ),
    picked AS (
        SELECT bkt, t, d, v,
               ROW_NUMBER() OVER (PARTITION BY bkt
                                  ORDER BY area2 DESC, t) AS rnk
        FROM mid
    ),
    ends AS (
        SELECT bkt, t, d, v,
               ROW_NUMBER() OVER (PARTITION BY bkt
                   ORDER BY CASE WHEN bkt = 1 THEN t ELSE -t END) AS rnk
        FROM pts WHERE bkt IN (1, {_LTTB_BUCKETS})
    )
    SELECT CAST(bkt AS INT) AS bkt, CAST(t AS BIGINT) AS t, d,
           CAST(v AS BIGINT) AS v
    FROM (SELECT * FROM picked WHERE rnk = 1
          UNION ALL SELECT * FROM ends WHERE rnk = 1)
    ORDER BY bkt
    """,
)
def q_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X300: largest-triangle-three-buckets downsampling, fixed anchors.

    The visual-fidelity downsampler charting stacks use: split the
    daily revenue series into 60 equal-count buckets; in each interior
    bucket keep the point forming the LARGEST triangle against the
    neighboring buckets' mean points (the fixed-anchor LTTB variant —
    anchoring on bucket means instead of the previously selected point
    removes the sequential dependency, so every bucket selects
    independently). Triangle areas compare as exact integers: the
    2*area determinant with mean coordinates sx/n, sy/n is multiplied
    through by n_prev * n_next, clearing both denominators — no float
    enters the argmax. First/last buckets keep their first/last point
    (LTTB's endpoint convention).

    100 TB: the series is calendar-bounded; one fact shuffle builds
    it, the bucket stats are a 60-row relation joined back broadcast.
    """
    o = table(spark, sf_dir, "orders")
    cents = F.sum(
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    )
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        ((cents - cents % 100) / 100).cast("bigint").alias("v")
    )
    w = Window.orderBy("d")
    pts = daily.select(
        F.row_number().over(w).alias("t"),
        "d",
        "v",
        F.ntile(_LTTB_BUCKETS).over(w).alias("bkt"),
    ).localCheckpoint(eager=True)
    bstat = pts.groupBy("bkt").agg(
        F.sum("t").alias("sx"), F.sum("v").alias("sy"), F.count("*").alias("n")
    )
    pr, nx = bstat.alias("pr"), bstat.alias("nx")
    p = pts.alias("p")
    # 2*area scaled by n_pr*n_nx (clearing both mean denominators):
    # |pr.sx*(v*nx.n - nx.sy) + t*(nx.sy*pr.n - pr.sy*nx.n)
    #  + nx.sx*(pr.sy - v*pr.n)| — the same expansion as the oracle,
    # so the integer argmax is identical by construction
    area2 = F.abs(
        F.col("pr.sx") * (F.col("p.v") * F.col("nx.n") - F.col("nx.sy"))
        + F.col("p.t")
        * (F.col("nx.sy") * F.col("pr.n") - F.col("pr.sy") * F.col("nx.n"))
        + F.col("nx.sx") * (F.col("pr.sy") - F.col("p.v") * F.col("pr.n"))
    )
    mid = (
        p.join(F.broadcast(pr), F.col("pr.bkt") == F.col("p.bkt") - 1)
        .join(F.broadcast(nx), F.col("nx.bkt") == F.col("p.bkt") + 1)
        .select(
            F.col("p.bkt").alias("bkt"),
            F.col("p.t").alias("t"),
            F.col("p.d").alias("d"),
            F.col("p.v").alias("v"),
            area2.alias("area2"),
        )
    )
    w_pick = Window.partitionBy("bkt").orderBy(F.desc("area2"), "t")
    picked = (
        mid.withColumn("rnk", F.row_number().over(w_pick))
        .where(F.col("rnk") == 1)
        .drop("area2", "rnk")
    )
    w_ends = Window.partitionBy("bkt").orderBy(
        F.when(F.col("bkt") == 1, F.col("t")).otherwise(-F.col("t"))
    )
    ends = (
        pts.where(F.col("bkt").isin(1, _LTTB_BUCKETS))
        .withColumn("rnk", F.row_number().over(w_ends))
        .where(F.col("rnk") == 1)
        .select("bkt", "t", "d", "v")
    )
    return (
        picked.unionByName(ends)
        .select(
            F.col("bkt").cast("int").alias("bkt"),
            F.col("t").cast("bigint").alias("t"),
            "d",
            F.col("v").cast("bigint").alias("v"),
        )
        .orderBy("bkt")
    )


# --- X301: matrix-profile discords (STOMP diagonal form) ---------------------

_MP_M = 5
_MP_TOP = 20


@register(
    "q_matrix_profile",
    oracle=f"""
    WITH daily AS (
        SELECT ROW_NUMBER() OVER (ORDER BY CAST(o_orderdate AS DATE)) AS t,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) // 100
                   AS v
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    nn AS (SELECT COUNT(*) AS n FROM daily),
    stats AS (
        SELECT t AS i,
               SUM(v) OVER (ORDER BY t
                   ROWS BETWEEN CURRENT ROW AND {_MP_M - 1} FOLLOWING) AS s,
               SUM(v * v) OVER (ORDER BY t
                   ROWS BETWEEN CURRENT ROW AND {_MP_M - 1} FOLLOWING) AS q
        FROM daily
    ),
    win AS (
        SELECT i, s, q, {_MP_M} * q - s * s AS var2
        FROM stats CROSS JOIN nn WHERE i <= n - {_MP_M} + 1
    ),
    prods AS (
        SELECT a.t - b.t AS delta, a.t AS u, a.v * b.v AS c
        FROM daily a JOIN daily b ON a.t > b.t + {_MP_M - 1}
    ),
    sxy AS (
        SELECT delta, u AS i,
               SUM(c) OVER (PARTITION BY delta ORDER BY u
                   ROWS BETWEEN CURRENT ROW AND {_MP_M - 1} FOLLOWING) AS dot,
               COUNT(*) OVER (PARTITION BY delta ORDER BY u
                   ROWS BETWEEN CURRENT ROW AND {_MP_M - 1} FOLLOWING) AS m_got
        FROM prods
    ),
    dists AS (
        SELECT x.i, x.i - x.delta AS j,
               CAST(ROUND(1000000.0 * 2 * {_MP_M}
                    * (1 - ({_MP_M} * x.dot - wi.s * wj.s)
                         / SQRT(CAST(wi.var2 AS DOUBLE) * wj.var2)))
                    AS BIGINT) AS d2_micro
        FROM sxy x
        JOIN win wi ON wi.i = x.i
        JOIN win wj ON wj.i = x.i - x.delta
        WHERE x.m_got = {_MP_M} AND wi.var2 > 0 AND wj.var2 > 0
    ),
    sym AS (
        SELECT i, d2_micro FROM dists
        UNION ALL
        SELECT j AS i, d2_micro FROM dists
    ),
    profile AS (
        SELECT i, MIN(d2_micro) AS nn_d2_micro FROM sym GROUP BY i
    )
    SELECT CAST(i AS BIGINT) AS i, CAST(nn_d2_micro AS BIGINT) AS nn_d2_micro
    FROM profile ORDER BY nn_d2_micro DESC, i LIMIT {_MP_TOP}
    """,
)
def q_matrix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X301: matrix-profile discords via the STOMP diagonal trick.

    For every length-5 window of the daily revenue series, the
    z-normalized Euclidean distance to its nearest NON-TRIVIAL
    neighbor (|i-j| >= m, so a window can't match its own overlap);
    the largest nearest-neighbor distances are discords — the
    subsequences unlike anything else in the series (Yeh et al.,
    Matrix Profile I). Sliding dot products group by DIAGONAL
    delta = i - j: within a diagonal they're a windowed sum of the
    elementwise product series — no per-pair recomputation. All
    inputs to the one float expression are exact integers (sliding
    sums in whole dollars); D^2 micro-rounds before the min.

    100 TB: the series is calendar-bounded (n ~ 2.4k regardless of
    fact scale), so the n^2/2 diagonal relation is ~3M rows whose
    windows partition by delta — embarrassingly parallel, one fact
    shuffle + one bounded diagonal shuffle.
    """
    o = table(spark, sf_dir, "orders")
    cents = F.sum(
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    )
    w_t = Window.orderBy(F.col("d"))
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(((cents - cents % 100) / 100).cast("bigint").alias("v"))
        .select(F.row_number().over(w_t).alias("t"), "v")
        .localCheckpoint(eager=True)
    )
    nn = daily.agg(F.count("*").alias("n"))
    w_fwd = Window.orderBy("t").rowsBetween(0, _MP_M - 1)
    stats = daily.select(
        F.col("t").alias("i"),
        F.sum("v").over(w_fwd).alias("s"),
        F.sum(F.col("v") * F.col("v")).over(w_fwd).alias("q"),
    )
    # 2.4k-row window-stats relation is probed twice (wi, wj) —
    # checkpoint so the sliding-sum subplan runs once
    win = (
        stats.crossJoin(F.broadcast(nn))
        .where(F.col("i") <= F.col("n") - _MP_M + 1)
        .select("i", "s", "q", (_MP_M * F.col("q") - F.col("s") * F.col("s")).alias("var2"))
        .localCheckpoint(eager=True)
    )
    a, b = daily.alias("a"), daily.alias("b")
    prods = a.join(
        F.broadcast(b), F.col("a.t") > F.col("b.t") + (_MP_M - 1)
    ).select(
        (F.col("a.t") - F.col("b.t")).alias("delta"),
        F.col("a.t").alias("u"),
        (F.col("a.v") * F.col("b.v")).alias("c"),
    )
    w_diag = Window.partitionBy("delta").orderBy("u").rowsBetween(0, _MP_M - 1)
    sxy = (
        prods.select(
            "delta",
            F.col("u").alias("i"),
            F.sum("c").over(w_diag).alias("dot"),
            F.count("*").over(w_diag).alias("m_got"),
        )
        .where(F.col("m_got") == _MP_M)
        .alias("x")
    )
    wi, wj = win.alias("wi"), win.alias("wj")
    corr_num = _MP_M * F.col("x.dot") - F.col("wi.s") * F.col("wj.s")
    d2 = F.round(
        1000000.0
        * 2
        * _MP_M
        * (
            1
            - corr_num
            / F.sqrt(F.col("wi.var2").cast("double") * F.col("wj.var2"))
        )
    ).cast("bigint")
    dists = (
        sxy.join(F.broadcast(wi), F.col("wi.i") == F.col("x.i"))
        .join(
            F.broadcast(wj),
            F.col("wj.i") == F.col("x.i") - F.col("x.delta"),
        )
        .where((F.col("wi.var2") > 0) & (F.col("wj.var2") > 0))
        .select(
            F.col("x.i").alias("pi"),
            (F.col("x.i") - F.col("x.delta")).alias("pj"),
            d2.alias("d2_micro"),
        )
    )
    sym = dists.select(F.col("pi").alias("i"), "d2_micro").unionByName(
        dists.select(F.col("pj").alias("i"), "d2_micro")
    )
    return (
        sym.groupBy("i")
        .agg(F.min("d2_micro").alias("nn_d2_micro"))
        .select(
            F.col("i").cast("bigint").alias("i"),
            F.col("nn_d2_micro").cast("bigint").alias("nn_d2_micro"),
        )
        .orderBy(F.desc("nn_d2_micro"), "i")
        .limit(_MP_TOP)
    )


# --- X315: STL-lite robust decomposition -------------------------------------

_STL_TOP = 25


@register(
    "q_stl_decompose",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS v
        FROM orders GROUP BY 1
    ),
    tr AS (
        SELECT d, v,
               CAST(MEDIAN(v) OVER w AS BIGINT) AS trend,
               COUNT(*) OVER w AS wn
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
        SELECT d, v, trend, v - trend AS detr,
               dayofweek(d) AS wd
        FROM tr WHERE wn = 7
    ),
    seas AS (
        SELECT wd, CAST(2 * MEDIAN(detr) AS BIGINT) AS dbl_seas
        FROM det GROUP BY wd
    )
    SELECT t.d, t.v, t.trend, s.dbl_seas,
           CAST(2 * t.detr - s.dbl_seas AS BIGINT) AS dbl_resid
    FROM det t JOIN seas s ON s.wd = t.wd
    ORDER BY ABS(2 * t.detr - s.dbl_seas) DESC, t.d
    LIMIT {_STL_TOP}
    """,
)
def q_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X315: robust STL-lite — trend/seasonal/residual by medians.

    The robust seasonal split X143's mean-based deseasonalization
    can't give (one outlier day drags a mean trend toward itself and
    masks its own anomaly; it moves a 7-median by at most one rank):
    trend = centered rolling 7-day MEDIAN (odd window, so the median
    IS an input integer — exact), seasonal = per-weekday median of
    the detrended series (doubled, X276's trick, since the count can
    be even), residual = 2*detrended - dbl_seasonal stays integer.
    Top-25 |residual| days are the calendar-adjusted anomalies.

    100 TB: one fact shuffle to the calendar-bounded daily series;
    the rolling window and the 7-row weekday medians live there.
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("v")
    )
    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    # Spark forbids median() over a frame — the sorted 7-list's 4th
    # element IS the median for the (odd) full windows we keep
    tr = daily.select(
        "d",
        "v",
        F.element_at(F.array_sort(F.collect_list("v").over(w7)), 4)
        .cast("bigint")
        .alias("trend"),
        F.count("*").over(w7).alias("wn"),
    )
    det = tr.where(F.col("wn") == 7).select(
        "d",
        "v",
        "trend",
        (F.col("v") - F.col("trend")).alias("detr"),
        F.dayofweek("d").alias("wd"),
    )
    seas = det.groupBy("wd").agg(
        (2 * F.median("detr")).cast("bigint").alias("dbl_seas")
    )
    dbl_resid = (2 * F.col("detr") - F.col("dbl_seas")).cast("bigint")
    return (
        det.join(F.broadcast(seas), "wd")
        .select("d", "v", "trend", "dbl_seas", dbl_resid.alias("dbl_resid"))
        .orderBy(F.abs(F.col("dbl_resid")).desc(), "d")
        .limit(_STL_TOP)
    )


# --- X319: Western Electric control chart ------------------------------------

_CC_BASELINE = 60


@register(
    "q_control_chart",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) // 100
                   AS v
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT d, v, ROW_NUMBER() OVER (ORDER BY d) AS t FROM daily
    ),
    base AS (
        SELECT COUNT(*) AS n, SUM(v) AS s, SUM(v * v) AS q
        FROM idx WHERE t <= {_CC_BASELINE}
    ),
    scored AS (
        SELECT d, t, v,
               n * v - s AS dev,
               n * q - s * s AS var2
        FROM idx CROSS JOIN base WHERE t > {_CC_BASELINE}
    ),
    flags AS (
        SELECT d, t,
               CASE WHEN dev * dev > 9 * var2 THEN 1 ELSE 0 END AS b3,
               CASE WHEN dev * dev > 4 * var2 AND dev > 0 THEN 1 ELSE 0 END
                   AS b2p,
               CASE WHEN dev * dev > 4 * var2 AND dev < 0 THEN 1 ELSE 0 END
                   AS b2n,
               CASE WHEN dev * dev > 1 * var2 AND dev > 0 THEN 1 ELSE 0 END
                   AS b1p,
               CASE WHEN dev * dev > 1 * var2 AND dev < 0 THEN 1 ELSE 0 END
                   AS b1n,
               CASE WHEN dev > 0 THEN 1 WHEN dev < 0 THEN -1 ELSE 0 END
                   AS side
        FROM scored
    ),
    runs AS (
        SELECT d,
               b3 AS r1,
               CASE WHEN SUM(b2p) OVER w3 >= 2 OR SUM(b2n) OVER w3 >= 2
                    THEN 1 ELSE 0 END AS r2,
               CASE WHEN SUM(b1p) OVER w5 >= 4 OR SUM(b1n) OVER w5 >= 4
                    THEN 1 ELSE 0 END AS r3,
               CASE WHEN ABS(SUM(side) OVER w8) = 8
                     AND COUNT(*) OVER w8 = 8 THEN 1 ELSE 0 END AS r4
        FROM flags
        WINDOW w3 AS (ORDER BY t ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
               w5 AS (ORDER BY t ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
               w8 AS (ORDER BY t ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
    )
    SELECT rule, n_violations, first_day FROM (
        SELECT 1 AS rule, CAST(SUM(r1) AS BIGINT) AS n_violations,
               MIN(CASE WHEN r1 = 1 THEN d END) AS first_day FROM runs
        UNION ALL
        SELECT 2, CAST(SUM(r2) AS BIGINT),
               MIN(CASE WHEN r2 = 1 THEN d END) FROM runs
        UNION ALL
        SELECT 3, CAST(SUM(r3) AS BIGINT),
               MIN(CASE WHEN r3 = 1 THEN d END) FROM runs
        UNION ALL
        SELECT 4, CAST(SUM(r4) AS BIGINT),
               MIN(CASE WHEN r4 = 1 THEN d END) FROM runs
    ) ORDER BY rule
    """,
)
def q_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X319: Shewhart control chart with Western Electric rules 1-4.

    Statistical process control over daily revenue (whole dollars):
    baseline mean/sigma from the first 60 days, then every later day
    tests rule 1 (|x-mu| > 3 sigma), rule 2 (2 of 3 consecutive
    beyond 2 sigma, same side), rule 3 (4 of 5 beyond 1 sigma, same
    side), rule 4 (8 consecutive on one side). NO sigma is ever a
    float: |x - mu| > k*sigma cross-multiplies to
    (n*x - S)^2 > k^2 * (n*Q - S^2) — X75's trick applied per
    threshold — and the run rules are windowed sums of those exact
    indicator bits. Output is the 4-row violation census with first
    trigger dates.

    100 TB: one fact shuffle to the calendar-bounded daily series;
    the baseline is a 60-row aggregate, the rules are rolling windows
    over the bounded series.
    """
    o = table(spark, sf_dir, "orders")
    cents = F.sum(
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    )
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        ((cents - cents % 100) / 100).cast("bigint").alias("v")
    )
    idx = daily.select(
        "d", "v", F.row_number().over(Window.orderBy("d")).alias("t")
    ).localCheckpoint(eager=True)
    base = idx.where(F.col("t") <= _CC_BASELINE).agg(
        F.count("*").alias("n"), F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("q"),
    )
    scored = (
        idx.where(F.col("t") > _CC_BASELINE)
        .crossJoin(F.broadcast(base))
        .select(
            "d",
            "t",
            (F.col("n") * F.col("v") - F.col("s")).alias("dev"),
            (F.col("n") * F.col("q") - F.col("s") * F.col("s")).alias("var2"),
        )
    )
    dev, var2 = F.col("dev"), F.col("var2")
    flags = scored.select(
        "d",
        "t",
        F.when(dev * dev > 9 * var2, 1).otherwise(0).alias("b3"),
        F.when((dev * dev > 4 * var2) & (dev > 0), 1).otherwise(0).alias("b2p"),
        F.when((dev * dev > 4 * var2) & (dev < 0), 1).otherwise(0).alias("b2n"),
        F.when((dev * dev > 1 * var2) & (dev > 0), 1).otherwise(0).alias("b1p"),
        F.when((dev * dev > 1 * var2) & (dev < 0), 1).otherwise(0).alias("b1n"),
        F.when(dev > 0, 1).when(dev < 0, -1).otherwise(0).alias("side"),
    )
    w3 = Window.orderBy("t").rowsBetween(-2, 0)
    w5 = Window.orderBy("t").rowsBetween(-4, 0)
    w8 = Window.orderBy("t").rowsBetween(-7, 0)
    runs = flags.select(
        "d",
        F.col("b3").alias("r1"),
        F.when(
            (F.sum("b2p").over(w3) >= 2) | (F.sum("b2n").over(w3) >= 2), 1
        )
        .otherwise(0)
        .alias("r2"),
        F.when(
            (F.sum("b1p").over(w5) >= 4) | (F.sum("b1n").over(w5) >= 4), 1
        )
        .otherwise(0)
        .alias("r3"),
        F.when(
            (F.abs(F.sum("side").over(w8)) == 8)
            & (F.count("*").over(w8) == 8),
            1,
        )
        .otherwise(0)
        .alias("r4"),
    ).localCheckpoint(eager=True)

    def census(rule: int) -> DataFrame:
        col = f"r{rule}"
        return runs.agg(
            F.lit(rule).cast("int").alias("rule"),
            F.sum(col).cast("bigint").alias("n_violations"),
            F.min(F.when(F.col(col) == 1, F.col("d"))).alias("first_day"),
        )

    out = census(1)
    for r in (2, 3, 4):
        out = out.unionByName(census(r))
    return out.orderBy("rule")


# --- X347: realized + Parkinson volatility -----------------------------------

_LN2 = 0.6931471805599453


@register(
    "q_volatility",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev
        FROM orders GROUP BY 1
    ),
    nxt AS (
        SELECT rev, LEAD(rev) OVER (ORDER BY d) AS next_rev FROM daily
    ),
    rets AS (
        SELECT CAST(ROUND(1000000.0
                          * LN(CAST(next_rev AS DOUBLE) / rev)) AS BIGINT)
                   AS r
        FROM nxt WHERE next_rev IS NOT NULL
    ),
    rv AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               SUM(r * r) AS srr
        FROM rets
    ),
    weekly AS (
        SELECT date_trunc('week', d) AS wk, MAX(rev) AS h, MIN(rev) AS l
        FROM daily GROUP BY 1
    ),
    pk AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_weeks,
               SUM(t * t) AS spk
        FROM (SELECT CAST(ROUND(1000000.0
                                * LN(CAST(h AS DOUBLE) / l)) AS BIGINT) AS t
              FROM weekly WHERE h > l)
    )
    SELECT rv.n_days,
           CAST(ROUND(SQRT(252.0 * CAST(rv.srr AS DOUBLE) / rv.n_days))
                AS BIGINT) AS realized_vol_micro,
           pk.n_weeks,
           CAST(ROUND(SQRT(52.0 * CAST(pk.spk AS DOUBLE)
                           / (4 * {_LN2!r} * pk.n_weeks))) AS BIGINT)
               AS parkinson_vol_micro
    FROM rv CROSS JOIN pk
    """,
)
def q_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X347: annualized realized + Parkinson volatility of revenue.

    Realized vol = sqrt(252/n sum r^2) over daily log returns;
    Parkinson = sqrt(52 sum ln(H/L)^2 / (4 ln2 n)) over weekly
    high/low ranges — the range estimator that is ~5x more efficient
    per observation and needs no consecutive-day alignment. Each log
    micro-rounds FIRST so both square sums are exact integers; ln 2
    is a shared literal (X340's libm discipline). Day-over-day
    adjacency uses the X128 rank+equi-join lead — no global window
    over the daily relation.

    100 TB: one date-grain aggregate, the lead join on the tiny
    daily relation, 1-row outputs.
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev")
    ).localCheckpoint(eager=True)
    ranked = ordered_cumsum(
        daily, order_by=["d"], row_number_col="rn"
    ).localCheckpoint(eager=True)
    nxt = ranked.alias("a").join(
        ranked.select(
            (F.col("rn") - 1).alias("rn_prev"), F.col("rev").alias("next_rev")
        ),
        F.col("a.rn") == F.col("rn_prev"),
    )
    rets = nxt.select(
        F.round(
            F.lit(1000000.0)
            * F.log(F.col("next_rev").cast("double") / F.col("rev"))
        )
        .cast("bigint")
        .alias("r")
    )
    rv = rets.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum(F.col("r") * F.col("r")).alias("srr"),
    )
    weekly = daily.groupBy(F.date_trunc("week", "d").alias("wk")).agg(
        F.max("rev").alias("h"), F.min("rev").alias("l")
    )
    pk = (
        weekly.where(F.col("h") > F.col("l"))
        .select(
            F.round(
                F.lit(1000000.0)
                * F.log(F.col("h").cast("double") / F.col("l"))
            )
            .cast("bigint")
            .alias("t")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_weeks"),
            F.sum(F.col("t") * F.col("t")).alias("spk"),
        )
    )
    return rv.crossJoin(F.broadcast(pk)).select(
        "n_days",
        F.round(
            F.sqrt(F.lit(252.0) * F.col("srr").cast("double") / F.col("n_days"))
        )
        .cast("bigint")
        .alias("realized_vol_micro"),
        "n_weeks",
        F.round(
            F.sqrt(
                F.lit(52.0)
                * F.col("spk").cast("double")
                / (4 * F.lit(_LN2) * F.col("n_weeks"))
            )
        )
        .cast("bigint")
        .alias("parkinson_vol_micro"),
    )


# --- X366: exact integer Haar wavelet decomposition ------------------------------

_HAAR_N = 2048  # 2^11 days
_HAAR_LEVELS = 11


@register(
    "q_haar_wavelet",
    oracle=f"""
    WITH daily AS (
        SELECT o_orderdate AS d,
               SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS rev
        FROM orders GROUP BY 1
    ),
    idxd AS (
        SELECT rev, ROW_NUMBER() OVER (ORDER BY d) - 1 AS i
        FROM daily QUALIFY ROW_NUMBER() OVER (ORDER BY d) <= {_HAAR_N}
    ),
    lev AS (
        SELECT l.l AS level, i // (1 << l.l) AS block,
               CASE WHEN (i // (1 << (l.l - 1))) % 2 = 0
                    THEN rev ELSE -rev END AS term
        FROM idxd CROSS JOIN
             (SELECT UNNEST(generate_series(1, {_HAAR_LEVELS})) AS l) l
    ),
    coeffs AS (
        SELECT level, block, SUM(term) AS detail
        FROM lev GROUP BY 1, 2
    )
    SELECT level,
           CAST(COUNT(*) AS BIGINT) AS n_coeffs,
           CAST(MAX(ABS(detail)) AS BIGINT) AS max_abs_detail,
           CAST(SUM(CAST(detail AS DECIMAL(38,0)) * detail) AS VARCHAR)
               AS energy
    FROM coeffs
    GROUP BY level
    ORDER BY level
    """,
)
def q_haar_wavelet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X366: unnormalized Haar wavelet decomposition of the daily
    revenue series (first 2^11 days), EXACT integers end-to-end — the
    multiresolution member of the series-representation family (X300
    LTTB downsamples, SAX symbolizes, Haar localizes energy by scale:
    level-l detail = first-half sum minus second-half sum of each
    2^l-day block, the change detector behind wavelet denoising and
    the classic OLAP approximate-query synopsis).

    No iteration: detail(l, j) is ONE signed aggregate — each day
    joins its (level, block) via integer shifts, sign from the
    half-block parity bit — so all 11 levels compute in a single
    explode + groupBy. Per-level energy rides as VARCHAR DECIMAL(38)
    (detail^2 sums pass int64 at the coarse levels).

    100 TB: daily aggregate is calendar-bounded; the 11x explode is
    over that bounded relation, never facts.
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice")).cast("bigint")).alias("rev")
    )
    idxd = (
        ordered_cumsum(daily, order_by=["d"], row_number_col="rn")
        .where(F.col("rn") <= _HAAR_N)
        .select("rev", (F.col("rn") - 1).alias("i"))
    )
    lev = idxd.select(
        "rev",
        "i",
        F.explode(
            F.array(*[F.lit(l) for l in range(1, _HAAR_LEVELS + 1)])
        ).alias("level"),
    ).select(
        "level",
        F.expr("i DIV shiftleft(1, level)").alias("block"),
        F.when(
            F.expr("(i DIV shiftleft(1, level - 1)) % 2") == 0, F.col("rev")
        )
        .otherwise(-F.col("rev"))
        .alias("term"),
    )
    coeffs = lev.groupBy("level", "block").agg(F.sum("term").alias("detail"))
    return (
        coeffs.groupBy("level")
        .agg(
            F.count("*").cast("bigint").alias("n_coeffs"),
            F.max(F.abs("detail")).cast("bigint").alias("max_abs_detail"),
            F.sum(F.col("detail").cast("decimal(38,0)") * F.col("detail"))
            .cast("string")
            .alias("energy"),
        )
        .orderBy("level")
    )
