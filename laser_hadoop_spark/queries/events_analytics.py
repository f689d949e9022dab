"""Event/product-analytics queries over the `events` table.

The capability closure of the reference's counter-style reporting onto
event streams (SURVEY.md §2.9 context): first-seen/cumulative distinct
counting, cohort retention, and ordered-funnel analysis. All three are
window/aggregate compositions that share a single hash partitioning on
user_id for the heavy phase — the property that matters at 100 TB,
where `events` is the big table and per-user state must never leave its
shuffle partition.

The family also holds activity and engagement metrics (DAU/MAU,
streaks, bitmaps, growth accounting, churn), sequence mining and
matching, and multi-touch attribution (position-based, Shapley).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from laser_hadoop_spark.registry import register
from laser_hadoop_spark.tables import table


@register(
    "q_cumulative_distinct",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    daily_new AS (
        SELECT first_day AS day, COUNT(*) AS n_new
        FROM first_seen GROUP BY first_day
    )
    SELECT day, n_new,
           CAST(SUM(n_new) OVER (ORDER BY day
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT)
               AS cum_users
    FROM daily_new
    """,
)
def q_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new purchasers + running distinct-purchaser total.

    COUNT(DISTINCT) over a growing window is not directly computable,
    so the engine form is first-seen attribution: one aggregate finds
    each user's first day (shuffle on user_id), a per-day count and a
    running sum over the tiny day-level table finish the job. The
    expensive phase touches each user once — no day x user state.
    """
    e = table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    first_seen = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    daily_new = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("n_new")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily_new.select("day", "n_new", F.sum("n_new").over(w).alias("cum_users"))


@register(
    "q_cohort_retention",
    oracle="""
    WITH cohorts AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        FROM events WHERE event_type = 'purchase'
    )
    SELECT c.cohort_day,
           date_diff('day', c.cohort_day, a.day) AS offset_days,
           COUNT(*) AS n_active
    FROM cohorts c JOIN activity a ON c.user_id = a.user_id
    WHERE date_diff('day', c.cohort_day, a.day) <= 7
    GROUP BY 1, 2
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: purchasers active N days after first purchase.

    cohort assignment (min day per user), the distinct user-day
    activity set, and the cohort⋈activity join all partition by
    user_id — one shuffle feeds all three; only the final tiny
    (cohort, offset) aggregate re-partitions. COUNT(*) over the
    distinct user-day set counts each user once per day by
    construction (no COUNT(DISTINCT) in the join output needed).
    """
    e = table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    day = F.to_date("ts")
    cohorts = e.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    activity = e.select("user_id", day.alias("day")).distinct()
    offset = F.datediff(F.col("day"), F.col("cohort_day"))
    return (
        cohorts.join(activity, "user_id")
        .where(offset <= 7)
        .groupBy("cohort_day", offset.alias("offset_days"))
        .agg(F.count("*").alias("n_active"))
    )


@register(
    "q_funnel",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts >= v.t_view
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
        GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_click_after_view,
           (SELECT COUNT(*) FROM p) AS n_purchase_after_click
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: view -> click (after view) -> purchase (after click).

    Stage N is a conditional min-timestamp aggregate joined against
    stage N-1's result; every join and aggregate keys on user_id, so
    Catalyst chains them on one hash partitioning. The final three
    counts are 1-row aggregates — the funnel never materializes
    per-event state.
    """
    e = table(spark, sf_dir, "events")
    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(c.agg(F.count("*").alias("n_click_after_view")))
        .crossJoin(p.agg(F.count("*").alias("n_purchase_after_click")))
    )


@register(
    "q_time_rollup",
    oracle="""
    WITH e AS (
        SELECT date_trunc('hour', ts) AS h, date_trunc('day', ts) AS d,
               user_id, value
        FROM events
    )
    SELECT CASE WHEN GROUPING(h) = 0 THEN 'hour' ELSE 'day' END AS resolution,
           COALESCE(h, d) AS bucket,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4)
               AS DOUBLE) AS sum_value
    FROM e GROUP BY GROUPING SETS ((h), (d))
    """,
)
def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution time rollup: hourly AND daily
    event aggregates from ONE scan via GROUPING SETS on two bucket
    widths (one Expand + one aggregate — a naive engine scans twice).

    Buckets truncate on the raw epoch-micros long (unix_micros), not
    date_trunc on the session-zoned timestamp: date_trunc('day') shifts
    with spark.sql.session.timeZone while the integer division is
    TZ-independent — the adversarial-session probe catches the
    difference. The decimal SUM spelling is identical on both engines
    (exact, order-independent). At 100 TB this is the continuous-
    aggregate pattern: the Expand doubles rows pre-shuffle but the
    partial aggregate collapses them before the exchange.
    """
    from laser_hadoop_spark.tables import register_views

    register_views(spark, sf_dir, names=("events",))
    return spark.sql(
        """
        WITH e AS (
            SELECT timestamp_micros(
                       (unix_micros(ts) div 3600000000) * 3600000000) AS h,
                   timestamp_micros(
                       (unix_micros(ts) div 86400000000) * 86400000000) AS d,
                   user_id, value
            FROM events
        )
        SELECT CASE WHEN GROUPING(h) = 0 THEN 'hour' ELSE 'day' END AS resolution,
               COALESCE(h, d) AS bucket,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4)
                   AS sum_value
        FROM e GROUP BY GROUPING SETS ((h), (d))
        """
    )


@register(
    "q_time_weighted_avg",
    oracle="""
    WITH seq AS (
        SELECT user_id,
               CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS v_micro,
               (LEAD(epoch_us(ts)) OVER (
                    PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                - epoch_us(ts)) // 1000 AS dt_ms
        FROM events
    )
    SELECT user_id,
           COUNT(*) AS n_intervals,
           CAST(SUM(dt_ms) AS BIGINT) AS total_ms,
           ROUND(CAST(SUM(CAST(v_micro AS HUGEINT) * dt_ms) AS DOUBLE)
                 / CAST(SUM(dt_ms) AS DOUBLE) / 1000000.0, 4) AS twap
    FROM seq
    WHERE dt_ms IS NOT NULL AND dt_ms > 0
    GROUP BY user_id
    """,
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS-closure: time-weighted average (TWAP) per user.

    Each observation holds its value until the next event, so the mean
    weights values by interval duration — the irregular-time-series
    aggregate (TimescaleDB `time_weight('LOCF')` semantics) a plain AVG
    gets wrong. Exact cross-engine arithmetic: micro-unit values times
    integer millisecond durations summed in decimal(38) (HUGEINT on the
    oracle side), one IEEE division at the end.

    Plan: one window (lead) and one aggregate, both partitioned by
    user_id — two shuffles on the same key; AQE coalesces. Zero-length
    intervals (same-timestamp ties) drop out as weight-0.
    """
    from laser_hadoop_spark.functions.scalar import micro_units

    e = table(spark, sf_dir, "events")
    ts_us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy(ts_us, F.col("event_id"))
    seq = e.select(
        "user_id",
        micro_units(F.col("value")).alias("v_micro"),
        ((F.lead(ts_us).over(w) - ts_us) / 1000).cast("bigint").alias("dt_ms"),
    ).where(F.col("dt_ms").isNotNull() & (F.col("dt_ms") > 0))
    return seq.groupBy("user_id").agg(
        F.count("*").alias("n_intervals"),
        F.sum("dt_ms").alias("total_ms"),
        F.round(
            F.sum((F.col("v_micro") * F.col("dt_ms")).cast("decimal(38,0)")).cast(
                "double"
            )
            / F.sum("dt_ms").cast("double")
            / F.lit(1_000_000.0),
            4,
        ).alias("twap"),
    )


@register(
    "q_ohlc_candles",
    oracle="""
    WITH ranked AS (
        SELECT event_type, CAST(ts AS DATE) AS day, value,
               ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                  ORDER BY ts, event_id) AS rn_open,
               ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                  ORDER BY ts DESC, event_id DESC) AS rn_close
        FROM events
    )
    SELECT event_type, day,
           ROUND(MAX(CASE WHEN rn_open  = 1 THEN value END), 4) AS open,
           ROUND(MAX(value), 4) AS high,
           ROUND(MIN(value), 4) AS low,
           ROUND(MAX(CASE WHEN rn_close = 1 THEN value END), 4) AS close,
           COUNT(*) AS n_events
    FROM ranked
    GROUP BY event_type, day
    """,
)
def q_ohlc_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS-closure: OHLC (open-high-low-close) candlestick rollup.

    Daily candles per event type: first/last value by event time (with
    the unique event_id tiebreaker — arg_min/arg_max alone would be
    nondeterministic under timestamp ties) plus min/max extremes. The
    financial-bar shape; open/close select a row *at* an extreme of the
    ordering, high/low are plain extremes, all in one window + one
    aggregate over the same (type, day) partitioning.
    """
    e = table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    w_open = Window.partitionBy("event_type", day).orderBy("ts", "event_id")
    w_close = Window.partitionBy("event_type", day).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = e.select(
        "event_type",
        day.alias("day"),
        "value",
        F.row_number().over(w_open).alias("rn_open"),
        F.row_number().over(w_close).alias("rn_close"),
    )
    return ranked.groupBy("event_type", "day").agg(
        F.round(F.max(F.when(F.col("rn_open") == 1, F.col("value"))), 4).alias("open"),
        F.round(F.max("value"), 4).alias("high"),
        F.round(F.min("value"), 4).alias("low"),
        F.round(F.max(F.when(F.col("rn_close") == 1, F.col("value"))), 4).alias(
            "close"
        ),
        F.count("*").alias("n_events"),
    )


@register(
    "q_market_basket",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    n AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM ut),
    s AS (SELECT event_type, COUNT(*) AS supp FROM ut GROUP BY event_type),
    p AS (
        SELECT a.event_type AS ante, b.event_type AS cons, COUNT(*) AS supp_ab
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT p.ante, p.cons, p.supp_ab,
           sa.supp AS supp_a, sb.supp AS supp_b,
           CAST(p.supp_ab * 10000 // sa.supp AS BIGINT) AS conf_bp,
           CAST((CAST(p.supp_ab AS HUGEINT) * n.n_users * 1000000)
                // (CAST(sa.supp AS HUGEINT) * sb.supp) AS BIGINT) AS lift_micro
    FROM p
    JOIN s sa ON sa.event_type = p.ante
    JOIN s sb ON sb.event_type = p.cons
    CROSS JOIN n
    """,
)
def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mining-closure: association rules (support / confidence / lift).

    Pairwise co-occurrence of event types across users: for each
    unordered type pair, the user support of both, the confidence of
    ante=>cons in basis points, and the lift in micro-units — all exact
    integer arithmetic (DIV), no FP.

    Plan discipline: ONE distinct over (user, item) feeds everything.
    Per-item supports attach as a count window over the item partition
    and ride through the user-keyed self-join (min() in the pair
    aggregate recovers them), instead of re-aggregating — and
    re-shuffling — the distinct relation once per support table; the
    global user count is the only single-partition stage (one long).
    """
    e = table(spark, sf_dir, "events")
    ut = e.select("user_id", "event_type").distinct()
    n = ut.agg(F.count_distinct("user_id").alias("n_users"))
    w_item = Window.partitionBy("event_type")
    uts = ut.withColumn("supp", F.count("*").over(w_item))
    a = uts.alias("a")
    b = uts.alias("b")
    p = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("ante"), F.col("b.event_type").alias("cons")
        )
        .agg(
            F.count("*").alias("supp_ab"),
            F.min("a.supp").alias("supp_a"),
            F.min("b.supp").alias("supp_b"),
        )
    )
    return p.crossJoin(F.broadcast(n)).select(
        "ante",
        "cons",
        "supp_ab",
        "supp_a",
        "supp_b",
        F.expr("CAST((supp_ab * 10000) DIV supp_a AS BIGINT)").alias("conf_bp"),
        F.expr(
            "CAST((CAST(supp_ab AS DECIMAL(38,0)) * n_users * 1000000)"
            " DIV (CAST(supp_a AS DECIMAL(38,0)) * supp_b) AS BIGINT)"
        ).alias("lift_micro"),
    )


@register(
    "q_attribution",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, value,
               FIRST_VALUE(CASE WHEN event_type IN ('click', 'view')
                                THEN event_type END IGNORE NULLS)
                   OVER w AS first_touch,
               LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
                               THEN event_type END IGNORE NULLS)
                   OVER w AS last_touch
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    conv AS (SELECT * FROM seq WHERE event_type = 'purchase')
    SELECT 'first_touch' AS model, COALESCE(first_touch, 'none') AS touch,
           COUNT(*) AS n_conversions,
           CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS value_micro
    FROM conv GROUP BY 2
    UNION ALL
    SELECT 'last_touch', COALESCE(last_touch, 'none'), COUNT(*),
           CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
    FROM conv GROUP BY 2
    """,
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mining-closure: first-touch / last-touch conversion attribution.

    Every purchase credits the user's earliest (first-touch) and most
    recent (last-touch) preceding marketing touch (click/view), via
    first/last IGNORE NULLS over a [unbounded, -1] row frame — the
    running-state-per-user shape that in the reference would be an
    imperative per-record scan. Purchases with no preceding touch land
    in 'none'. Revenue sums in exact micro-units; one user_id window +
    one small aggregate.
    """
    from laser_hadoop_spark.functions.scalar import micro_units

    e = table(spark, sf_dir, "events")
    touch = F.when(F.col("event_type").isin("click", "view"), F.col("event_type"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = e.select(
        "user_id",
        "event_type",
        "value",
        F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
        F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
    )
    conv = seq.where(F.col("event_type") == "purchase")

    def roll(model: str, col: str) -> DataFrame:
        return conv.groupBy(
            F.coalesce(F.col(col), F.lit("none")).alias("touch")
        ).agg(
            F.count("*").alias("n_conversions"),
            F.sum(micro_units(F.col("value"))).alias("value_micro"),
        ).select(F.lit(model).alias("model"), "touch", "n_conversions", "value_micro")

    return roll("first_touch", "first_touch").unionByName(
        roll("last_touch", "last_touch")
    )


@register(
    "q_resample_linear",
    oracle="""
    WITH ev AS (
        SELECT user_id, epoch_us(ts) AS t_us,
               CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS v_micro,
               event_id
        FROM events
    ),
    bounds AS (
        SELECT user_id,
               ((MIN(t_us) + 3599999999) // 3600000000) * 3600000000 AS g_lo,
               (MAX(t_us) // 3600000000) * 3600000000 AS g_hi
        FROM ev GROUP BY user_id
    ),
    grid AS (
        SELECT user_id, unnest(generate_series(g_lo, g_hi, 3600000000)) AS g_us
        FROM bounds WHERE g_lo <= g_hi
    ),
    merged AS (
        SELECT user_id, t_us, v_micro, 0 AS is_grid, event_id FROM ev
        UNION ALL
        SELECT user_id, g_us, NULL, 1, NULL FROM grid
    ),
    walked AS (
        SELECT user_id, t_us, is_grid,
               LAST_VALUE(v_micro IGNORE NULLS) OVER w_fwd AS v0,
               LAST_VALUE(CASE WHEN is_grid = 0 THEN t_us END IGNORE NULLS)
                   OVER w_fwd AS t0,
               FIRST_VALUE(v_micro IGNORE NULLS) OVER w_bwd AS v1,
               FIRST_VALUE(CASE WHEN is_grid = 0 THEN t_us END IGNORE NULLS)
                   OVER w_bwd AS t1
        FROM merged
        WINDOW
          w_fwd AS (PARTITION BY user_id
                    ORDER BY t_us, is_grid, event_id NULLS FIRST
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          w_bwd AS (PARTITION BY user_id
                    ORDER BY t_us, is_grid, event_id NULLS FIRST
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    ),
    interp AS (
        SELECT user_id, t_us,
               v0 + CASE WHEN (t1 - t0) // 1000 <= 0 THEN 0
                    ELSE ((v1 - v0) * ((t_us - t0) // 1000))
                         // ((t1 - t0) // 1000) END AS v_interp
        FROM walked
        WHERE is_grid = 1 AND v0 IS NOT NULL AND v1 IS NOT NULL
    )
    SELECT user_id, t_us AS grid_us,
           CAST((v_interp + 50) // 100 AS DOUBLE) / 10000.0 AS value_interp
    FROM interp
    """,
)
def q_resample_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS-closure: resample irregular series onto an hourly grid with
    linear interpolation.

    The regularization step before any fixed-step model: per user, grid
    points between the first and last observation get v0 + (v1-v0) *
    (g-t0)/(t1-t0) from the bracketing events. Implemented without an
    interval join: grid rows UNION into the event stream and one
    forward + one backward IGNORE-NULLS window walk attaches the
    bracketing (t0,v0,t1,v1) — the gap-fill trick (X23) extended to
    two-sided brackets. Exact integer arithmetic: micro-unit values,
    millisecond deltas, integer division — identical on both engines
    (grid timestamps are exact hour multiples in epoch micros).

    Scale shape: the grid is generated per user from a per-user min/max
    aggregate (sequence explode, bounded by span/step), and both
    windows share the user_id partitioning — one shuffle for the
    windows plus the small bounds aggregate.
    """
    e = table(spark, sf_dir, "events")
    from laser_hadoop_spark.functions.scalar import micro_units

    HOUR = 3_600_000_000
    ev = e.select(
        "user_id",
        F.unix_micros("ts").alias("t_us"),
        micro_units(F.col("value")).alias("v_micro"),
        "event_id",
    )
    bounds = ev.groupBy("user_id").agg(
        (((F.min("t_us") + HOUR - 1) / HOUR).cast("bigint") * HOUR).alias("g_lo"),
        ((F.max("t_us") / HOUR).cast("bigint") * HOUR).alias("g_hi"),
    )
    grid = bounds.where(F.col("g_lo") <= F.col("g_hi")).select(
        "user_id",
        F.explode(
            F.sequence(F.col("g_lo"), F.col("g_hi"), F.lit(HOUR))
        ).alias("t_us"),
    )
    merged = ev.select(
        "user_id", "t_us", "v_micro", F.lit(0).alias("is_grid"), "event_id"
    ).unionByName(
        grid.select(
            "user_id",
            "t_us",
            F.lit(None).cast("bigint").alias("v_micro"),
            F.lit(1).alias("is_grid"),
            F.lit(None).cast("bigint").alias("event_id"),
        )
    )
    order = [F.col("t_us"), F.col("is_grid"), F.col("event_id").asc_nulls_first()]
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_bwd = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    ev_t = F.when(F.col("is_grid") == 0, F.col("t_us"))
    walked = merged.select(
        "user_id",
        "t_us",
        "is_grid",
        F.last("v_micro", ignorenulls=True).over(w_fwd).alias("v0"),
        F.last(ev_t, ignorenulls=True).over(w_fwd).alias("t0"),
        F.first("v_micro", ignorenulls=True).over(w_bwd).alias("v1"),
        F.first(ev_t, ignorenulls=True).over(w_bwd).alias("t1"),
    )
    # Spark's DIV and DuckDB's // both truncate toward zero, so the
    # integer recurrence is identical. The final 4-decimal rounding
    # happens IN INTEGER SPACE ((v + 50) DIV 100, values are
    # non-negative) before one exact double division — ROUND(double, 4)
    # straddles .xxxx5 boundaries differently per engine (Spark rounds
    # the shortest decimal repr, DuckDB the binary value) and was
    # measured flipping the 4th decimal on this query.
    interp = F.col("v0") + F.when(
        F.expr("(t1 - t0) DIV 1000") <= 0, F.lit(0)
    ).otherwise(
        F.expr("((v1 - v0) * ((t_us - t0) DIV 1000)) DIV ((t1 - t0) DIV 1000)")
    )
    return (
        walked.where(
            (F.col("is_grid") == 1)
            & F.col("v0").isNotNull()
            & F.col("v1").isNotNull()
        )
        .select(
            "user_id",
            F.col("t_us").alias("grid_us"),
            interp.alias("v_interp"),
        )
        .select(
            "user_id",
            "grid_us",
            (
                F.expr("(v_interp + 50) DIV 100").cast("double") / F.lit(10_000.0)
            ).alias("value_interp"),
        )
    )


@register(
    "q_event_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ) AS next_type
        FROM events
    ),
    trans AS (
        SELECT event_type AS src, next_type AS dst, COUNT(*) AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    ),
    out_tot AS (SELECT src, SUM(n) AS n_out FROM trans GROUP BY src)
    SELECT t.src, t.dst, t.n,
           CAST((t.n * 10000) // o.n_out AS BIGINT) AS prob_bp
    FROM trans t JOIN out_tot o ON o.src = t.src
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-mining closure: first-order Markov transition matrix.

    Per-user event streams -> (src, dst) transition counts and
    basis-point transition probabilities — the empirical Markov chain
    behind next-event prediction and session simulation. One lead
    window on the user_id partitioning, one aggregate over the tiny
    (|types|^2) transition space, exact integers throughout.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), F.col("event_id"))
    seq = e.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).where(F.col("dst").isNotNull())
    trans = seq.groupBy("src", "dst").agg(F.count("*").alias("n"))
    out_tot = trans.groupBy("src").agg(F.sum("n").alias("n_out"))
    return trans.join(F.broadcast(out_tot), "src").select(
        "src",
        "dst",
        "n",
        F.expr("CAST((n * 10000) DIV n_out AS BIGINT)").alias("prob_bp"),
    )


@register(
    "q_ab_test",
    oracle="""
    WITH assign AS (
        SELECT user_id, user_id % 2 AS arm,
               CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) >= 15
                    THEN 1 ELSE 0 END AS converted
        FROM events GROUP BY user_id
    ),
    arms AS (
        SELECT arm, COUNT(*) AS n, SUM(converted) AS conv
        FROM assign GROUP BY arm
    ),
    wide AS (
        SELECT CAST(MAX(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n0,
               CAST(MAX(CASE WHEN arm = 0 THEN conv END) AS BIGINT) AS c0,
               CAST(MAX(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n1,
               CAST(MAX(CASE WHEN arm = 1 THEN conv END) AS BIGINT) AS c1
        FROM arms
    )
    SELECT n0, c0, n1, c1,
           CAST((c0 * 10000) // n0 AS BIGINT) AS rate0_bp,
           CAST((c1 * 10000) // n1 AS BIGINT) AS rate1_bp,
           (CAST(c0 * n1 - c1 * n0 AS HUGEINT) * (c0 * n1 - c1 * n0)) * 2500
               * (n0 + n1)
             > 9604 * CAST(n0 AS HUGEINT) * n1 * (c0 + c1)
               * ((n0 + n1) - (c0 + c1))
               AS significant_95
    FROM wide
    """,
)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-closure: two-proportion z-test decided in pure integers.

    Users split into arms by user_id parity; conversion = a heavy
    purchaser (>= 15 purchase events — 'any purchase' is degenerate on
    this corpus, every user has one).
    The pooled two-proportion z-test |z| > 1.96 is restated with every
    denominator cleared: with z^2 = 1.96^2 = 9604/2500, significance is
    (c0*n1 - c1*n0)^2 * 2500 * (n0+n1) > 9604 * n0 * n1 * c * (N - c)
    — exact integer cross-multiplication, no sqrt, no float, so the
    verdict cannot flip on rounding. The same clearing works for any
    rational critical value. One per-user aggregate + one tiny pivot.
    """
    e = table(spark, sf_dir, "events")
    assign = (
        e.groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("n_purch")
        )
        .select(
            (F.col("user_id") % 2).alias("arm"),
            F.when(F.col("n_purch") >= 15, 1).otherwise(0).alias("converted"),
        )
    )
    arms = assign.groupBy("arm").agg(
        F.count("*").alias("n"), F.sum("converted").alias("conv")
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("conv"))).alias("c0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("conv"))).alias("c1"),
    )
    diff = F.col("c0") * F.col("n1") - F.col("c1") * F.col("n0")
    c = F.col("c0") + F.col("c1")
    n_tot = F.col("n0") + F.col("n1")
    lhs = diff.cast("decimal(38,0)") * diff * 2500 * n_tot
    rhs = (
        F.lit(9604).cast("decimal(38,0)")
        * F.col("n0")
        * F.col("n1")
        * c
        * (n_tot - c)
    )
    return wide.select(
        "n0",
        "c0",
        "n1",
        "c1",
        F.expr("CAST((c0 * 10000) DIV n0 AS BIGINT)").alias("rate0_bp"),
        F.expr("CAST((c1 * 10000) DIV n1 AS BIGINT)").alias("rate1_bp"),
        (lhs > rhs).alias("significant_95"),
    )


@register(
    "q_rfm_segments",
    oracle="""
    WITH corpus AS (SELECT MAX(epoch_us(ts)) AS now_us FROM events),
    rfm AS (
        SELECT user_id,
               (SELECT now_us FROM corpus) - MAX(epoch_us(ts)) AS recency_us,
               COUNT(*) AS frequency,
               SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT))
                   AS monetary_micro
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id
    ),
    scored AS (
        SELECT user_id,
               NTILE(4) OVER (ORDER BY recency_us, user_id) AS r,
               NTILE(4) OVER (ORDER BY frequency DESC, user_id) AS f,
               NTILE(4) OVER (ORDER BY monetary_micro DESC, user_id) AS m
        FROM rfm
    )
    SELECT r, f, m, COUNT(*) AS n_users,
           CAST(MIN(user_id) AS BIGINT) AS example_user
    FROM scored GROUP BY r, f, m
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytics-closure: RFM (recency/frequency/monetary) segmentation.

    Per purchaser: recency vs the corpus max event time, purchase
    count, and exact micro-unit spend — then quartile scores via ntile
    with the unique user_id tiebreaker (ntile boundaries are otherwise
    tie-nondeterministic), and the 4x4x4 segment census. Quartile 1 is
    best on every axis (most recent / most frequent / highest spend).

    Scale: one per-user aggregate (the only big fact shuffle); the
    three quartile scores are NTILE(4)'s closed form over three
    distributed global row numbers (operators/cumulative.ordered_cumsum
    chained once per ordering, each a parallel range shuffle of the
    user-level table + closed_form_ntile) — no single-partition window
    anywhere, so the plan survives extreme user cardinality. The oracle
    keeps DuckDB's NTILE spelling; hash equality proves equivalence.
    """
    from laser_hadoop_spark.operators.cumulative import (
        closed_form_ntile,
        ordered_cumsum,
    )

    e = table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    from laser_hadoop_spark.functions.scalar import micro_units

    rfm = e.groupBy("user_id").agg(
        F.max(F.unix_micros("ts")).alias("last_us"),
        F.count("*").alias("frequency"),
        F.sum(micro_units(F.col("value"))).alias("monetary_micro"),
    )
    now = rfm.agg(F.max("last_us").alias("now_us"))
    # Pin the user-level table once: the count job and the first cumsum
    # pass would otherwise each redo the events scan + groupBy.
    base = (
        rfm.crossJoin(F.broadcast(now))
        .withColumn("recency_us", F.col("now_us") - F.col("last_us"))
        .localCheckpoint(eager=True)
    )
    n_row = base.agg(F.count("*").alias("n"))
    # Round 12 (guide §2.6 overlap independent jobs): the three global
    # orderings are INDEPENDENT rank passes over the pinned user table
    # — chaining them serialized three range-shuffle+checkpoint jobs
    # (each re-carrying the previous pass's rank column through its
    # shuffle). Submit them from a small thread pool so each job's tail
    # back-fills the others' idle cores, and equi-join the three
    # (user_id, rank) outputs back. Measured 2.90 -> 1.52 s noop at
    # sf0.1; identical rows at every test scale (the join keys on the
    # unique user_id, so assembly order can't change values).
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    orderings = [
        ("rn_r", [F.col("recency_us").asc(), F.col("user_id").asc()]),
        ("rn_f", [F.col("frequency").desc(), F.col("user_id").asc()]),
        ("rn_m", [F.col("monetary_micro").desc(), F.col("user_id").asc()]),
    ]

    def rank_pass(item):
        name, order = item
        return ordered_cumsum(
            base.select("user_id", "recency_us", "frequency", "monetary_micro"),
            order_by=order,
            row_number_col=name,
        ).select("user_id", name)

    with ThreadPoolExecutor(max_workers=3) as pool:
        rn_r, rn_f, rn_m = list(
            pool.map(inheritable_thread_target(rank_pass), orderings)
        )
    s = (
        base.select("user_id")
        .join(rn_r, "user_id")
        .join(rn_f, "user_id")
        .join(rn_m, "user_id")
    )
    scored = s.crossJoin(F.broadcast(n_row)).select(
        "user_id",
        closed_form_ntile("rn_r", "n", 4).cast("int").alias("r"),
        closed_form_ntile("rn_f", "n", 4).cast("int").alias("f"),
        closed_form_ntile("rn_m", "n", 4).cast("int").alias("m"),
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count("*").alias("n_users"),
        F.min("user_id").cast("bigint").alias("example_user"),
    )


@register(
    "q_top_paths",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type, 1) OVER w AS e2,
               LEAD(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    paths AS (
        SELECT event_type || '>' || e2 || '>' || e3 AS path, COUNT(*) AS n
        FROM seq WHERE e3 IS NOT NULL
        GROUP BY 1
    ),
    ranked AS (
        SELECT path, n, ROW_NUMBER() OVER (ORDER BY n DESC, path) AS rnk
        FROM paths
    )
    SELECT rnk, path, n FROM ranked WHERE rnk <= 15
    """,
)
def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-mining closure: top-k 3-event paths (clickstream mining).

    Sliding 3-grams over each user's event sequence (two leads on one
    user_id window — the token-shingle trick applied to behavioral
    sequences), counted and ranked with a deterministic (count, path)
    tiebreak. The path space is |types|^3, so the aggregate output is
    tiny regardless of input scale; TakeOrdered handles the top-k.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), F.col("event_id"))
    seq = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).where(F.col("e3").isNotNull())
    paths = seq.select(
        F.concat_ws(">", "e1", "e2", "e3").alias("path")
    ).groupBy("path").agg(F.count("*").alias("n"))
    top = paths.orderBy(F.col("n").desc(), F.col("path")).limit(15)
    return top.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.col("n").desc(), F.col("path")))
    ).select("rnk", "path", "n")


@register(
    "q_max_drawdown",
    oracle="""
    WITH seq AS (
        SELECT user_id,
               CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS v_micro,
               MAX(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS run_max_micro
        FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id,
           CAST(MAX(run_max_micro - v_micro) AS BIGINT) AS max_drawdown_micro,
           CAST(MAX(run_max_micro) AS BIGINT) AS peak_micro,
           COUNT(*) AS n_points
    FROM seq GROUP BY user_id
    """,
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS-closure: maximum drawdown per user value series.

    The classic risk metric: largest drop from a running peak —
    max(running_max - value) over the event-time-ordered series, in
    exact micro-units. One running-max window and one aggregate on the
    same user_id partitioning.
    """
    from laser_hadoop_spark.functions.scalar import micro_units

    e = table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    seq = e.select(
        "user_id",
        F.unix_micros("ts").alias("t_us"),
        "event_id",
        micro_units(F.col("value")).alias("v_micro"),
    ).withColumn("run_max_micro", F.max("v_micro").over(w))
    return seq.groupBy("user_id").agg(
        F.max(F.col("run_max_micro") - F.col("v_micro")).alias("max_drawdown_micro"),
        F.max("run_max_micro").alias("peak_micro"),
        F.count("*").alias("n_points"),
    )


@register(
    "q_repeat_interval",
    oracle="""
    WITH gaps AS (
        SELECT user_id,
               epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ) AS gap_us
        FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, COUNT(*) AS n_gaps,
           CAST(MIN(gap_us) // 1000000 AS BIGINT) AS min_gap_s,
           CAST(MAX(gap_us) // 1000000 AS BIGINT) AS max_gap_s,
           CAST((SUM(gap_us) // COUNT(*)) // 1000000 AS BIGINT)
               AS mean_gap_s
    FROM gaps WHERE gap_us IS NOT NULL
    GROUP BY user_id
    """,
)
def q_repeat_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytics-closure: inter-purchase interval statistics per user.

    Consecutive-purchase gaps via one lag window, then min/max/mean gap
    in whole seconds — all integer arithmetic (the mean is an integer
    division of exact micro sums, truncating identically on both
    engines). The repeat-purchase-cadence input to churn models.
    """
    e = table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), F.col("event_id"))
    gaps = e.select(
        "user_id",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count("*").alias("n_gaps"),
        F.expr("CAST(MIN(gap_us) DIV 1000000 AS BIGINT)").alias("min_gap_s"),
        F.expr("CAST(MAX(gap_us) DIV 1000000 AS BIGINT)").alias("max_gap_s"),
        F.expr(
            "CAST((SUM(gap_us) DIV COUNT(*)) DIV 1000000 AS BIGINT)"
        ).alias("mean_gap_s"),
    )


@register(
    "q_new_vs_returning",
    oracle="""
    WITH firsts AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    daily AS (
        SELECT CAST(e.ts AS DATE) AS day,
               CASE WHEN CAST(e.ts AS DATE) = f.first_day
                    THEN 'new' ELSE 'returning' END AS cohort,
               e.user_id
        FROM events e JOIN firsts f ON f.user_id = e.user_id
        WHERE e.event_type = 'purchase'
    )
    SELECT day, cohort,
           COUNT(*) AS n_purchases,
           COUNT(DISTINCT user_id) AS n_users
    FROM daily GROUP BY day, cohort
    """,
)
def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytics-closure: daily new-vs-returning purchaser split.

    First-seen attribution (one per-user aggregate) classifies every
    purchase day as the user's first or a return visit; the daily
    (cohort, purchases, distinct users) report follows. Both the firsts
    aggregate and the classify join partition on user_id — one shuffle
    feeds both — and only the tiny day-level aggregate re-partitions.
    """
    e = table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    day = F.col("ts").cast("date")
    firsts = e.groupBy("user_id").agg(F.min(day).alias("first_day"))
    daily = e.join(firsts, "user_id").select(
        day.alias("day"),
        F.when(day == F.col("first_day"), "new").otherwise("returning").alias(
            "cohort"
        ),
        "user_id",
    )
    return daily.groupBy("day", "cohort").agg(
        F.count("*").alias("n_purchases"),
        F.count_distinct("user_id").alias("n_users"),
    )


@register(
    "q_dow_seasonality",
    oracle="""
    WITH counts AS (
        SELECT event_type, dayofweek(CAST(ts AS DATE)) AS dow,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT event_type, SUM(n) AS n_tot FROM counts GROUP BY event_type)
    SELECT c.event_type, CAST(c.dow AS INT) AS dow, c.n,
           CAST((c.n * 70000) // t.n_tot AS BIGINT) AS share_x7_bp
    FROM counts c JOIN tot t ON t.event_type = c.event_type
    """,
)
def q_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytics-closure: day-of-week seasonality profile.

    Per event type, the weekday activity distribution scaled so a
    uniform week reads 10000 bp per day (share x 7 in basis points —
    values over 10000 mark hot days). Integer arithmetic only; weekday
    numbering pinned to DuckDB's dayofweek (0=Sunday) via Spark's
    dayofweek - 1.
    """
    e = table(spark, sf_dir, "events")
    counts = e.groupBy(
        "event_type", (F.dayofweek(F.col("ts").cast("date")) - 1).alias("dow")
    ).agg(F.count("*").alias("n"))
    tot = counts.groupBy("event_type").agg(F.sum("n").alias("n_tot"))
    return counts.join(F.broadcast(tot), "event_type").select(
        "event_type",
        F.col("dow").cast("int").alias("dow"),
        "n",
        F.expr("CAST((n * 70000) DIV n_tot AS BIGINT)").alias("share_x7_bp"),
    )


@register(
    "q_rolling_active_users",
    oracle="""
    WITH user_days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    contrib AS (
        SELECT user_id, day + CAST(off AS INTEGER) AS window_day
        FROM user_days,
             (SELECT unnest(generate_series(0, 6)) AS off)
    ),
    bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM user_days)
    SELECT window_day, COUNT(DISTINCT user_id) AS wau
    FROM contrib CROSS JOIN bounds
    WHERE window_day BETWEEN lo + CAST(6 AS INTEGER) AND hi
    GROUP BY window_day
    """,
)
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytics-closure: exact rolling 7-day active users (WAU curve).

    Sliding-window COUNT(DISTINCT) does not decompose, so the exact
    algorithm explodes each distinct (user, day) into the 7 window-end
    days it contributes to, then distinct-counts per window day — cost
    is 7x the user-day table (already deduped), NOT 7x the event
    stream, and every stage is an equi-shuffle. Full windows only
    (first 6 days trimmed). The approximate sibling at extreme scale is
    per-day HLL sketches unioned over the window (q_hll_sketch shows
    the union machinery).
    """
    e = table(spark, sf_dir, "events")
    user_days = e.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    contrib = user_days.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
        "day",
    ).select("user_id", F.date_add(F.col("day"), F.col("off")).alias("window_day"))
    bounds = user_days.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    return (
        contrib.crossJoin(F.broadcast(bounds))
        .where(
            (F.col("window_day") >= F.date_add(F.col("lo"), 6))
            & (F.col("window_day") <= F.col("hi"))
        )
        .groupBy("window_day")
        .agg(F.count_distinct("user_id").alias("wau"))
    )


@register(
    "q_funnel_windowed",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(epoch_us(ts)) AS t_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(epoch_us(e.ts)) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click'
          AND epoch_us(e.ts) >= v.t_view
          AND epoch_us(e.ts) < v.t_view + 604800000000
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(epoch_us(e.ts)) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase'
          AND epoch_us(e.ts) >= c.t_click
          AND epoch_us(e.ts) < c.t_click + 604800000000
        GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_click_7d,
           (SELECT COUNT(*) FROM p) AS n_purchase_7d,
           CAST((SELECT COUNT(*) FROM p) * 10000
                // (SELECT COUNT(*) FROM v) AS BIGINT) AS conv_bp
    """,
)
def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel-closure: conversion-window funnel (7-day step deadlines).

    q_funnel counts any-time progressions; real funnels expire — each
    step must land within 7 days of the previous one. Same
    stage-N-joins-stage-N-1 shape on one user_id partitioning, with the
    deadline as an extra integer-microsecond predicate, plus the
    end-to-end conversion in basis points.
    """
    e = table(spark, sf_dir, "events")
    WEEK_US = 7 * 86_400 * 1_000_000
    ts_us = F.unix_micros("ts")
    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(ts_us).alias("t_view"))
    )
    c = (
        e.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where((ts_us >= F.col("t_view")) & (ts_us < F.col("t_view") + WEEK_US))
        .groupBy("user_id")
        .agg(F.min(ts_us).alias("t_click"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where((ts_us >= F.col("t_click")) & (ts_us < F.col("t_click") + WEEK_US))
        .groupBy("user_id")
        .agg(F.min(ts_us).alias("t_purchase"))
    )
    return (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(c.agg(F.count("*").alias("n_click_7d")))
        .crossJoin(p.agg(F.count("*").alias("n_purchase_7d")))
        .select(
            "n_view",
            "n_click_7d",
            "n_purchase_7d",
            F.expr("CAST(n_purchase_7d * 10000 DIV n_view AS BIGINT)").alias(
                "conv_bp"
            ),
        )
    )


@register(
    "q_cart_abandonment",
    oracle="""
    WITH clicks AS (
        SELECT user_id, event_id, epoch_us(ts) AS t_click,
               CAST(ts AS DATE) AS day
        FROM events WHERE event_type = 'click'
    ),
    followed AS (
        SELECT DISTINCT c.event_id
        FROM clicks c JOIN events p
          ON p.user_id = c.user_id
         AND p.event_type = 'purchase'
         AND epoch_us(p.ts) > c.t_click
         AND epoch_us(p.ts) <= c.t_click + 86400000000
    )
    SELECT c.day,
           COUNT(*) AS n_clicks,
           CAST(SUM(CASE WHEN f.event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_abandoned,
           CAST(SUM(CASE WHEN f.event_id IS NULL THEN 1 ELSE 0 END) * 10000
                // COUNT(*) AS BIGINT) AS abandon_bp
    FROM clicks c LEFT JOIN followed f ON f.event_id = c.event_id
    GROUP BY c.day
    """,
)
def q_cart_abandonment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel-closure: daily cart-abandonment rate.

    A click is abandoned when no purchase by the same user lands within
    24h after it. The followed-click set comes from a user-keyed
    interval join (equi-key bounds the comparisons, the PIT-join shape)
    deduped per click; a left anti-style null check then splits each
    day's clicks into converted vs abandoned, with the rate in exact
    basis points.
    """
    e = table(spark, sf_dir, "events")
    DAY_US = 86_400 * 1_000_000
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("t_click"),
        F.col("ts").cast("date").alias("day"),
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.unix_micros("ts").alias("t_purchase")
    )
    followed = (
        clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("t_purchase") > F.col("t_click"))
            & (F.col("t_purchase") <= F.col("t_click") + DAY_US),
        )
        .select("event_id")
        .distinct()
        .withColumn("followed", F.lit(1))
    )
    return (
        clicks.join(followed, "event_id", "left")
        .groupBy("day")
        .agg(
            F.count("*").alias("n_clicks"),
            F.sum(F.when(F.col("followed").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_abandoned"),
        )
        .select(
            "day",
            "n_clicks",
            "n_abandoned",
            F.expr("CAST(n_abandoned * 10000 DIV n_clicks AS BIGINT)").alias(
                "abandon_bp"
            ),
        )
    )


@register(
    "q_gap_fill",
    oracle="""
    WITH spine AS (
        SELECT user_id,
               CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
        FROM (SELECT user_id, MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi
              FROM events GROUP BY user_id)
    ),
    daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT spine.user_id, spine.day, COALESCE(daily.n, 0) AS n_events
    FROM spine LEFT JOIN daily
      ON spine.user_id = daily.user_id AND spine.day = daily.day
    """,
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: dense per-user daily spine with zero-filled counts.

    The spine is generated distributedly — sequence() explodes each
    user's [min_day, max_day] range executor-side (a table-generating
    function, U4's mechanism) — then left-joins the daily aggregate.
    Both sides are pre-aggregated before the join, so the join input is
    |users|·|days|, not raw events; at 100 TB the join keys share one
    hash partitioning on user_id.
    """
    e = table(spark, sf_dir, "events")
    day = F.to_date("ts")
    spine = (
        e.groupBy("user_id")
        .agg(F.min(day).alias("lo"), F.max(day).alias("hi"))
        .select(
            "user_id",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
            ).alias("day"),
        )
    )
    daily = e.groupBy("user_id", day.alias("day")).agg(F.count("*").alias("n"))
    return spine.join(daily, ["user_id", "day"], "left").select(
        "user_id", "day", F.coalesce("n", F.lit(0)).alias("n_events")
    )


@register(
    "q_run_length",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type, epoch_us(ts) AS t_us, event_id,
               CASE WHEN LAG(event_type) OVER w IS DISTINCT FROM event_type
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    r AS (
        SELECT *, SUM(brk) OVER (PARTITION BY user_id
                                 ORDER BY t_us, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS run_id
        FROM e
    )
    SELECT user_id, CAST(run_id AS BIGINT) AS run_id, event_type,
           COUNT(*) AS run_len,
           CAST(MIN(t_us) AS BIGINT) AS start_us,
           CAST(MAX(t_us) AS BIGINT) AS end_us
    FROM r GROUP BY user_id, run_id, event_type
    """,
)
def q_run_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X103: run-length encoding of per-user event streams.

    Gaps-and-islands state compression: consecutive same-type events
    collapse into one run with length and time bounds — the compact
    form session/state analyses consume (and the RLE the reference's
    row-oriented text pipelines never had). One shuffle on user_id
    shared by the lag window, the run-id running sum, and the final
    (user, run) aggregate.
    """
    ev = table(spark, sf_dir, "events")
    t_us = F.unix_micros("ts")
    e = ev.select("user_id", "event_type", t_us.alias("t_us"), "event_id").withColumn(
        "brk",
        F.when(
            ~F.lag("event_type").over(
                Window.partitionBy("user_id").orderBy("t_us", "event_id")
            ).eqNullSafe(F.col("event_type")),
            1,
        ).otherwise(0),
    )
    r = e.withColumn(
        "run_id",
        F.sum("brk").over(
            Window.partitionBy("user_id")
            .orderBy("t_us", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return r.groupBy("user_id", "run_id", "event_type").agg(
        F.count("*").alias("run_len"),
        F.min("t_us").cast("bigint").alias("start_us"),
        F.max("t_us").cast("bigint").alias("end_us"),
    )


@register(
    "q_activity_bitmap",
    oracle="""
    WITH days AS (
        SELECT user_id,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_idx
        FROM events
    )
    SELECT user_id,
           CAST(day_idx // 64 AS BIGINT) AS block,
           CAST(BIT_OR(CAST(1 AS BIGINT) << CAST(day_idx % 64 AS INT))
                AS BIGINT) AS bitmap,
           CAST(COUNT(DISTINCT day_idx) AS BIGINT) AS n_active_days,
           CAST(MIN(day_idx) AS BIGINT) AS first_day,
           CAST(MAX(day_idx) AS BIGINT) AS last_day
    FROM days GROUP BY user_id, day_idx // 64
    """,
)
def q_activity_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X127: per-user 64-day activity bitmaps.

    One bigint per (user, 64-day block) with bit d set iff the user
    was active on day d — the compact activity index behind streak /
    retention / DAU queries (a bitmap AND answers "active both days",
    a popcount answers "days active"; the roaring-bitmap idea at
    bigint granularity). BIT_OR is the aggregate (order-insensitive,
    combiner-friendly); n_active_days is exact distinct-day count,
    which must equal bit_count(bitmap) — the pytest invariant. One
    (user, block) shuffle with map-side combine.
    """
    ev = table(spark, sf_dir, "events")
    day_idx = F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
    days = ev.select("user_id", day_idx.alias("day_idx"))
    return days.groupBy(
        "user_id", F.expr("day_idx DIV 64").cast("bigint").alias("block")
    ).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(day_idx % 64 AS INT)))"
        )
        .cast("bigint")
        .alias("bitmap"),
        F.countDistinct("day_idx").cast("bigint").alias("n_active_days"),
        F.min("day_idx").cast("bigint").alias("first_day"),
        F.max("day_idx").cast("bigint").alias("last_day"),
    )


@register("q_wau_hll", oracle=None)
def q_wau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X151: rolling 7-day active users via mergeable per-day HLL
    sketches — the extreme-scale sibling X87 documents.

    Exact sliding COUNT(DISTINCT) costs 7x the deduped user-day table
    (q_rolling_active_users); this variant pays that fanout on ONE
    SKETCH PER DAY instead: hll_sketch_agg(user_id) per day (the only
    fact-table aggregate), then each day's ~KB-sized sketch binary is
    replicated to its 7 window ends and hll_union_agg merges them —
    the window-shuffle volume drops from |user-days| x 7 rows to
    |days| x 7 sketches, independent of user cardinality. Rows-only by
    nature (HLL is approximate); the pytest gate bounds per-day error
    vs the exact query at 5%.
    """
    e = table(spark, sf_dir, "events")
    user_days = e.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    daily = user_days.groupBy("day").agg(
        F.hll_sketch_agg("user_id").alias("sketch")
    )
    contrib = daily.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"), "day", "sketch"
    ).select(F.date_add(F.col("day"), F.col("off")).alias("window_day"), "sketch")
    bounds = user_days.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    return (
        contrib.crossJoin(F.broadcast(bounds))
        .where(
            (F.col("window_day") >= F.date_add(F.col("lo"), 6))
            & (F.col("window_day") <= F.col("hi"))
        )
        .groupBy("window_day")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch"))
            .cast("bigint")
            .alias("wau_approx")
        )
    )


@register(
    "q_cohort_ltv",
    oracle="""
    WITH cohort AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS cd
        FROM events GROUP BY user_id
    ),
    sizes AS (SELECT cd, COUNT(*) AS n_users FROM cohort GROUP BY cd),
    spend AS (
        SELECT c.cd,
               date_diff('day', c.cd, CAST(e.ts AS DATE)) AS age,
               SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT)) AS rev
        FROM events e JOIN cohort c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase'
        GROUP BY c.cd, age
    ),
    cum AS (
        SELECT cd, age, rev,
               SUM(rev) OVER (PARTITION BY cd ORDER BY age
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum_rev
        FROM spend
    )
    SELECT CAST(c.cd AS DATE) AS cohort_day, CAST(c.age AS INT) AS age_days,
           CAST(s.n_users AS BIGINT) AS n_users,
           CAST(c.cum_rev AS BIGINT) AS cum_rev_centi,
           CAST(c.cum_rev // s.n_users AS BIGINT) AS ltv_centi
    FROM cum c JOIN sizes s ON s.cd = c.cd
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X164: cohort LTV curve (cumulative revenue per cohort age).

    The unit-economics view on top of X37's retention matrix: users
    cohorted by first-activity DAY (the driver corpus spans one
    month, so month cohorts would collapse to a single row); purchase
    revenue bucketed by integer day age (datediff — identical on both
    engines); cumulative revenue and per-user LTV in exact centi per
    (cohort_day, age_days). The cumulative window partitions by
    cohort over the day-granular aggregate (|days|^2-bounded by the
    calendar span, not by fact cardinality); the only fact-table
    shuffles are the two user_id/day aggregates sharing one
    partitioning.
    """
    e = table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    cohort = e.groupBy("user_id").agg(F.min(day).alias("cd"))
    sizes = cohort.groupBy("cd").agg(F.count("*").alias("n_users"))
    spend = (
        e.where(F.col("event_type") == "purchase")
        .join(cohort, "user_id")
        .groupBy("cd", F.datediff(day, F.col("cd")).alias("age"))
        .agg(
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("rev")
        )
    )
    w = (
        Window.partitionBy("cd")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = spend.select("cd", "age", F.sum("rev").over(w).alias("cum_rev"))
    return cum.join(sizes, "cd").select(
        F.col("cd").alias("cohort_day"),
        F.col("age").cast("int").alias("age_days"),
        F.col("n_users").cast("bigint").alias("n_users"),
        F.col("cum_rev").cast("bigint").alias("cum_rev_centi"),
        F.expr("CAST(cum_rev DIV n_users AS BIGINT)").alias("ltv_centi"),
    )


@register(
    "q_dau_mau",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day),
    bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM ud),
    mau AS (
        SELECT d.day, COUNT(DISTINCT u.user_id) AS mau
        FROM dau d JOIN ud u
          ON u.day > d.day - 28 AND u.day <= d.day
        GROUP BY d.day
    )
    SELECT d.day, CAST(d.dau AS BIGINT) AS dau,
           CAST(m.mau AS BIGINT) AS mau,
           CAST(10000 * d.dau // m.mau AS BIGINT) AS stickiness_bp
    FROM dau d
    JOIN mau m ON m.day = d.day
    CROSS JOIN bounds b
    WHERE d.day >= b.lo + 27
    """,
)
def q_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X168: DAU/MAU stickiness ratio per day.

    The engagement ratio product dashboards lead with: daily actives
    over trailing-28-day actives, in exact basis points, full windows
    only. The trailing-28 distinct count uses X87's offset-explode
    shape: each deduped (user, day) row fans out to the 28 window-end
    days it contributes to, then distinct-counts per window day — an
    EQUI-shuffle costing 28x the user-day table (a pure range
    predicate would plan as a nested-loop join evaluating
    |days| x |user-days| pairs). The inner join back to dau restricts
    window days to actual activity days; the HLL sibling X151 applies
    identically when user cardinality explodes.
    """
    e = table(spark, sf_dir, "events")
    ud = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    dau = ud.groupBy("day").agg(F.count("*").alias("dau"))
    bounds = ud.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    contrib = ud.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(27))).alias("off"),
        "day",
    ).select(
        "user_id", F.date_add(F.col("day"), F.col("off")).alias("day")
    )
    mau = contrib.groupBy("day").agg(
        F.count_distinct("user_id").alias("mau")
    )
    return (
        dau.join(mau, "day")
        .crossJoin(F.broadcast(bounds))
        .where(F.col("day") >= F.date_add(F.col("lo"), 27))
        .select(
            "day",
            F.col("dau").cast("bigint").alias("dau"),
            F.col("mau").cast("bigint").alias("mau"),
            F.expr("CAST(10000 * dau DIV mau AS BIGINT)").alias(
                "stickiness_bp"
            ),
        )
    )


@register(
    "q_fano_burstiness",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    s AS (
        SELECT event_type, COUNT(*) AS n, SUM(c) AS sx, SUM(c * c) AS sxx
        FROM daily GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           CAST(sx AS BIGINT) AS n_events,
           CAST(((n * sxx - sx * sx) * 1000000) // (n * sx) AS BIGINT)
               AS fano_micro
    FROM s
    """,
)
def q_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X170: Fano factor (variance-to-mean) of daily event counts.

    Burstiness per event type: Fano = population variance / mean of
    the daily count series — 1.0 for a Poisson process, above it for
    bursty arrivals (the capacity-planning signal for ingest sizing).
    Cleared denominators keep it exact: var/mean = (n*sxx - sx^2) /
    (n * sx), emitted in truncating integer micro-units — no float
    variance, no float mean, one integer division (X52's algebra with
    both divisions fused). One date-keyed aggregate of the fact
    table + a 5-row stats pass.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("c"))
    s = daily.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("sx"),
        # power sum through DECIMAL(38,0): with ANSI off a bigint
        # product would silently wrap at scale while DuckDB's SUM
        # promotes to HUGEINT — the q_dims_variance discipline
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("sxx"),
    )
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        F.col("sx").cast("bigint").alias("n_events"),
        F.expr(
            "CAST(((CAST(n AS DECIMAL(38,0)) * sxx"
            "       - CAST(sx AS DECIMAL(38,0)) * sx) * 1000000)"
            "     div (CAST(n AS DECIMAL(38,0)) * sx) AS BIGINT)"
        ).alias("fano_micro"),
    )


@register(
    "q_longest_streak",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        FROM events WHERE event_type = 'purchase'
    ),
    grp AS (
        SELECT user_id, day,
               day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                             ORDER BY day) AS INT) AS g
        FROM days
    ),
    streaks AS (
        SELECT user_id, COUNT(*) AS len,
               MIN(day) AS streak_start
        FROM grp GROUP BY user_id, g
    ),
    best AS (
        SELECT user_id, len, streak_start,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY len DESC, streak_start) AS rn
        FROM streaks
    )
    SELECT user_id, CAST(len AS BIGINT) AS longest_streak_days,
           streak_start
    FROM best WHERE rn = 1
    """,
)
def q_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X184: longest consecutive-day purchase streak per user.

    The canonical gaps-and-islands trick: on a user's DEDUPED purchase
    days, day - row_number() is constant exactly within a run of
    consecutive dates, so one partitioned window + one aggregate finds
    every streak; ties on length break to the earliest start. All
    windows partition by user_id (X103's run-length machinery on the
    date axis); the only fact-table work is the distinct user-day
    projection. Date-minus-integer arithmetic stays in the DATE
    domain on both engines — no timestamps, no TZ exposure.
    """
    e = table(spark, sf_dir, "events")
    days = (
        e.where(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.select(
        "user_id",
        "day",
        F.date_sub(F.col("day"), F.row_number().over(w)).alias("g"),
    )
    streaks = grp.groupBy("user_id", "g").agg(
        F.count("*").alias("len"), F.min("day").alias("streak_start")
    )
    bw = Window.partitionBy("user_id").orderBy(
        F.col("len").desc(), F.col("streak_start")
    )
    return (
        streaks.withColumn("rn", F.row_number().over(bw))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("len").cast("bigint").alias("longest_streak_days"),
            "streak_start",
        )
    )


@register(
    "q_rolling_mode",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS c
        FROM events GROUP BY CAST(ts AS DATE), event_type
    ),
    frames AS (
        SELECT a.day, b.event_type, SUM(b.c) AS c7
        FROM (SELECT DISTINCT day FROM daily) a
        JOIN daily b ON b.day BETWEEN a.day - 6 AND a.day
        GROUP BY a.day, b.event_type
    ),
    ranked AS (
        SELECT day, event_type, c7,
               ROW_NUMBER() OVER (PARTITION BY day
                                  ORDER BY c7 DESC, event_type) AS rn
        FROM frames
    )
    SELECT day, event_type AS mode_type, CAST(c7 AS BIGINT) AS n_events
    FROM ranked WHERE rn = 1
    """,
)
def q_rolling_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X186: rolling 7-day modal event type.

    Order statistics meet sliding frames (X152's rolling median found
    the middle VALUE; this finds the most frequent CATEGORY): per day,
    the event type with the highest trailing-7-day count, ties broken
    (count DESC, type) — X107's mode discipline inside a window. The
    frame materializes as the calendar-bounded date-range join over
    the DAILY per-type aggregate (|days| x 7 x |types| rows, never
    fact-scale); partial windows included by construction.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(F.count("*").alias("c"))
    spine = daily.select("day").distinct()
    b = daily.select(
        F.col("day").alias("bday"), "event_type", "c"
    )
    frames = (
        spine.join(
            b,
            (F.col("bday") >= F.date_sub(F.col("day"), 6))
            & (F.col("bday") <= F.col("day")),
        )
        .groupBy("day", "event_type")
        .agg(F.sum("c").alias("c7"))
    )
    w = Window.partitionBy("day").orderBy(
        F.col("c7").desc(), F.col("event_type")
    )
    return (
        frames.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "day",
            F.col("event_type").alias("mode_type"),
            F.col("c7").cast("bigint").alias("n_events"),
        )
    )


@register(
    "q_funnel_latency",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(epoch_us(ts)) AS t_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
        SELECT e.user_id, MIN(epoch_us(e.ts)) AS t_purch
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= v.t_view
        GROUP BY e.user_id
    ),
    gaps AS (
        SELECT (p.t_purch - v.t_view) // 1000000 AS gap_s
        FROM v JOIN p ON p.user_id = v.user_id
    ),
    r AS (
        SELECT gap_s, ROW_NUMBER() OVER (ORDER BY gap_s) AS rn,
               COUNT(*) OVER () AS n
        FROM gaps
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM gaps) AS n_converted,
           (SELECT CAST(MIN(gap_s) AS BIGINT) FROM r
            WHERE 2 * rn >= n) AS p50_s,
           (SELECT CAST(MIN(gap_s) AS BIGINT) FROM r
            WHERE 10 * rn >= 9 * n) AS p90_s,
           (SELECT CAST(MAX(gap_s) AS BIGINT) FROM r) AS max_s
    """,
)
def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X195: funnel stage latency percentiles (view -> first purchase).

    X37's funnel counted who converts and X88 bounded the window; this
    prices HOW LONG conversion takes: per user, first view to first
    subsequent purchase, gaps in integer seconds (epoch-micros
    difference, truncating division — TZ-free), then the lower p50 /
    p90 via ONE histogram-prune pass (the X166 ordered_quantiles
    operator — no rank shuffle of the gap relation) and max from the
    same scan. The SLA twin of X83's order-to-ship latency on the
    event funnel; the oracle keeps the definitional
    (den*rank >= num*n) spelling, so the hash match re-proves the
    pruning on this relation too.
    """
    e = table(spark, sf_dir, "events")
    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("t_view"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .where(F.unix_micros("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("t_purch"))
    )
    gaps = v.join(p, "user_id").select(
        F.expr("(t_purch - t_view) DIV 1000000").alias("gap_s")
    )
    # both percentiles in ONE histogram-prune pass (ordered_quantiles —
    # the q_weighted_median/X166 operator) instead of a hand-rolled
    # rank selection over a range-shuffled cumulative
    from laser_hadoop_spark.operators.cumulative import ordered_quantiles

    qs = ordered_quantiles(
        gaps, value_col="gap_s", quantiles=[(1, 2), (9, 10)]
    )
    pivoted = (
        qs.groupBy()
        .pivot("q_num", [1, 9])
        .agg(F.min("quantile_value"))
        .select(F.col("`1`").alias("p50_s"), F.col("`9`").alias("p90_s"))
    )
    n_row = gaps.agg(
        F.count("*").alias("n"), F.max("gap_s").alias("max_s")
    )
    return n_row.crossJoin(pivoted).select(
        F.col("n").cast("bigint").alias("n_converted"),
        F.col("p50_s").cast("bigint").alias("p50_s"),
        F.col("p90_s").cast("bigint").alias("p90_s"),
        F.col("max_s").cast("bigint").alias("max_s"),
    )


@register(
    "q_growth_accounting",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    first_ AS (
        SELECT user_id, MIN(day) AS first_day FROM ud GROUP BY user_id
    ),
    days AS (SELECT DISTINCT day FROM ud),
    tagged AS (
        SELECT u.day, u.user_id,
               CASE WHEN f.first_day = u.day THEN 1 ELSE 0 END AS is_new,
               CASE WHEN y.user_id IS NOT NULL THEN 1 ELSE 0 END
                   AS active_prev
        FROM ud u
        JOIN first_ f ON f.user_id = u.user_id
        LEFT JOIN ud y ON y.user_id = u.user_id AND y.day = u.day - 1
    ),
    churn AS (
        SELECT y.day + 1 AS day, COUNT(*) AS churned
        FROM ud y LEFT JOIN ud t
          ON t.user_id = y.user_id AND t.day = y.day + 1
        WHERE t.user_id IS NULL
        GROUP BY y.day + 1
    )
    SELECT t.day,
           CAST(SUM(t.is_new) AS BIGINT) AS new_users,
           CAST(SUM(CASE WHEN t.active_prev = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS retained,
           CAST(SUM(CASE WHEN t.is_new = 0 AND t.active_prev = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS resurrected,
           CAST(COALESCE(MIN(c.churned), 0) AS BIGINT) AS churned
    FROM tagged t LEFT JOIN churn c ON c.day = t.day
    GROUP BY t.day
    """,
)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X196: daily growth accounting (new/retained/resurrected/churned).

    The growth-accounting identity every product review reads:
    today's actives = new (first day today) + retained (also active
    yesterday) + resurrected (seen before, absent yesterday); churned
    = yesterday's actives missing today, attributed to today. X85's
    new-vs-returning is the two-term shadow; the four-way split plus
    churn closes the MAU-delta identity. All presence checks are
    (user, day) equi-joins on the deduped user-day relation — one
    first-seen aggregate, one next-day anti pattern, one prev-day
    left join, all sharing the user_id shuffle key.
    """
    e = table(spark, sf_dir, "events")
    ud = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    first = ud.groupBy("user_id").agg(F.min("day").alias("first_day"))
    prev = ud.select("user_id", F.date_add("day", 1).alias("day")).withColumn(
        "__prev", F.lit(1)
    )
    tagged = (
        ud.join(first, "user_id")
        .join(prev, ["user_id", "day"], "left")
        .select(
            "day",
            (F.col("first_day") == F.col("day")).cast("int").alias("is_new"),
            F.coalesce("__prev", F.lit(0)).alias("active_prev"),
        )
    )
    nxt = ud.select("user_id", F.date_sub("day", 1).alias("day")).withColumn(
        "__next", F.lit(1)
    )
    churn = (
        ud.join(nxt, ["user_id", "day"], "left")
        .where(F.col("__next").isNull())
        .groupBy(F.date_add("day", 1).alias("day"))
        .agg(F.count("*").alias("churned"))
    )
    agg = tagged.groupBy("day").agg(
        F.sum("is_new").cast("bigint").alias("new_users"),
        F.sum(F.when(F.col("active_prev") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("retained"),
        F.sum(
            F.when((F.col("is_new") == 0) & (F.col("active_prev") == 0), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("resurrected"),
    )
    return agg.join(churn, "day", "left").select(
        "day",
        "new_users",
        "retained",
        "resurrected",
        F.coalesce("churned", F.lit(0)).cast("bigint").alias("churned"),
    )


@register(
    "q_weekday_hour_heatmap",
    oracle="""
    WITH cells AS (
        SELECT isodow(CAST(ts AS DATE)) AS dow,
               CAST(epoch_us(ts) % 86400000000 // 3600000000 AS INT)
                   AS hour_utc,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT SUM(n) AS total FROM cells)
    SELECT CAST(c.dow AS INT) AS dow, c.hour_utc,
           CAST(c.n AS BIGINT) AS n_events,
           CAST(10000 * c.n // t.total AS BIGINT) AS share_bp
    FROM cells c CROSS JOIN tot t
    """,
)
def q_weekday_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X201: weekday x hour activity heatmap.

    The on-call/staffing rhythm view: event counts and exact bp
    shares per (ISO weekday, UTC hour) cell — at most 168 rows out of
    any fact cardinality, one map-side-combining aggregate. The hour
    derives from epoch-microseconds modular arithmetic (NOT a
    session-TZ-dependent HOUR() call — the adversarial non-UTC session
    must agree with the oracle's naive arithmetic), and the weekday
    uses the pinned isodow == weekday()+1 numbering (X86/X171).
    """
    e = table(spark, sf_dir, "events")
    cells = e.groupBy(
        (F.weekday(F.col("ts").cast("date")) + 1).alias("dow"),
        F.expr(
            "CAST(unix_micros(ts) % 86400000000 DIV 3600000000 AS INT)"
        ).alias("hour_utc"),
    ).agg(F.count("*").alias("n"))
    tot = cells.agg(F.sum("n").alias("total"))
    return cells.crossJoin(F.broadcast(tot)).select(
        F.col("dow").cast("int").alias("dow"),
        "hour_utc",
        F.col("n").cast("bigint").alias("n_events"),
        F.expr("CAST(10000 * n DIV total AS BIGINT)").alias("share_bp"),
    )


# --- X234: position-based (U-shaped) attribution ---------------------------


@register(
    "q_position_attribution",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, value, epoch_us(ts) AS em, event_id,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS pidx
        FROM events
    ),
    purchases AS (
        SELECT user_id, pidx,
               CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS v
        FROM seq WHERE event_type = 'purchase'
    ),
    touches AS (
        SELECT user_id, pidx + 1 AS pidx, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, pidx
                                  ORDER BY em, event_id) AS rn_asc,
               ROW_NUMBER() OVER (PARTITION BY user_id, pidx
                                  ORDER BY em DESC, event_id DESC) AS rn_desc,
               COUNT(*) OVER (PARTITION BY user_id, pidx) AS n
        FROM seq WHERE event_type IN ('view', 'click')
    ),
    credited AS (
        SELECT t.event_type,
               CASE WHEN t.rn_asc = 1 THEN
                        p.v * 4 // 10
                        + (p.v
                           - p.v * 4 // 10
                           - CASE WHEN t.n >= 2 THEN p.v * 4 // 10 ELSE 0 END
                           - CASE WHEN t.n > 2
                                  THEN (p.v * 2 // 10 // (t.n - 2)) * (t.n - 2)
                                  ELSE 0 END)
                    WHEN t.rn_desc = 1 THEN p.v * 4 // 10
                    ELSE p.v * 2 // 10 // (t.n - 2) END AS credit
        FROM touches t
        JOIN purchases p ON p.user_id = t.user_id AND p.pidx = t.pidx
    )
    SELECT event_type AS touch, COUNT(*) AS n_touches,
           CAST(SUM(credit) AS BIGINT) AS credit_micro
    FROM credited GROUP BY 1
    """,
)
def q_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X234: position-based (U-shaped, 40/20/40) attribution, exact.

    Completes X65's first/last pair with the third standard model:
    each purchase's value credits its preceding touch sequence (the
    touches since the prior purchase) 40% to the first touch, 40% to
    the last, 20% split over the middles. Integer exactness by
    construction: middles get the truncating per-touch share, the
    last gets its truncated 40%, and the FIRST absorbs every rounding
    remainder — per purchase the credits sum to the purchase value to
    the micro. A 1-touch path gets 100%, a 2-touch path 60/40.

    100 TB: one shuffle on user_id serves the purchase-index
    cumulative window, both touch rank windows, and the
    purchase-touch equi-join; credit math is pure codegen.
    """
    e = table(spark, sf_dir, "events")
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"), "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    seq = e.select(
        "user_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("em"),
        "event_id",
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .over(w_cum)
        .alias("pidx"),
    )
    purchases = seq.where(F.col("event_type") == "purchase").select(
        "user_id",
        "pidx",
        F.expr("CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)").alias("v"),
    )
    wt = Window.partitionBy("user_id", "pidx")
    touches = seq.where(F.col("event_type").isin("view", "click")).select(
        "user_id",
        (F.col("pidx") + 1).alias("pidx"),
        "event_type",
        F.row_number().over(wt.orderBy("em", "event_id")).alias("rn_asc"),
        F.row_number()
        .over(wt.orderBy(F.desc("em"), F.desc("event_id")))
        .alias("rn_desc"),
        F.count("*").over(wt).alias("n"),
    )
    credit = F.expr(
        "CASE WHEN rn_asc = 1 THEN "
        "         v * 4 DIV 10 "
        "         + (v - v * 4 DIV 10 "
        "            - CASE WHEN n >= 2 THEN v * 4 DIV 10 ELSE 0 END "
        "            - CASE WHEN n > 2 "
        "                   THEN (v * 2 DIV 10 DIV (n - 2)) * (n - 2) "
        "                   ELSE 0 END) "
        "     WHEN rn_desc = 1 THEN v * 4 DIV 10 "
        "     ELSE v * 2 DIV 10 DIV (n - 2) END"
    )
    credited = touches.join(purchases, ["user_id", "pidx"]).select(
        "event_type", credit.alias("credit")
    )
    return credited.groupBy(F.col("event_type").alias("touch")).agg(
        F.count("*").alias("n_touches"),
        F.sum("credit").cast("bigint").alias("credit_micro"),
    )


# --- X241: transition conditional entropy -----------------------------------


@register(
    "q_transition_entropy",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    pairs AS (
        SELECT event_type AS cur, nxt FROM seq WHERE nxt IS NOT NULL
    ),
    cells AS (
        SELECT cur, nxt, COUNT(*) AS n_cn FROM pairs GROUP BY cur, nxt
    ),
    states AS (
        SELECT cur, SUM(n_cn) AS n_c, COUNT(*) AS k_next FROM cells
        GROUP BY cur
    ),
    terms AS (
        SELECT c.cur,
               c.n_cn * CAST(ROUND(LN(CAST(s.n_c AS DOUBLE) / c.n_cn)
                                   * 1000000) AS BIGINT) AS t
        FROM cells c JOIN states s ON s.cur = c.cur
    )
    SELECT s.cur, CAST(s.n_c AS BIGINT) AS n_c,
           CAST(s.k_next AS BIGINT) AS k_next,
           CAST(SUM(t.t) // s.n_c AS BIGINT) AS h_micro,
           CAST(ROUND(LN(CAST(s.k_next AS DOUBLE)) * 1000000) AS BIGINT)
               AS hmax_micro,
           CAST(CASE WHEN s.k_next = 1 THEN 10000
                ELSE LEAST(10000,
                     10000 * (SUM(t.t) // s.n_c)
                     // CAST(ROUND(LN(CAST(s.k_next AS DOUBLE)) * 1000000)
                             AS BIGINT))
                END AS BIGINT) AS uniformity_bp
    FROM terms t JOIN states s ON s.cur = t.cur
    GROUP BY s.cur, s.n_c, s.k_next
    """,
)
def q_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X241: conditional entropy H(next | current) per event state.

    The information content of X76's Markov transition matrix: per
    current state, H = -sum p(next|cur) ln p(next|cur) in micro-nats,
    computed as SUM(n_cn * ln(n_c/n_cn)) DIV n_c — counts stay
    integral, the single ln of a ratio of exact integers rounds once
    at 1e-6. uniformity_bp = H / ln(k) situates each state between
    fully deterministic (0) and uniformly random (10000) — the
    behavioral-predictability dashboard number.

    100 TB shape: one per-user window (partitioned, never global)
    produces transition pairs; everything after is a <= |types|^2-row
    relation. The lead window reuses the user shuffle that every
    sessionization query already pays.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            "user_id",
            "event_type",
            F.lead("event_type").over(w).alias("nxt"),
        )
        .where(F.col("nxt").isNotNull())
        .select(F.col("event_type").alias("cur"), "nxt")
    )
    cells = pairs.groupBy("cur", "nxt").agg(F.count("*").alias("n_cn"))
    states = cells.groupBy("cur").agg(
        F.sum("n_cn").alias("n_c"), F.count("*").alias("k_next")
    )
    terms = cells.join(F.broadcast(states), "cur").select(
        "cur",
        F.expr(
            "n_cn * CAST(ROUND(LN(CAST(n_c AS DOUBLE) / n_cn) * 1000000)"
            " AS BIGINT)"
        ).alias("t"),
    )
    hmax = F.expr(
        "CAST(ROUND(LN(CAST(k_next AS DOUBLE)) * 1000000) AS BIGINT)"
    )
    return (
        terms.groupBy("cur")
        .agg(F.sum("t").alias("ts_sum"))
        .join(F.broadcast(states), "cur")
        .select(
            "cur",
            F.col("n_c").cast("bigint").alias("n_c"),
            F.col("k_next").cast("bigint").alias("k_next"),
            F.expr("CAST(ts_sum DIV n_c AS BIGINT)").alias("h_micro"),
            hmax.alias("hmax_micro"),
            F.when(F.col("k_next") == 1, F.lit(10000))
            .otherwise(
                F.least(
                    F.lit(10000),
                    F.expr(
                        "10000 * (ts_sum DIV n_c)"
                        " DIV CAST(ROUND(LN(CAST(k_next AS DOUBLE))"
                        " * 1000000) AS BIGINT)"
                    ),
                )
            )
            .cast("bigint")
            .alias("uniformity_bp"),
        )
    )


# --- X246: capture-recapture population audit -------------------------------


@register(
    "q_capture_recapture",
    oracle="""
    WITH s1 AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
    ),
    s2 AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
    ),
    m AS (
        SELECT COUNT(*) AS overlap FROM s1 JOIN s2 USING (user_id)
    ),
    truth AS (SELECT COUNT(DISTINCT user_id) AS n_true FROM events)
    SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n1,
           CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS n2,
           CAST(m.overlap AS BIGINT) AS overlap,
           CAST(((SELECT COUNT(*) FROM s1) + 1)
                * ((SELECT COUNT(*) FROM s2) + 1)
                // (m.overlap + 1) - 1 AS BIGINT) AS n_hat_chapman,
           CAST(t.n_true AS BIGINT) AS n_true,
           CAST(10000 * (((SELECT COUNT(*) FROM s1) + 1)
                         * ((SELECT COUNT(*) FROM s2) + 1)
                         // (m.overlap + 1) - 1) // t.n_true AS BIGINT)
               AS coverage_ratio_bp
    FROM m CROSS JOIN truth t
    """,
)
def q_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X246: Chapman capture-recapture estimate of the user population.

    Treats 'click' users and 'view' users as two incomplete sightings
    of the same population; Chapman's bias-corrected Lincoln-Petersen
    estimator N_hat = (n1+1)(n2+1)/(m+1) - 1 (exact truncating
    integer arithmetic) is checked against the exact distinct count —
    the estimator every incomplete-detection audit uses (how many
    duplicates did BOTH dedup passes miss, how many users does
    logging drop), here made hash-verifiable against its own ground
    truth. coverage_ratio_bp ~ 10000 means the two sightings'
    independence assumption holds.

    100 TB shape: two semi-aggregated distinct sets, one equi-join on
    user_id for the overlap, exact distinct for truth — all map-side
    combining aggregates; the estimator arithmetic is 1-row.
    """
    e = table(spark, sf_dir, "events")
    s1 = (
        e.where(F.col("event_type") == "click")
        .select("user_id")
        .distinct()
    )
    s2 = (
        e.where(F.col("event_type") == "view").select("user_id").distinct()
    )
    n1 = s1.agg(F.count("*").alias("n1"))
    n2 = s2.agg(F.count("*").alias("n2"))
    m = s1.join(s2, "user_id").agg(F.count("*").alias("overlap"))
    truth = e.agg(F.countDistinct("user_id").alias("n_true"))
    return (
        m.crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(truth))
        .select(
            F.col("n1").cast("bigint").alias("n1"),
            F.col("n2").cast("bigint").alias("n2"),
            F.col("overlap").cast("bigint").alias("overlap"),
            F.expr(
                "CAST((n1 + 1) * (n2 + 1) DIV (overlap + 1) - 1 AS BIGINT)"
            ).alias("n_hat_chapman"),
            F.col("n_true").cast("bigint").alias("n_true"),
            F.expr(
                "CAST(10000 * ((n1 + 1) * (n2 + 1) DIV (overlap + 1) - 1)"
                " DIV n_true AS BIGINT)"
            ).alias("coverage_ratio_bp"),
        )
    )


# --- X256: circular peak-hour statistics ------------------------------------


@register(
    "q_circular_hours",
    oracle="""
    WITH hrs AS (
        SELECT event_type,
               CAST((epoch_us(ts) % 86400000000) // 3600000000 AS BIGINT)
                   AS hr
        FROM events
    ),
    cells AS (
        SELECT event_type, hr, COUNT(*) AS n FROM hrs GROUP BY event_type, hr
    ),
    vec AS (
        SELECT event_type,
               SUM(n) AS n,
               SUM(n * CAST(ROUND(COS(2 * PI() * hr / 24) * 1000000)
                            AS BIGINT)) AS sc,
               SUM(n * CAST(ROUND(SIN(2 * PI() * hr / 24) * 1000000)
                            AS BIGINT)) AS ss
        FROM cells GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CAST(sc // n AS BIGINT) AS mean_cos_micro,
           CAST(ss // n AS BIGINT) AS mean_sin_micro,
           CAST(CAST(FLOOR(SQRT(CAST((sc // n) * (sc // n)
                                     + (ss // n) * (ss // n) AS DOUBLE)))
                     AS BIGINT) // 100 AS BIGINT) AS resultant_bp
    FROM vec
    """,
)
def q_circular_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X256: circular statistics of event hour-of-day per type.

    'Peak hour' done right: event times live on a 24h circle, so the
    mean direction is the vector mean of unit vectors at each hour
    angle — 23:00 and 01:00 average to midnight, where a linear mean
    says noon. The resultant length R in [0,1] measures concentration
    (10000 bp = all events at one hour, ~0 = uniform). The 24
    cos/sin values micro-round once each (the trig analogue of the
    X197 ln discipline); hour comes from epoch-microsecond MODULAR
    arithmetic — session-TZ-proof like X201. The statistically sound
    companion to X201's weekday x hour heatmap.

    100 TB shape: one (type, hour) aggregate — at most 24 cells per
    type after map-side combine; the vector arithmetic runs on
    |types| rows.
    """
    e = table(spark, sf_dir, "events")
    hrs = e.select(
        "event_type",
        F.expr(
            "CAST((unix_micros(ts) % 86400000000) DIV 3600000000 AS BIGINT)"
        ).alias("hr"),
    )
    cells = hrs.groupBy("event_type", "hr").agg(F.count("*").alias("n"))
    vec = cells.groupBy("event_type").agg(
        F.sum("n").alias("n"),
        F.sum(
            F.col("n")
            * F.expr(
                "CAST(ROUND(COS(2 * PI() * hr / 24) * 1000000) AS BIGINT)"
            )
        ).alias("sc"),
        F.sum(
            F.col("n")
            * F.expr(
                "CAST(ROUND(SIN(2 * PI() * hr / 24) * 1000000) AS BIGINT)"
            )
        ).alias("ss"),
    )
    return vec.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.expr("CAST(sc DIV n AS BIGINT)").alias("mean_cos_micro"),
        F.expr("CAST(ss DIV n AS BIGINT)").alias("mean_sin_micro"),
        F.expr(
            "CAST(CAST(FLOOR(SQRT(CAST((sc DIV n) * (sc DIV n)"
            " + (ss DIV n) * (ss DIV n) AS DOUBLE))) AS BIGINT)"
            " DIV 100 AS BIGINT)"
        ).alias("resultant_bp"),
    )


# --- X260: event-sequence pattern match -------------------------------------

_SEQ_PATTERNS = [
    ("view_then_purchase", "%v%p%"),
    ("signup_click_purchase", "%s%c%p%"),
    ("error_then_purchase", "%e%p%"),
]


@register(
    "q_sequence_match",
    oracle=f"""
    WITH seqs AS (
        SELECT user_id,
               string_agg(substring(event_type, 1, 1), ''
                          ORDER BY ts, event_id) AS seq
        FROM events GROUP BY user_id
    )
    SELECT pattern, CAST(n_users AS BIGINT) AS n_users,
           CAST(n_total AS BIGINT) AS n_total
    FROM (
        {" UNION ALL ".join(
            f"SELECT '{name}' AS pattern,"
            f" SUM(CASE WHEN seq LIKE '{pat}' THEN 1 ELSE 0 END) AS n_users,"
            f" COUNT(*) AS n_total FROM seqs"
            for name, pat in _SEQ_PATTERNS
        )}
    ) u
    """,
)
def q_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X260: ordered event-sequence pattern matching (sequenceMatch).

    Funnel membership without k self-joins: each user's event history
    collapses to an ordered type string (first letters, (ts,
    event_id) order), and 'view then later purchase' is the LIKE
    pattern %v%p% — the ClickHouse sequenceMatch idea expressed in
    portable SQL. Three patterns evaluate as conditional counts over
    ONE sequence relation; contrast X88's window funnel (which
    re-joins per stage) — this form pays the user shuffle once for
    any number of patterns.

    100 TB shape: one groupBy(user) with an ordered string aggregate
    (array_sort of (ts, event_id, char) structs — Spark's
    deterministic spelling of ORDER BY inside an aggregate), then a
    scan-local LIKE census. Sequence length is bounded by per-user
    activity; a terabyte-scale user would want the X8 token-window
    chunking first.
    """
    e = table(spark, sf_dir, "events")
    seqs = (
        e.select(
            "user_id",
            F.struct(
                F.col("ts"), F.col("event_id"),
                F.substring("event_type", 1, 1).alias("ch"),
            ).alias("rec"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("rec")), lambda r: r["ch"]
                ),
                "",
            ).alias("seq")
        )
    )
    parts = [
        seqs.agg(
            F.lit(name).alias("pattern"),
            F.sum(
                F.when(F.col("seq").like(pat), 1).otherwise(0)
            ).alias("n_users"),
            F.count("*").alias("n_total"),
        )
        for name, pat in _SEQ_PATTERNS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.select(
        "pattern",
        F.col("n_users").cast("bigint").alias("n_users"),
        F.col("n_total").cast("bigint").alias("n_total"),
    )


# --- X264: temporal-profile cosine ------------------------------------------


@register(
    "q_profile_shape_cosine",
    oracle="""
    WITH hrs AS (
        SELECT event_type AS et,
               CAST((epoch_us(ts) % 86400000000) // 3600000000 AS BIGINT)
                   AS hr
        FROM events
    ),
    prof AS (SELECT et, hr, COUNT(*) AS n FROM hrs GROUP BY et, hr),
    pairs AS (
        SELECT a.et AS type_a, b.et AS type_b,
               SUM(a.n * b.n) AS dot
        FROM prof a JOIN prof b ON b.hr = a.hr AND a.et < b.et
        GROUP BY a.et, b.et
    ),
    norms AS (
        SELECT et, CAST(FLOOR(SQRT(CAST(SUM(n * n) AS DOUBLE))) AS BIGINT)
                   AS nrm
        FROM prof GROUP BY et
    )
    SELECT p.type_a, p.type_b,
           CAST(p.dot AS BIGINT) AS dot,
           CAST(1000 * p.dot // (na.nrm * nb.nrm) AS BIGINT)
               AS cosine_milli
    FROM pairs p
    JOIN norms na ON na.et = p.type_a
    JOIN norms nb ON nb.et = p.type_b
    """,
)
def q_profile_shape_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X264: cosine similarity between event-type hour-of-day profiles.

    Which event types share temporal shape? Each type's 24-bin
    hour-of-day histogram is a vector; pairwise cosine = dot /
    (|a|*|b|) with exact integer dot products, IEEE-exact floored
    isqrt norms, one truncating DIV to milli. High cosine between
    'click' and 'view' but not 'error' says errors follow a different
    clock — the behavioral-fingerprint comparison X256 computes
    per-type concentration for. TZ-proof modular epoch hours (X201).

    100 TB shape: the fact collapses to <= |types| x 24 cells in one
    map-side-combining aggregate; the pair join and norms run over
    that tiny relation.
    """
    e = table(spark, sf_dir, "events")
    prof = (
        e.select(
            F.col("event_type").alias("et"),
            F.expr(
                "CAST((unix_micros(ts) % 86400000000) DIV 3600000000"
                " AS BIGINT)"
            ).alias("hr"),
        )
        .groupBy("et", "hr")
        .agg(F.count("*").alias("n"))
    )
    a = prof.alias("a")
    b = prof.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.hr") == F.col("a.hr"))
            & (F.col("a.et") < F.col("b.et")),
        )
        .groupBy(
            F.col("a.et").alias("type_a"), F.col("b.et").alias("type_b")
        )
        .agg(F.sum(F.col("a.n") * F.col("b.n")).alias("dot"))
    )
    norms = prof.groupBy("et").agg(
        F.expr(
            "CAST(FLOOR(SQRT(CAST(SUM(n * n) AS DOUBLE))) AS BIGINT)"
        ).alias("nrm")
    )
    na = norms.select(
        F.col("et").alias("type_a"), F.col("nrm").alias("na")
    )
    nb = norms.select(
        F.col("et").alias("type_b"), F.col("nrm").alias("nb")
    )
    return (
        pairs.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("dot").cast("bigint").alias("dot"),
            F.expr("CAST(1000 * dot DIV (na * nb) AS BIGINT)").alias(
                "cosine_milli"
            ),
        )
    )


# --- X269: gapped-subsequence support ---------------------------------------

_GAP_PATTERNS = [
    ("starts_purchase", "p%"),
    ("ends_error", "%e"),
    ("adjacent_double_purchase", "%pp%"),
    ("purchase_error_purchase", "%pep%"),
    ("signup_first", "s%"),
]


@register(
    "q_sequence_support",
    tags=("pairs",),
    oracle=f"""
    WITH seqs AS (
        SELECT user_id,
               string_agg(substring(event_type, 1, 1), ''
                          ORDER BY ts, event_id) AS seq
        FROM events GROUP BY user_id
    ),
    tot AS (SELECT COUNT(*) AS n FROM seqs)
    SELECT pattern, CAST(n_support AS BIGINT) AS n_support,
           CAST(10000 * n_support // t.n AS BIGINT) AS support_bp
    FROM (
        {" UNION ALL ".join(
            f"SELECT '{name}' AS pattern,"
            f" SUM(CASE WHEN seq LIKE '{pat}' THEN 1 ELSE 0 END) AS n_support"
            f" FROM seqs"
            for name, pat in _GAP_PATTERNS
        )}
    ) u CROSS JOIN tot t
    """,
)
def q_sequence_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X269: sequence-pattern support census (anchored + adjacency).

    Support counting over per-user ordered type strings for the
    pattern classes plain funnels can't ask: anchored starts ('first
    act was a purchase' = LIKE 'p%'), anchored ends ('last act was an
    error' = '%e'), ADJACENT repeats ('two purchases back-to-back
    with nothing between' = '%pp%') and mixed shapes ('%pep%') — the
    support-counting inner loop of GSP/PrefixSpan-style sequential
    mining (X260 covers the purely-gapped funnel membership; X80 the
    contiguous 3-gram paths). Five candidates evaluate as conditional
    counts over ONE sequence relation; support in bp of all users.

    100 TB shape: the user shuffle builds the sequence strings once
    (X260's plan); each added pattern is one more conditional-sum
    column — candidate-set growth costs columns, not passes.
    """
    e = table(spark, sf_dir, "events")
    seqs = (
        e.select(
            "user_id",
            F.struct(
                F.col("ts"),
                F.col("event_id"),
                F.substring("event_type", 1, 1).alias("ch"),
            ).alias("rec"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("rec")), lambda r: r["ch"]
                ),
                "",
            ).alias("seq")
        )
    )
    tot = seqs.agg(F.count("*").alias("n"))
    parts = [
        seqs.agg(
            F.lit(name).alias("pattern"),
            F.sum(F.when(F.col("seq").like(pat), 1).otherwise(0)).alias(
                "n_support"
            ),
        )
        for name, pat in _GAP_PATTERNS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.crossJoin(F.broadcast(tot)).select(
        "pattern",
        F.col("n_support").cast("bigint").alias("n_support"),
        F.expr("CAST(10000 * n_support DIV n AS BIGINT)").alias(
            "support_bp"
        ),
    )


# --- X271: churn-threshold sensitivity --------------------------------------

_CHURN_THRESHOLDS_H = [6, 12, 24]


@register(
    "q_churn_sensitivity",
    oracle=f"""
    WITH mx AS (SELECT MAX(epoch_us(ts)) AS m FROM events),
    last_seen AS (
        SELECT user_id, MAX(epoch_us(ts)) AS l FROM events GROUP BY user_id
    ),
    aged AS (
        SELECT user_id, (x.m - l) // 3600000000 AS idle_h
        FROM last_seen CROSS JOIN mx x
    )
    SELECT threshold_hours,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(n_churned AS BIGINT) AS n_churned,
           CAST(10000 * n_churned // n_users AS BIGINT) AS churn_bp
    FROM (
        {" UNION ALL ".join(
            f"SELECT CAST({t} AS BIGINT) AS threshold_hours,"
            f" COUNT(*) AS n_users,"
            f" SUM(CASE WHEN idle_h > {t} THEN 1 ELSE 0 END) AS n_churned"
            f" FROM aged"
            for t in _CHURN_THRESHOLDS_H
        )}
    ) u
    """,
)
def q_churn_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X271: churn rate under 6/12/24-hour inactivity definitions.

    'Churn' is a definition, not a fact — this table shows how much
    the rate moves with the inactivity threshold, which should be
    read BEFORE anyone quotes a churn number (a metric that halves
    when the cutoff doubles is measuring the cutoff, not the users).
    Thresholds are hour-scale because the corpus spans 30 days; the
    operator is the same at any unit. One per-user last-activity
    aggregate; all thresholds evaluate as conditional counts over
    the same tiny aged relation. Idle time in TZ-proof epoch micros.

    100 TB shape: one user-grain max aggregate (map-side combine),
    a broadcast scalar for the corpus max, |thresholds|-row output.
    """
    e = table(spark, sf_dir, "events")
    mx = e.agg(F.max(F.expr("unix_micros(ts)")).alias("m"))
    last_seen = e.groupBy("user_id").agg(
        F.max(F.expr("unix_micros(ts)")).alias("l")
    )
    aged = last_seen.crossJoin(F.broadcast(mx)).select(
        F.expr("(m - l) DIV 3600000000").alias("idle_h")
    )
    parts = [
        aged.agg(
            F.lit(t).cast("bigint").alias("threshold_hours"),
            F.count("*").alias("n_users"),
            F.sum(F.when(F.col("idle_h") > t, 1).otherwise(0)).alias(
                "n_churned"
            ),
        )
        for t in _CHURN_THRESHOLDS_H
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.select(
        "threshold_hours",
        F.col("n_users").cast("bigint").alias("n_users"),
        F.col("n_churned").cast("bigint").alias("n_churned"),
        F.expr("CAST(10000 * n_churned DIV n_users AS BIGINT)").alias(
            "churn_bp"
        ),
    )


# --- X329: exact Shapley channel attribution ---------------------------------


def _fact_expr(col: F.Column) -> F.Column:
    """0!..8! as a when-chain (coalition sizes are tiny by construction)."""
    expr = F.when(col == 0, 1)
    for k, f in [(1, 1), (2, 2), (3, 6), (4, 24), (5, 120), (6, 720), (7, 5040), (8, 40320)]:
        expr = expr.when(col == k, f)
    return expr.cast("bigint")


@register(
    "q_shapley_attribution",
    oracle="""
    WITH chans AS (
        SELECT event_type AS channel,
               ROW_NUMBER() OVER (ORDER BY event_type) - 1 AS idx
        FROM (SELECT DISTINCT event_type FROM events
              WHERE event_type <> 'purchase')
    ),
    nch AS (SELECT COUNT(*) AS n FROM chans),
    touches AS (
        SELECT DISTINCT e.user_id, c.idx
        FROM events e JOIN chans c ON c.channel = e.event_type
    ),
    convs AS (
        SELECT user_id, MAX(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS conv
        FROM events GROUP BY user_id
    ),
    masks AS (
        SELECT user_id, SUM(1 << idx) AS mask FROM touches GROUP BY user_id
    ),
    user_mask AS (
        SELECT cv.user_id, COALESCE(m.mask, 0) AS mask, cv.conv
        FROM convs cv LEFT JOIN masks m ON m.user_id = cv.user_id
    ),
    mask_stats AS (
        SELECT mask, COUNT(*) AS n_users, SUM(conv) AS n_conv,
               CAST(ROUND(1000000.0 * SUM(conv) / COUNT(*)) AS BIGINT)
                   AS v_micro,
               CAST(bit_count(CAST(mask AS BIGINT)) AS BIGINT) AS s
        FROM user_mask GROUP BY mask
    ),
    fact(k, f) AS (VALUES (0, 1), (1, 1), (2, 2), (3, 6), (4, 24),
                          (5, 120), (6, 720), (7, 5040), (8, 40320)),
    terms AS (
        SELECT c.channel, c.idx,
               CASE WHEN (m.mask >> c.idx) & 1 = 1
                    THEN fp.f * fq.f * m.v_micro
                    ELSE -(fn.f * fm.f * m.v_micro) END AS term,
               CASE WHEN (m.mask >> c.idx) & 1 = 1
                    THEN m.n_users ELSE 0 END AS touched
        FROM mask_stats m
        CROSS JOIN chans c
        CROSS JOIN nch
        LEFT JOIN fact fp ON fp.k = m.s - 1
        LEFT JOIN fact fq ON fq.k = nch.n - m.s
        LEFT JOIN fact fn ON fn.k = m.s
        LEFT JOIN fact fm ON fm.k = nch.n - 1 - m.s
    ),
    nfact AS (SELECT f.f AS nf FROM nch JOIN fact f ON f.k = nch.n)
    SELECT t.channel,
           CAST(SUM(t.touched) AS BIGINT) AS n_touch_users,
           CAST(ROUND(CAST(SUM(t.term) AS DOUBLE) / nf.nf) AS BIGINT)
               AS shapley_micro
    FROM terms t CROSS JOIN nfact nf
    GROUP BY t.channel, nf.nf
    ORDER BY t.channel
    """,
)
def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X329: exact Shapley-value channel attribution.

    Coalition value v(S) = conversion rate (micro) among users whose
    touched-channel set is exactly S (unobserved coalitions contribute
    zero). Shapley credit per channel uses the observed-mask
    decomposition: phi_i = [ sum over observed masks M containing i of
    (|M|-1)!(n-|M|)! v(M)  -  sum over masks M not containing i of
    |M|!(n-1-|M|)! v(M) ] / n! — algebraically identical to the
    textbook subset sum but it only ever touches OBSERVED masks, so no
    2^n enumeration exists anywhere in the plan. All weights are exact
    integers; one float division per channel at the end.

    100 TB: one pass to per-user masks (conditional-bit aggregate),
    one shuffle to the <=2^n mask-stats relation; the Shapley join is
    |masks| x |channels| — constant-size, broadcast.
    """
    e = table(spark, sf_dir, "events")
    chans = (
        e.where(F.col("event_type") != "purchase")
        .select("event_type")
        .distinct()
        .select(
            F.col("event_type").alias("channel"),
            (F.row_number().over(Window.orderBy("event_type")) - 1).alias("idx"),
        )
        .localCheckpoint(eager=True)
    )
    n_ch = chans.count()
    touches = (
        e.join(F.broadcast(chans), e.event_type == chans.channel)
        .select("user_id", "idx")
        .distinct()
    )
    convs = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        )
    )
    masks = touches.groupBy("user_id").agg(
        F.sum(F.expr("shiftleft(1, idx)")).alias("mask_raw")
    )
    user_mask = convs.join(masks, "user_id", "left").select(
        "user_id",
        F.coalesce(F.col("mask_raw"), F.lit(0)).cast("bigint").alias("mask"),
        "conv",
    )
    mask_stats = (
        user_mask.groupBy("mask")
        .agg(F.count("*").alias("n_users"), F.sum("conv").alias("n_conv"))
        .select(
            "mask",
            "n_users",
            F.round(F.lit(1000000.0) * F.col("n_conv") / F.col("n_users"))
            .cast("bigint")
            .alias("v_micro"),
            F.bit_count(F.col("mask")).cast("bigint").alias("s"),
        )
    )
    n_fact = [1, 1, 2, 6, 24, 120, 720, 5040, 40320][n_ch]
    terms = mask_stats.crossJoin(F.broadcast(chans)).select(
        "channel",
        F.when(
            F.expr("(mask >> idx) & 1 = 1"),
            _fact_expr(F.col("s") - 1)
            * _fact_expr(F.lit(n_ch) - F.col("s"))
            * F.col("v_micro"),
        )
        .otherwise(
            -(
                _fact_expr(F.col("s"))
                * _fact_expr(F.lit(n_ch) - 1 - F.col("s"))
                * F.col("v_micro")
            )
        )
        .alias("term"),
        F.when(F.expr("(mask >> idx) & 1 = 1"), F.col("n_users"))
        .otherwise(0)
        .alias("touched"),
    )
    return (
        terms.groupBy("channel")
        .agg(
            F.sum("touched").cast("bigint").alias("n_touch_users"),
            F.round(F.sum("term").cast("double") / F.lit(n_fact))
            .cast("bigint")
            .alias("shapley_micro"),
        )
        .orderBy("channel")
    )
