"""Order, part and supplier analytics over the TPC-H star schema.

Revenue bridges and concentration (HHI, Lorenz, Theil), decile
migration, skylines, reorder and inventory metrics, FIFO cost layering,
backlog aging, proration, hierarchical shares, trending parts, frequent
itemsets, Bradley-Terry ratings and Allen interval relations between
fulfilment dates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from laser_hadoop_spark.registry import register
from laser_hadoop_spark.tables import table


@register(
    "q_skyline",
    oracle="""
    WITH v AS (
        SELECT p_partkey,
               CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS price_centi,
               p_size
        FROM part
    )
    SELECT a.p_partkey, a.price_centi, CAST(a.p_size AS BIGINT) AS p_size
    FROM v a
    WHERE NOT EXISTS (
        SELECT 1 FROM v b
        WHERE b.price_centi <= a.price_centi AND b.p_size >= a.p_size
          AND (b.price_centi < a.price_centi OR b.p_size > a.p_size)
    )
    """,
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X100: skyline / Pareto-front (min price, max size).

    A part is on the skyline when no other part is at-most-as-expensive
    AND at-least-as-large with one strict. The ORACLE is the quadratic
    NOT EXISTS; the Spark side is the linear sweep: per distinct size,
    the min price; running min over strictly-larger sizes (a window
    over |distinct sizes| rows — bounded by the attribute domain, not
    the table); a part is dominated iff that running min is <= its
    price (strictly larger size) or a same-size part is strictly
    cheaper. Broadcast the per-size frontier back onto the scan — the
    fact side never shuffles.
    """
    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).cast("bigint").alias(
            "price_centi"
        ),
        "p_size",
    )
    per_size = p.groupBy("p_size").agg(F.min("price_centi").alias("minp"))
    w_larger = (
        Window.orderBy(F.col("p_size").desc()).rowsBetween(Window.unboundedPreceding, -1)
    )
    # |distinct p_size| rows — the attribute domain (~50), not the table
    frontier = per_size.withColumn("min_larger", F.min("minp").over(w_larger))
    out = (
        p.join(F.broadcast(frontier), "p_size")
        .where(
            (F.col("min_larger").isNull() | (F.col("min_larger") > F.col("price_centi")))
            & (F.col("minp") == F.col("price_centi"))
        )
        .select("p_partkey", "price_centi", F.col("p_size").cast("bigint"))
    )
    return out


@register(
    "q_business_days",
    oracle="""
    WITH pairs AS (
        SELECT o.o_orderpriority AS priority,
               CAST(o.o_orderdate AS DATE) AS d0,
               CAST(l.l_shipdate AS DATE) AS d1
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE CAST(l.l_shipdate AS DATE) >= CAST(o.o_orderdate AS DATE)
    ),
    bd AS (
        SELECT priority,
               date_diff('day', d0, d1) AS cal_days,
               -- f(d) = weekdays in (anchor_monday, d]; biz = f(d1)-f(d0)
               ((date_diff('day', DATE '1970-01-05', d1) // 7) * 5
                + LEAST(date_diff('day', DATE '1970-01-05', d1) % 7 + 1, 5))
               - ((date_diff('day', DATE '1970-01-05', d0) // 7) * 5
                  + LEAST(date_diff('day', DATE '1970-01-05', d0) % 7 + 1, 5))
                   AS biz_days
        FROM pairs
    )
    SELECT priority, COUNT(*) AS n_lines,
           CAST(SUM(cal_days) AS BIGINT) AS cal_day_sum,
           CAST(SUM(biz_days) AS BIGINT) AS biz_day_sum,
           CAST(10000 * SUM(biz_days) // SUM(cal_days) AS BIGINT)
               AS biz_share_bp
    FROM bd GROUP BY priority
    """,
)
def q_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X171: order-to-ship latency in business days (closed form).

    SLA latency that skips weekends — computed with PURE weekday
    arithmetic, never by exploding a calendar spine per row (at 100 TB
    a per-row 0..cal_days explode is a self-DoS). The closed form is
    an anchored prefix function: f(d) = weekdays since a fixed Monday
    (1970-01-05) = (z DIV 7)*5 + LEAST(z%7 + 1, 5) with z =
    datediff(d, anchor); business days in (d0, d1] = f(d1) - f(d0) —
    property-verified against the day-by-day walk for 2000 random
    spans. All-positive z keeps DIV/% truncation identical on both
    engines. The aggregate reports calendar vs business day mass per
    priority with the exact bp share.
    """
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("d1")
    )
    pairs = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .where(F.col("d1") >= F.col("o_orderdate").cast("date"))
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderdate").cast("date").alias("d0"),
            "d1",
        )
    )

    def f(d: str):
        z = F.datediff(F.col(d), F.lit("1970-01-05").cast("date"))
        return F.expr(
            f"CAST(datediff({d}, DATE '1970-01-05') DIV 7 AS BIGINT) * 5"
        ) + F.least(z % 7 + 1, F.lit(5)).cast("bigint")

    bd = pairs.select(
        "priority",
        F.datediff("d1", "d0").cast("bigint").alias("cal_days"),
        (f("d1") - f("d0")).alias("biz_days"),
    )
    return bd.groupBy("priority").agg(
        F.count("*").alias("n_lines"),
        F.sum("cal_days").cast("bigint").alias("cal_day_sum"),
        F.sum("biz_days").cast("bigint").alias("biz_day_sum"),
        F.expr(
            "CAST(10000 * SUM(biz_days) DIV SUM(cal_days) AS BIGINT)"
        ).alias("biz_share_bp"),
    )


@register(
    "q_price_volume_mix",
    oracle="""
    WITH yr AS (
        SELECT l_partkey AS part, YEAR(l_shipdate) AS y,
               SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev,
               SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS qty
        FROM lineitem GROUP BY l_partkey, YEAR(l_shipdate)
    ),
    pairs AS (
        SELECT a.part, a.y AS y0, a.rev AS rev0, a.qty AS qty0,
               b.rev AS rev1, b.qty AS qty1
        FROM yr a JOIN yr b ON b.part = a.part AND b.y = a.y + 1
        WHERE a.qty > 0 AND b.qty > 0
    ),
    fx AS (
        SELECT y0,
               SUM(rev1 - rev0) AS delta_rev,
               SUM((qty1 - qty0) * rev0 // qty0) AS volume_effect,
               SUM(rev1 * qty0 // qty1 - rev0) AS price_effect
        FROM pairs GROUP BY y0
    )
    SELECT CAST(y0 AS INT) AS year_from,
           CAST(delta_rev AS BIGINT) AS delta_rev_centi,
           CAST(volume_effect AS BIGINT) AS volume_effect_centi,
           CAST(price_effect AS BIGINT) AS price_effect_centi,
           CAST(delta_rev - volume_effect - price_effect AS BIGINT)
               AS residual_centi
    FROM fx
    """,
)
def q_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X177: price-volume revenue bridge across adjacent years.

    The finance waterfall: how much of each year-over-year revenue
    change came from selling MORE (volume at old unit price:
    (q1-q0) * rev0/q0) vs charging MORE (new volume at the unit-price
    delta: q1 * (p1-p0) = rev1*q0/q1 - rev0 after clearing). Both
    effects are truncating integer divisions in exact centi, so the
    bridge does not exactly close — and instead of hiding that, the
    RESIDUAL (delta - volume - price: truncation + cross-term mass)
    is emitted as an exact self-check column the oracle hash pins.
    Two-period self-join on the per-(part, year) aggregate, never on
    the fact table.
    """
    li = table(spark, sf_dir, "lineitem")
    yr = li.groupBy(
        F.col("l_partkey").alias("part"),
        F.year("l_shipdate").alias("y"),
    ).agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("rev"),
        F.sum(F.floor(F.col("l_quantity") + F.lit(0.5)).cast("bigint")).alias(
            "qty"
        ),
    )
    a, b = yr.alias("a"), yr.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.part") == F.col("a.part"))
            & (F.col("b.y") == F.col("a.y") + 1),
        )
        .where((F.col("a.qty") > 0) & (F.col("b.qty") > 0))
        .select(
            F.col("a.y").alias("y0"),
            F.col("a.rev").alias("rev0"),
            F.col("a.qty").alias("qty0"),
            F.col("b.rev").alias("rev1"),
            F.col("b.qty").alias("qty1"),
        )
    )
    fx = pairs.groupBy("y0").agg(
        F.sum(F.col("rev1") - F.col("rev0")).alias("delta_rev"),
        F.sum(
            F.expr("(qty1 - qty0) * rev0 DIV qty0")
        ).alias("volume_effect"),
        F.sum(F.expr("rev1 * qty0 DIV qty1 - rev0")).alias("price_effect"),
    )
    return fx.select(
        F.col("y0").cast("int").alias("year_from"),
        F.col("delta_rev").cast("bigint").alias("delta_rev_centi"),
        F.col("volume_effect").cast("bigint").alias("volume_effect_centi"),
        F.col("price_effect").cast("bigint").alias("price_effect_centi"),
        (F.col("delta_rev") - F.col("volume_effect") - F.col("price_effect"))
        .cast("bigint")
        .alias("residual_centi"),
    )


@register(
    "q_decile_migration",
    oracle="""
    WITH cy AS (
        SELECT o_custkey AS cust, YEAR(o_orderdate) AS y,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS spend
        FROM orders GROUP BY o_custkey, YEAR(o_orderdate)
    ),
    dec AS (
        SELECT cust, y,
               NTILE(10) OVER (PARTITION BY y ORDER BY spend, cust) AS d
        FROM cy
    )
    SELECT CAST(a.y AS INT) AS year_from,
           CAST(a.d AS INT) AS from_decile,
           CAST(b.d AS INT) AS to_decile,
           COUNT(*) AS n_customers
    FROM dec a JOIN dec b ON b.cust = a.cust AND b.y = a.y + 1
    GROUP BY a.y, a.d, b.d
    """,
)
def q_decile_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X178: customer value-decile migration across adjacent years.

    The churn-risk transition matrix: each customer's spend decile in
    year Y vs Y+1 (only customers active in both). The oracle keeps
    DuckDB's NTILE(10) PARTITION BY y spelling; a per-year window
    would put EVERY customer of a year into one task, so the Spark
    side derives the per-year rank distributedly instead: one global
    row number over (y, spend, cust) via ordered_cumsum (parallel
    range shuffle), minus a per-year start offset computed by a
    triangular self-join over the tiny year-counts relation (the same
    no-SinglePartition offset discipline ordered_cumsum itself uses),
    then NTILE's closed form (closed_form_ntile) per year. The
    migration join is a two-period self-join on that same aggregate.
    The diagonal mass is retention; below-diagonal mass feeds the X78
    RFM interventions.
    """
    from laser_hadoop_spark.operators.cumulative import (
        closed_form_ntile,
        ordered_cumsum,
    )

    o = table(spark, sf_dir, "orders")
    cy = o.groupBy(
        F.col("o_custkey").alias("cust"),
        F.year("o_orderdate").alias("y"),
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("spend")
    )
    ranked = ordered_cumsum(
        cy, order_by=["y", "spend", "cust"], row_number_col="grn"
    )
    yc = cy.groupBy("y").agg(F.count("*").alias("n"))
    ya, yb = yc.alias("ya"), yc.alias("yb")
    offs = (
        ya.join(yb, F.col("yb.y") < F.col("ya.y"), "left")
        .groupBy(F.col("ya.y").alias("y"), F.col("ya.n").alias("n"))
        .agg(F.coalesce(F.sum(F.col("yb.n")), F.lit(0)).alias("off"))
    )
    dec = (
        ranked.join(F.broadcast(offs), "y")
        .withColumn("rn", F.col("grn") - F.col("off"))
        .select("cust", "y", closed_form_ntile("rn", "n", 10).alias("d"))
    )
    a, b = dec.alias("a"), dec.alias("b")
    return (
        a.join(
            b,
            (F.col("b.cust") == F.col("a.cust"))
            & (F.col("b.y") == F.col("a.y") + 1),
        )
        .groupBy(
            F.col("a.y").cast("int").alias("year_from"),
            F.col("a.d").cast("int").alias("from_decile"),
            F.col("b.d").cast("int").alias("to_decile"),
        )
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "q_reorder_rate",
    oracle="""
    WITH cp AS (
        SELECT l.l_partkey AS part, o.o_custkey AS cust,
               COUNT(DISTINCT o.o_orderkey) AS n_orders
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY l.l_partkey, o.o_custkey
    ),
    pr AS (
        SELECT part, COUNT(*) AS n_buyers,
               SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS n_repeat
        FROM cp GROUP BY part
    )
    SELECT CAST(n_buyers AS BIGINT) AS n_buyers_bucket,
           COUNT(*) AS n_parts,
           CAST(SUM(n_repeat) AS BIGINT) AS repeat_buyers,
           CAST(10000 * SUM(n_repeat) // SUM(n_buyers) AS BIGINT)
               AS reorder_bp
    FROM pr GROUP BY n_buyers
    """,
)
def q_reorder_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X193: part reorder rate by buyer-count bucket.

    The merchandiser's retention number: of a part's distinct buyers,
    what share purchased it in 2+ separate orders — bucketed by buyer
    count so popular and niche parts aren't averaged into one
    misleading rate (the X24 histogram discipline applied to a
    ratio). Plan: the part-customer order count rides the
    orderkey-bucketed warehouse join shape, then two narrow
    aggregates; exact bp.
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("l_partkey").alias("part"), F.col("o_custkey").alias("cust")
        )
        .agg(F.count_distinct("o_orderkey").alias("n_orders"))
    )
    pr = cp.groupBy("part").agg(
        F.count("*").alias("n_buyers"),
        F.sum(F.when(F.col("n_orders") >= 2, 1).otherwise(0)).alias(
            "n_repeat"
        ),
    )
    return pr.groupBy(
        F.col("n_buyers").cast("bigint").alias("n_buyers_bucket")
    ).agg(
        F.count("*").alias("n_parts"),
        F.sum("n_repeat").cast("bigint").alias("repeat_buyers"),
        F.expr(
            "CAST(10000 * SUM(n_repeat) DIV SUM(n_buyers) AS BIGINT)"
        ).alias("reorder_bp"),
    )


@register(
    "q_lorenz_points",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev
        FROM orders GROUP BY o_custkey
    ),
    d AS (
        SELECT rev, NTILE(10) OVER (ORDER BY rev, o_custkey) AS decile
        FROM cust
    ),
    per AS (
        SELECT decile, COUNT(*) AS n_cust, SUM(rev) AS rev
        FROM d GROUP BY decile
    ),
    cum AS (
        SELECT decile, n_cust, rev,
               SUM(rev) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED
                              PRECEDING AND CURRENT ROW) AS cum_rev,
               SUM(rev) OVER () AS total
        FROM per
    )
    SELECT CAST(decile AS INT) AS decile,
           CAST(n_cust AS BIGINT) AS n_customers,
           CAST(rev AS BIGINT) AS rev_centi,
           CAST(10000 * cum_rev // total AS BIGINT) AS cum_share_bp
    FROM cum
    """,
)
def q_lorenz_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X199: Lorenz curve points (cumulative revenue share by decile).

    The concentration CURVE behind X90's Gini scalar and X82's single
    80/20 crossing: per customer-revenue decile (poorest first), the
    cumulative share of total revenue in exact bp — perfect equality
    is the diagonal (1000, 2000, ...); the bow below it is what the
    dashboard draws. Deciles come from X118's closed-form ntile over
    the two-pass global rank of the per-customer aggregate (the
    oracle keeps NTILE — hash equality re-proves the closed form a
    fourth time); the 10-row cumulative is trivial. One fact
    aggregate, one two-pass rank, one 10-row walk.
    """
    from laser_hadoop_spark.operators.cumulative import (
        closed_form_ntile,
        ordered_cumsum,
    )
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("rev")
    )
    ranked = ordered_cumsum(
        cust, order_by=["rev", "o_custkey"], row_number_col="rn"
    )
    n_row = cust.agg(F.count("*").alias("n"))
    decile = closed_form_ntile()
    per = (
        ranked.crossJoin(F.broadcast(n_row))
        .select(decile.cast("int").alias("decile"), "rev")
        .groupBy("decile")
        .agg(F.count("*").alias("n_cust"), F.sum("rev").alias("rev"))
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    tw = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per.select(
        "decile",
        "n_cust",
        "rev",
        F.sum("rev").over(w).alias("cum_rev"),
        F.sum("rev").over(tw).alias("total"),
    )
    return cum.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("n_cust").cast("bigint").alias("n_customers"),
        F.col("rev").cast("bigint").alias("rev_centi"),
        F.expr(
            "CAST(10000 * CAST(cum_rev AS DECIMAL(38,0)) div total"
            " AS BIGINT)"
        ).alias("cum_share_bp"),
    )


@register(
    "q_hhi_concentration",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev
        FROM orders GROUP BY o_custkey
    ),
    tot AS (SELECT SUM(rev) AS total, COUNT(*) AS n FROM cust),
    shares AS (
        SELECT 10000 * c.rev // t.total AS share_bp
        FROM cust c CROSS JOIN tot t
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM tot) AS n_customers,
           CAST(SUM(CAST(share_bp AS HUGEINT) * share_bp) AS BIGINT)
               AS hhi_bp2,
           CAST((SELECT 100000000 // n FROM tot) AS BIGINT)
               AS perfect_equality_bp2
    FROM shares
    """,
)
def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X202: Herfindahl-Hirschman revenue concentration index.

    The antitrust/portfolio concentration scalar (public metric; the
    curve form is X199's Lorenz points, the inequality form X90's
    Gini): HHI = sum of squared revenue shares, here in squared basis
    points (monopoly = 1e8, perfect equality = 1e8/n — emitted as the
    reference line). Shares truncate to bp integers FIRST, so the
    squared sum is exact DECIMAL/HUGEINT arithmetic — no float
    squaring; per-customer truncation loss is bounded by n bp^2 and
    identical on both engines. One per-customer aggregate + one
    scalar pass.
    """
    o = table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("rev")
    )
    tot = cust.agg(F.sum("rev").alias("total"), F.count("*").alias("n"))
    shares = cust.crossJoin(F.broadcast(tot)).select(
        F.expr("10000 * rev DIV total").alias("share_bp"), "n"
    )
    return shares.agg(
        F.min("n").cast("bigint").alias("n_customers"),
        F.sum(F.col("share_bp").cast("decimal(38,0)") * F.col("share_bp"))
        .cast("bigint")
        .alias("hhi_bp2"),
        F.expr("CAST(100000000 DIV MIN(n) AS BIGINT)").alias(
            "perfect_equality_bp2"
        ),
    )


# --- X220: revenue proration (interval-overlap allocation) -----------------


@register(
    "q_revenue_proration",
    oracle="""
    WITH base AS (
        SELECT o_orderkey,
               CAST(o_orderdate AS DATE) AS start_d,
               CAST(10 + o_orderkey % 50 AS BIGINT) AS dur,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders
    ),
    exploded AS (
        SELECT o_orderkey, start_d, dur, cents,
               CAST(UNNEST(generate_series(
                   date_trunc('month', start_d),
                   date_trunc('month', start_d + CAST(dur - 1 AS INT)),
                   INTERVAL 1 MONTH)) AS DATE) AS m
        FROM base
    ),
    alloc AS (
        SELECT m,
               cents * LEAST(dur, date_diff('day', start_d,
                                 CAST(m + INTERVAL 1 MONTH AS DATE))) // dur
             - cents * GREATEST(0, date_diff('day', start_d, m)) // dur
                   AS alloc_cents
        FROM exploded
    )
    SELECT m AS month, COUNT(*) AS n_orders,
           CAST(SUM(alloc_cents) AS BIGINT) AS alloc_revenue_cents
    FROM alloc GROUP BY 1
    """,
)
def q_revenue_proration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X220: interval-overlap revenue proration, exact by telescoping.

    The revenue-recognition allocator: each order's revenue is spread
    over a service interval [orderdate, orderdate + dur) (dur = 10 +
    orderkey % 50 days, deterministic) proportionally to the day
    overlap with each calendar month. Exactness trick: month k's
    allocation is cum(k) - cum(k-1) where cum(k) = cents *
    days_through_k DIV dur — the truncating divisions TELESCOPE, so
    per-order allocations sum to the order total exactly with no
    largest-remainder fixup pass.

    100 TB: scan-local explode bounded by months-per-interval (<= 3
    here), then one month-keyed aggregate with map-side combine — the
    same plan as any calendar rollup; no join, no window.
    """
    o = table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("start_d"),
        (F.lit(10) + F.col("o_orderkey") % 50).cast("bigint").alias("dur"),
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    exploded = base.select(
        "o_orderkey",
        "start_d",
        "dur",
        "cents",
        F.explode(
            F.expr(
                "sequence(trunc(start_d, 'MM'), "
                "trunc(date_add(start_d, CAST(dur AS INT) - 1), 'MM'), "
                "interval 1 month)"
            )
        ).alias("m"),
    )
    alloc = exploded.select(
        F.col("m"),
        (
            F.expr(
                "cents * LEAST(dur, CAST(datediff(add_months(m, 1), start_d) "
                "AS BIGINT)) DIV dur"
            )
            - F.expr(
                "cents * GREATEST(0, CAST(datediff(m, start_d) AS BIGINT)) "
                "DIV dur"
            )
        ).alias("alloc_cents"),
    )
    return alloc.groupBy(F.col("m").alias("month")).agg(
        F.count("*").alias("n_orders"),
        F.sum("alloc_cents").cast("bigint").alias("alloc_revenue_cents"),
    )


# --- X225: frequent triple itemsets (A-priori step) ------------------------


# Bounded sweep variant (VERDICT_r11 item 5, q_damerau_pairs
# precedent): the DuckDB oracle's per-order triple self-join costs
# sum-over-orders C(brands,3) — 223 s at sf0.1, all oracle-side cost —
# so above driver scale BOTH sides restrict to the same deterministic
# md5 eighth-sample of orderkeys (first hex nibble in {0,1} => 1/8 of
# orders => 1/8 of the triple fanout). Support counts shrink but the
# top-20 ordering ties break deterministically (support DESC, then
# lexicographic), so the bounded hash match certifies the identical
# Spark kernel; the driver (sf0.01) always runs the full oracle.
_ITEMSET_SAMPLE_NIBBLES = ("0", "1")
_ITEMSET_SAMPLE_SQL = (
    "substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 1) IN ('0', '1')"
)


def _itemset_triples_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_itemset_triples restricted to the deterministic md5 order sample."""
    sample = F.substring(
        F.md5(F.col("l_orderkey").cast("string")), 1, 1
    ).isin(*_ITEMSET_SAMPLE_NIBBLES)
    return _itemset_triples(spark, sf_dir, order_filter=sample)


@register(
    "q_itemset_triples",
    tags=("pairs",),
    oracle="""
    WITH ob AS (
        SELECT DISTINCT l_orderkey AS ok, p_brand AS b
        FROM lineitem JOIN part ON p_partkey = l_partkey
    ),
    tri AS (
        SELECT a.b AS b1, bb.b AS b2, c.b AS b3, COUNT(*) AS support
        FROM ob a
        JOIN ob bb ON bb.ok = a.ok AND bb.b > a.b
        JOIN ob c ON c.ok = a.ok AND c.b > bb.b
        GROUP BY 1, 2, 3
    )
    SELECT b1, b2, b3, CAST(support AS BIGINT) AS support
    FROM tri
    ORDER BY support DESC, b1, b2, b3
    LIMIT 20
    """,
    bounded_fn=_itemset_triples_bounded,
    bounded_oracle=f"""
    -- MATERIALIZED is load-bearing: ob is referenced three times and
    -- DuckDB otherwise inlines the md5-filtered join into each —
    -- measured >180 s inlined vs 10.9 s materialized at sf0.1
    WITH ob AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS ok, p_brand AS b
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE {_ITEMSET_SAMPLE_SQL}
    ),
    tri AS (
        SELECT a.b AS b1, bb.b AS b2, c.b AS b3, COUNT(*) AS support
        FROM ob a
        JOIN ob bb ON bb.ok = a.ok AND bb.b > a.b
        JOIN ob c ON c.ok = a.ok AND c.b > bb.b
        GROUP BY 1, 2, 3
    )
    SELECT b1, b2, b3, CAST(support AS BIGINT) AS support
    FROM tri
    ORDER BY support DESC, b1, b2, b3
    LIMIT 20
    """,
)
def q_itemset_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X225: frequent 3-itemsets at brand granularity — the A-priori
    candidate-generation step above X62's pair rules.

    Distinct brands per order, all ordered brand triples within an
    order (b1 < b2 < b3 so each set counts once), support counts,
    deterministic top-20 (support DESC, then lexicographic — ties at
    the cut cannot flip the result set).

    100 TB: the triple fanout is per-order C(brands,3) with brands
    bounded by order size — scan-local after ONE shuffle on orderkey
    that both self-joins reuse; the part dimension broadcasts. Above
    driver scale the sweep uses the registered bounded variant (same
    kernel, md5 eighth-sampled order domain on BOTH engines) because
    the oracle-side triple join dominates the sf0.1 sweep — see
    _ITEMSET_SAMPLE_SQL.
    """
    return _itemset_triples(spark, sf_dir)


def _itemset_triples(
    spark: SparkSession, sf_dir: str, order_filter=None
) -> DataFrame:
    """Shared kernel for the full + bounded forms: the only difference
    is an optional pre-filter on the lineitem order domain."""
    li = table(spark, sf_dir, "lineitem")
    if order_filter is not None:
        li = li.where(order_filter)
    p = table(spark, sf_dir, "part")
    ob = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("b"))
        .distinct()
    )
    a, bb, c = ob.alias("a"), ob.alias("bb"), ob.alias("c")
    tri = (
        a.join(
            bb,
            (F.col("bb.ok") == F.col("a.ok")) & (F.col("bb.b") > F.col("a.b")),
        )
        .join(
            c,
            (F.col("c.ok") == F.col("a.ok")) & (F.col("c.b") > F.col("bb.b")),
        )
        .groupBy(
            F.col("a.b").alias("b1"),
            F.col("bb.b").alias("b2"),
            F.col("c.b").alias("b3"),
        )
        .agg(F.count("*").cast("bigint").alias("support"))
    )
    return tri.orderBy(F.desc("support"), "b1", "b2", "b3").limit(20)


# --- X230: hierarchical percent-of-parent ----------------------------------


@register(
    "q_hierarchical_share",
    oracle="""
    WITH rev AS (
        SELECT c.c_nationkey AS nk,
               SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1
    ),
    named AS (
        SELECT n.n_name AS nation, n.n_regionkey AS rk, r.cents
        FROM rev r JOIN nation n ON n.n_nationkey = r.nk
    ),
    region_tot AS (
        SELECT rk, CAST(SUM(cents) AS BIGINT) AS region_cents
        FROM named GROUP BY rk
    ),
    global_tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS global_cents FROM named)
    SELECT nm.nation, rg.r_name AS region,
           CAST(nm.cents AS BIGINT) AS nation_centi,
           CAST(nm.cents * 10000 // rt.region_cents AS BIGINT)
               AS share_of_region_bp,
           CAST(nm.cents * 10000 // gt.global_cents AS BIGINT)
               AS share_of_global_bp
    FROM named nm
    JOIN region_tot rt ON rt.rk = nm.rk
    JOIN region rg ON rg.r_regionkey = nm.rk
    CROSS JOIN global_tot gt
    """,
)
def q_hierarchical_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X230: hierarchical percent-of-parent (nation within region
    within global), exact bp.

    The multi-level ratio-to-report every OLAP drill-down renders:
    nation revenue, its share of the region subtotal, and its share of
    the grand total — all integer cents and truncating bp, no float
    shares to drift. The share denominators come from re-aggregating
    the 25-row nation relation, not re-scanning the fact.

    100 TB: ONE fact shuffle (custkey join + nation aggregate);
    everything above the 25-row relation is broadcast joins of
    dimension-sized subtotals — the canonical rollup-reuse plan.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    cents = F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.sum(cents).alias("cents"))
    )
    named = rev.join(
        F.broadcast(n), F.col("nk") == F.col("n_nationkey")
    ).select(F.col("n_name").alias("nation"), F.col("n_regionkey").alias("rk"), "cents")
    region_tot = named.groupBy("rk").agg(
        F.sum("cents").cast("bigint").alias("region_cents")
    )
    global_tot = named.agg(F.sum("cents").cast("bigint").alias("global_cents"))
    return (
        named.join(F.broadcast(region_tot), "rk")
        .join(F.broadcast(r), F.col("rk") == F.col("r_regionkey"))
        .crossJoin(F.broadcast(global_tot))
        .select(
            "nation",
            F.col("r_name").alias("region"),
            F.col("cents").cast("bigint").alias("nation_centi"),
            F.expr("cents * 10000 DIV region_cents")
            .cast("bigint")
            .alias("share_of_region_bp"),
            F.expr("cents * 10000 DIV global_cents")
            .cast("bigint")
            .alias("share_of_global_bp"),
        )
    )


# --- X243: Allen interval-relation census -----------------------------------

_ALLEN_CASE = """
    CASE
      WHEN e1 < s2 THEN 'precedes'
      WHEN e1 = s2 THEN 'meets'
      WHEN s1 = s2 AND e1 = e2 THEN 'equals'
      WHEN s1 = s2 AND e1 < e2 THEN 'starts'
      WHEN s1 = s2 AND e1 > e2 THEN 'started_by'
      WHEN e1 = e2 AND s1 < s2 THEN 'finished_by'
      WHEN e1 = e2 AND s1 > s2 THEN 'finishes'
      WHEN s1 < s2 AND e1 > e2 THEN 'contains'
      WHEN s1 > s2 AND e1 < e2 THEN 'during'
      WHEN s1 < s2 AND e1 < e2 THEN 'overlaps'
      WHEN s2 < s1 AND e2 < e1 AND s1 < e2 THEN 'overlapped_by'
      WHEN e2 = s1 THEN 'met_by'
      ELSE 'preceded_by'
    END
"""


@register(
    "q_allen_census",
    oracle=f"""
    WITH iv AS (
        SELECT o.o_custkey AS ck, o.o_orderkey AS ok,
               CAST(o.o_orderdate AS DATE) AS s,
               MAX(CAST(l.l_shipdate AS DATE)) AS e
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_custkey, o.o_orderkey, CAST(o.o_orderdate AS DATE)
    ),
    seq AS (
        SELECT ck, s, e,
               ROW_NUMBER() OVER (PARTITION BY ck ORDER BY s, ok) AS rn
        FROM iv
    ),
    pairs AS (
        SELECT a.s AS s1, a.e AS e1, b.s AS s2, b.e AS e2
        FROM seq a JOIN seq b ON b.ck = a.ck AND b.rn = a.rn + 1
    )
    SELECT {_ALLEN_CASE} AS relation, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY 1
    """,
)
def q_allen_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X243: Allen's interval algebra census over fulfillment windows.

    Each order's fulfillment interval is [orderdate, last shipdate];
    consecutive same-customer orders (by start date, orderkey
    tiebreak) are classified into Allen's 13 interval relations —
    the complete, mutually-exclusive vocabulary of temporal
    relationships. The census is the data-driven input to choosing a
    temporal-join strategy: a corpus that is 95% 'precedes' wants the
    as-of join (X3/J8), heavy 'overlaps' wants the interval join (J7).

    Pair order is fixed (earlier interval is LHS), so all 13 labels
    are reachable and the classification is deterministic — pure date
    comparisons, no arithmetic at all.

    100 TB shape: the interval build reuses the order-lineitem
    shuffle every TPC-H query pays; consecutive pairing is a
    rank + rn+1 self-equi-join per customer (X128's distributed-lead
    idiom — no global window), then a tiny census aggregate.
    """
    o = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderkey").alias("ok"),
        F.col("o_orderdate").cast("date").alias("s"),
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("sd")
    )
    iv = (
        o.join(li, o.ok == li.l_orderkey)
        .groupBy("ck", "ok", "s")
        .agg(F.max("sd").alias("e"))
    )
    seq = iv.select(
        "ck",
        "s",
        "e",
        F.row_number()
        .over(Window.partitionBy("ck").orderBy("s", "ok"))
        .alias("rn"),
    )
    a = seq.select(
        F.col("ck"),
        F.col("rn"),
        F.col("s").alias("s1"),
        F.col("e").alias("e1"),
    )
    b = seq.select(
        F.col("ck").alias("bck"),
        (F.col("rn") - 1).alias("brn"),
        F.col("s").alias("s2"),
        F.col("e").alias("e2"),
    )
    pairs = a.join(
        b, (F.col("bck") == F.col("ck")) & (F.col("brn") == F.col("rn"))
    )
    return (
        pairs.select(F.expr(_ALLEN_CASE).alias("relation"))
        .groupBy("relation")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
    )


# --- X254: inventory turns / days-of-supply ---------------------------------


def _inventory_oracle() -> str:
    from laser_hadoop_spark.queries.tpch import _PARTSUPP_SQL

    return (
        "WITH "
        + _PARTSUPP_SQL
        + """
    , demand AS (
        SELECT p.p_brand AS brand,
               SUM(CAST(l.l_quantity AS BIGINT)) AS annual_qty
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY p.p_brand
    ),
    stock AS (
        SELECT p.p_brand AS brand, SUM(s.ps_availqty) AS on_hand
        FROM partsupp s JOIN part p ON p.p_partkey = s.ps_partkey
        GROUP BY p.p_brand
    )
    SELECT d.brand,
           CAST(d.annual_qty AS BIGINT) AS annual_demand_qty,
           CAST(s.on_hand AS BIGINT) AS on_hand_qty,
           CAST(1000 * d.annual_qty // s.on_hand AS BIGINT) AS turns_milli,
           CAST(365 * s.on_hand // d.annual_qty AS BIGINT) AS days_of_supply
    FROM demand d JOIN stock s ON s.brand = d.brand
    """
    )


@register("q_inventory_turns", oracle=_inventory_oracle())
def q_inventory_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X254: inventory turns and days-of-supply per brand.

    turns = annual demand / on-hand stock (milli), days-of-supply =
    365 * stock / demand — the two replenishment dashboard numbers,
    exact truncating integer ratios. Low turns + high days = capital
    tied up; the retail-ops sibling of X95's ABC classification
    (which ranks by revenue; this measures velocity).

    100 TB shape: two independent brand-grain aggregates (lineitem
    through the broadcast part dim; the X46 deterministic derived
    partsupp likewise) joined on the tiny brand key — the fact
    shuffle carries |brands| rows after map-side combine.
    """
    from laser_hadoop_spark.queries.tpch import derived_partsupp

    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    ps = derived_partsupp(spark, sf_dir).select("ps_partkey", "ps_availqty")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    demand = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("annual_qty"))
    )
    stock = (
        ps.join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.sum("ps_availqty").alias("on_hand"))
    )
    return demand.join(stock, "brand").select(
        "brand",
        F.col("annual_qty").cast("bigint").alias("annual_demand_qty"),
        F.col("on_hand").cast("bigint").alias("on_hand_qty"),
        F.expr("CAST(1000 * annual_qty DIV on_hand AS BIGINT)").alias(
            "turns_milli"
        ),
        F.expr("CAST(365 * on_hand DIV annual_qty AS BIGINT)").alias(
            "days_of_supply"
        ),
    )


# --- X267: backlog aging ----------------------------------------------------

_AGING_CUTOFF = "1997-06-30"


@register(
    "q_backlog_aging",
    oracle=f"""
    WITH open_orders AS (
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders
        WHERE o_orderstatus = 'O'
          AND CAST(o_orderdate AS DATE) <= DATE '{_AGING_CUTOFF}'
    ),
    aged AS (
        SELECT cents,
               CASE
                 WHEN DATE '{_AGING_CUTOFF}' - od <= 30 THEN '0-30'
                 WHEN DATE '{_AGING_CUTOFF}' - od <= 90 THEN '31-90'
                 WHEN DATE '{_AGING_CUTOFF}' - od <= 365 THEN '91-365'
                 ELSE '365+'
               END AS bucket
        FROM open_orders
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS value_cents
    FROM aged GROUP BY bucket
    """,
)
def q_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X267: open-order backlog aging at a cutoff date.

    Orders still open at the cutoff, bucketed by age (0-30, 31-90,
    91-365, 365+ days) with order-value totals — the aging report
    every fulfillment/AR dashboard carries (X83 measures latency of
    SHIPPED orders; this counts the ones that haven't). Pure date
    arithmetic and conditional aggregation; the status+date filters
    push to the parquet scan.

    100 TB shape: one filtered conditional-agg pass, 4-row output.
    """
    o = table(spark, sf_dir, "orders")
    cutoff = F.lit(_AGING_CUTOFF).cast("date")
    open_orders = o.where(
        (F.col("o_orderstatus") == "O")
        & (F.col("o_orderdate").cast("date") <= cutoff)
    ).select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        F.datediff(cutoff, F.col("o_orderdate").cast("date")).alias("age"),
    )
    bucket = (
        F.when(F.col("age") <= 30, "0-30")
        .when(F.col("age") <= 90, "31-90")
        .when(F.col("age") <= 365, "91-365")
        .otherwise("365+")
    )
    return (
        open_orders.select(bucket.alias("bucket"), "cents")
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("value_cents"),
        )
    )


# --- X270: half-life trending score -----------------------------------------

_TREND_HORIZON_W = 26  # decay horizon in weeks
_TREND_TOPK = 20


@register(
    "q_trending_parts",
    oracle=f"""
    WITH mx AS (
        SELECT MAX(CAST(l_shipdate AS DATE)) AS mxd FROM lineitem
    ),
    scored AS (
        SELECT l.l_partkey AS part,
               (m.mxd - CAST(l.l_shipdate AS DATE)) // 7 AS age_w
        FROM lineitem l CROSS JOIN mx m
        WHERE (m.mxd - CAST(l.l_shipdate AS DATE)) // 7 <= {_TREND_HORIZON_W}
    ),
    totals AS (
        SELECT part,
               SUM(CAST(1 AS BIGINT) << ({_TREND_HORIZON_W} - age_w))
                   AS score_scaled,
               COUNT(*) AS n_recent
        FROM scored GROUP BY part
    ),
    ranked AS (
        SELECT part, score_scaled, n_recent,
               ROW_NUMBER() OVER (ORDER BY score_scaled DESC, part) AS rk
        FROM totals
    )
    SELECT CAST(part AS BIGINT) AS part,
           CAST(score_scaled AS BIGINT) AS score_scaled,
           CAST(n_recent AS BIGINT) AS n_recent, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= {_TREND_TOPK}
    """,
)
def q_trending_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X270: half-life-decayed trending-parts leaderboard, exact.

    Each shipment contributes 2^(-age_weeks) to its part's score — a
    one-week half-life leaderboard where yesterday's hit outranks
    last quarter's bestseller. Exact integers: the score is scaled by
    2^H (H = 26-week horizon) so every contribution is the bit shift
    1 << (H - age_w) — X112's exact geometric decay turned from a
    per-entity trace into a ranking; beyond the horizon contributes 0
    (a true production cutoff: it also bounds the scan by a pushed
    shipdate filter).

    100 TB shape: age and shift are scan-local; one part-key
    aggregate with map-side combine; top-k over the aggregated
    relation (TakeOrderedAndProject / the X157 salted ladder at
    extreme part cardinality).
    """
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_shipdate")
    mx = li.agg(F.max(F.col("l_shipdate").cast("date")).alias("mxd"))
    scored = (
        li.crossJoin(F.broadcast(mx))
        .select(
            F.col("l_partkey").alias("part"),
            F.expr(
                "datediff(mxd, CAST(l_shipdate AS DATE)) DIV 7"
            ).alias("age_w"),
        )
        .where(F.col("age_w") <= _TREND_HORIZON_W)
    )
    totals = scored.groupBy("part").agg(
        F.sum(
            F.expr(f"CAST(1 AS BIGINT) << ({_TREND_HORIZON_W} - age_w)")
        ).alias("score_scaled"),
        F.count("*").alias("n_recent"),
    )
    ranked = totals.select(
        "part",
        "score_scaled",
        "n_recent",
        F.row_number()
        .over(Window.orderBy(F.desc("score_scaled"), "part"))
        .alias("rk"),
    )
    return ranked.where(F.col("rk") <= _TREND_TOPK).select(
        F.col("part").cast("bigint").alias("part"),
        F.col("score_scaled").cast("bigint").alias("score_scaled"),
        F.col("n_recent").cast("bigint").alias("n_recent"),
        F.col("rk").cast("int").alias("rk"),
    )


# --- X282: Theil inequality index ---------------------------------------------


@register(
    "q_theil_index",
    oracle="""
    WITH base AS (
        SELECT c.c_mktsegment AS seg,
               CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS x
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    lx AS (
        SELECT seg, x,
               CAST(FLOOR(LN(x) * 1000000 + 0.5) AS BIGINT) AS lnx_micro
        FROM base
    ),
    grp AS (
        SELECT seg, COUNT(*) AS n, SUM(x) AS s,
               SUM(CAST(x AS HUGEINT) * lnx_micro) AS xlnx
        FROM lx GROUP BY seg
    ),
    stacked AS (
        SELECT seg, n, s, xlnx FROM grp
        UNION ALL
        SELECT 'ALL', SUM(n), SUM(s), SUM(xlnx) FROM grp
    )
    SELECT seg,
           CAST(n AS BIGINT) AS n,
           CAST(xlnx // s
                + CAST(FLOOR(LN(n) * 1000000 + 0.5) AS BIGINT)
                - CAST(FLOOR(LN(s) * 1000000 + 0.5) AS BIGINT)
                AS BIGINT) AS theil_micro
    FROM stacked
    """,
)
def q_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X282: Theil inequality index of order values, by segment + ALL.

    T = (1/N) sum (x_i/mu) ln(x_i/mu) — the entropy-based inequality
    measure completing the concentration family (X90 Gini, X199
    Lorenz, X202 HHI): 0 = perfect equality, ln(N) = one order holds
    everything, and unlike Gini it decomposes additively by subgroup.
    Fixed-point discipline (X108): expand ln(x/mu) = ln(x) + ln(n) -
    ln(s); per-row ln(x) of an INTEGER micro-rounds to a bigint before
    the weighted sum, the two scalar logs micro-round once per group,
    and T_micro = sum(x*lnx)/s + ln(n) - ln(s) needs one truncating
    division of nonnegative terms.

    100 TB shape: scan-local ln + one (segment) aggregate with
    map-side combine; the ALL row reuses the 5 group rows, not the
    facts.
    """
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("x"),
    )
    lx = base.withColumn(
        "lnx_micro",
        F.floor(F.log(F.col("x").cast("double")) * 1000000 + F.lit(0.5)).cast(
            "bigint"
        ),
    )
    grp = lx.groupBy("seg").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("lnx_micro")).alias(
            "xlnx"
        ),
    )
    stacked = grp.unionByName(
        grp.agg(
            F.lit("ALL").alias("seg"),
            F.sum("n").alias("n"),
            F.sum("s").alias("s"),
            F.sum("xlnx").alias("xlnx"),
        )
    )
    ln_micro = (
        lambda col: F.floor(
            F.log(F.col(col).cast("double")) * 1000000 + F.lit(0.5)
        ).cast("bigint")
    )
    return stacked.select(
        "seg",
        F.col("n").cast("bigint").alias("n"),
        (
            F.expr("xlnx DIV s")
            + ln_micro("n")
            - ln_micro("s")
        ).cast("bigint").alias("theil_micro"),
    )


# --- X332: FIFO cost layering -------------------------------------------------


@register(
    "q_fifo_cogs",
    oracle="""
    WITH layers AS (
        SELECT l_partkey,
               CAST(l_quantity AS BIGINT) AS qty,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS ext_cents,
               SUM(CAST(l_quantity AS BIGINT)) OVER (
                   PARTITION BY l_partkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_qty
        FROM lineitem
    ),
    tot AS (
        SELECT l_partkey, SUM(qty) AS t_qty FROM layers GROUP BY l_partkey
    ),
    alloc AS (
        SELECT l.l_partkey, l.qty, l.ext_cents,
               t.t_qty // 2 AS demand,
               LEAST(l.qty,
                     GREATEST(0, t.t_qty // 2 - (l.cum_qty - l.qty)))
                   AS used
        FROM layers l JOIN tot t ON t.l_partkey = l.l_partkey
    )
    SELECT l_partkey,
           CAST(MAX(demand) AS BIGINT) AS demand_units,
           CAST(SUM(CAST(ROUND(CAST(ext_cents * used AS DOUBLE) / qty)
                         AS BIGINT)) AS BIGINT) AS cogs_cents,
           CAST(SUM(CASE WHEN used > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_layers_used
    FROM alloc
    GROUP BY l_partkey
    HAVING MAX(demand) > 0
    ORDER BY l_partkey
    """,
)
def q_fifo_cogs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X332: FIFO inventory cost layering (COGS at the half-demand mark).

    Treat each part's lineitem rows, in ship-date order, as supply
    layers; consume floor(total/2) units first-in-first-out. A layer's
    contribution is its full face value while wholly consumed and
    pro-rated (one float division, rounded to cents) at the boundary
    — the inventory-accounting allocation (FIFO COGS) that otherwise
    tempts an O(n^2) self-join of sells against buys; here it is pure
    keyed cumulative arithmetic: used = clamp(demand - cum_before,
    0, qty).

    100 TB: the running quantity is a per-part window (bounded group
    size), totals are one keyed aggregate joined back on the same
    key — two shuffles on l_partkey, both AQE-coalesced.
    """
    li = table(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    layers = li.select(
        "l_partkey",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("ext_cents"),
    ).withColumn("cum_qty", F.sum("qty").over(w))
    tot = layers.groupBy("l_partkey").agg(F.sum("qty").alias("t_qty"))
    demand = F.floor(F.col("t_qty") / 2).cast("bigint")
    alloc = layers.join(tot, "l_partkey").select(
        "l_partkey",
        "qty",
        "ext_cents",
        demand.alias("demand"),
        F.least(
            F.col("qty"),
            F.greatest(F.lit(0), demand - (F.col("cum_qty") - F.col("qty"))),
        ).alias("used"),
    )
    return (
        alloc.groupBy("l_partkey")
        .agg(
            F.max("demand").cast("bigint").alias("demand_units"),
            F.sum(
                F.round(
                    (F.col("ext_cents") * F.col("used")).cast("double")
                    / F.col("qty")
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("cogs_cents"),
            F.sum(F.when(F.col("used") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_layers_used"),
        )
        .where(F.col("demand_units") > 0)
        .orderBy("l_partkey")
    )


# --- X339: Bradley-Terry pairwise-preference ratings -------------------------


@register(
    "q_bradley_terry",
    oracle="""
    WITH oq AS (
        SELECT l.l_orderkey AS okey, p.p_brand AS brand,
               CAST(SUM(l.l_quantity) AS BIGINT) AS q
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ),
    contests AS (
        SELECT a.brand AS i, b.brand AS j,
               CASE WHEN a.q > b.q THEN 1 ELSE 0 END AS win
        FROM oq a JOIN oq b ON b.okey = a.okey AND b.brand <> a.brand
        WHERE a.q <> b.q
    ),
    sym AS (
        SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n_ij,
               CAST(SUM(win) AS BIGINT) AS w_ij
        FROM contests GROUP BY i, j
    ),
    wins AS (SELECT i, SUM(w_ij) AS w FROM sym GROUP BY i),
    p0 AS (SELECT i, CAST(1000000 AS BIGINT) AS p FROM wins),
    d1 AS (
        SELECT s.i,
               SUM(CAST(ROUND(1000000.0
                              * (s.n_ij * 1000000.0 / (pi.p + pj.p)))
                        AS BIGINT)) AS d
        FROM sym s
        JOIN p0 pi ON pi.i = s.i
        JOIN p0 pj ON pj.i = s.j
        GROUP BY s.i
    ),
    p1 AS (
        SELECT w.i,
               CAST(ROUND(1000000000000.0 * w.w / d1.d) AS BIGINT) AS p
        FROM wins w JOIN d1 ON d1.i = w.i
    ),
    d2 AS (
        SELECT s.i,
               SUM(CAST(ROUND(1000000.0
                              * (s.n_ij * 1000000.0 / (pi.p + pj.p)))
                        AS BIGINT)) AS d
        FROM sym s
        JOIN p1 pi ON pi.i = s.i
        JOIN p1 pj ON pj.i = s.j
        GROUP BY s.i
    ),
    p2 AS (
        SELECT w.i,
               CAST(ROUND(1000000000000.0 * w.w / d2.d) AS BIGINT) AS p
        FROM wins w JOIN d2 ON d2.i = w.i
    ),
    tot AS (SELECT SUM(p) AS sp FROM p2)
    SELECT p2.i AS brand,
           CAST(w.w AS BIGINT) AS wins,
           CAST((SELECT SUM(n_ij) FROM sym s WHERE s.i = p2.i) AS BIGINT)
               AS contests,
           CAST(ROUND(1000000.0 * p2.p / t.sp) AS BIGINT) AS rating_micro
    FROM p2 JOIN wins w ON w.i = p2.i CROSS JOIN tot t
    ORDER BY brand
    """,
)
def q_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X339: Bradley-Terry ratings from within-order brand contests.

    Within each order, brand a "beats" brand b when it ships more
    units (ties are no-contests); the pairwise win/contest census
    feeds two unrolled Hunter (2004) MM iterations: p_i <- W_i /
    sum_j n_ij/(p_i + p_j). Each denominator term micro-rounds before
    the integer sum (X320's fixed-point iteration discipline), so the
    iteration is hash-reproducible; ratings are reported as
    share-of-total in micro. This is the order-independent batch
    analogue of Elo — the pairwise-preference ranking used by
    chatbot-arena-style eval — and converges to the same MLE.

    100 TB: contests are an in-order self-join of the (order, brand)
    aggregate (per-order fanout is bounded by brands-per-order); both
    MM iterations run on the <= |brands|^2 sym relation, broadcast.
    """
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    oq = (
        li.join(F.broadcast(p.select("p_partkey", "p_brand")),
                li.l_partkey == p.p_partkey)
        .groupBy(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .agg(F.sum("l_quantity").cast("bigint").alias("q"))
        .localCheckpoint(eager=True)
    )
    a, b = oq.alias("a"), oq.alias("b")
    contests = a.join(
        b,
        (F.col("b.okey") == F.col("a.okey"))
        & (F.col("b.brand") != F.col("a.brand")),
    ).where(F.col("a.q") != F.col("b.q")).select(
        F.col("a.brand").alias("i"),
        F.col("b.brand").alias("j"),
        F.when(F.col("a.q") > F.col("b.q"), 1).otherwise(0).alias("win"),
    )
    sym = (
        contests.groupBy("i", "j")
        .agg(
            F.count("*").cast("bigint").alias("n_ij"),
            F.sum("win").cast("bigint").alias("w_ij"),
        )
        .localCheckpoint(eager=True)
    )
    wins = sym.groupBy("i").agg(
        F.sum("w_ij").alias("w"), F.sum("n_ij").alias("contests")
    ).localCheckpoint(eager=True)

    def mm_iter(p_df: DataFrame) -> DataFrame:
        pi = p_df.select(F.col("i"), F.col("p").alias("p_i"))
        pj = p_df.select(F.col("i").alias("j"), F.col("p").alias("p_j"))
        d = (
            sym.join(F.broadcast(pi), "i")
            .join(F.broadcast(pj), "j")
            .select(
                "i",
                F.round(
                    F.lit(1000000.0)
                    * (F.col("n_ij") * F.lit(1000000.0)
                       / (F.col("p_i") + F.col("p_j")))
                )
                .cast("bigint")
                .alias("t"),
            )
            .groupBy("i")
            .agg(F.sum("t").alias("d"))
        )
        return wins.join(d, "i").select(
            "i",
            F.round(F.lit(1000000000000.0) * F.col("w") / F.col("d"))
            .cast("bigint")
            .alias("p"),
        ).localCheckpoint(eager=True)

    p0 = wins.select("i", F.lit(1000000).cast("bigint").alias("p"))
    p2 = mm_iter(mm_iter(p0))
    tot = p2.agg(F.sum("p").alias("sp"))
    return (
        p2.join(wins, "i")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("i").alias("brand"),
            F.col("w").cast("bigint").alias("wins"),
            F.col("contests").cast("bigint").alias("contests"),
            F.round(F.lit(1000000.0) * F.col("p") / F.col("sp"))
            .cast("bigint")
            .alias("rating_micro"),
        )
        .orderBy("brand")
    )
