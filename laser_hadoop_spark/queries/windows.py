"""Window-function queries (SURVEY.md §2.5).

The reference's two window-shaped mechanisms: row-number chunking of
individuals into 100-row chunk files (LASERInputCheckMapper.java:118-168)
and [start,end] range batching with %05d ids (TRACEJobGenerator.java:52-93).
Every window spec orders by a unique key so results are deterministic.
The family also holds frame variants (RANGE frames, first/last/nth
value, relative ranks), sweep-line interval queries, gaps-and-islands
and the recursive-CTE form of the batch loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from laser_hadoop_spark.registry import register
from laser_hadoop_spark.tables import register_views, table

CHUNK_SIZE = 100  # LASERInputValidator.java:18 (chunk of 100 individuals)
BATCH_SIZE = 100  # TRACEJobGenerator batch_size workflow param stand-in


@register(
    "q_row_number_chunking",
    oracle=f"""
    SELECT chunk, COUNT(*) AS n_rows,
           MIN(o_orderkey) AS first_key, MAX(o_orderkey) AS last_key
    FROM (
        SELECT o_orderkey,
               CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1)
                          / {CHUNK_SIZE}) AS BIGINT) AS chunk
        FROM orders
    )
    GROUP BY chunk
    """,
)
def q_row_number_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: row-number chunking — assign row i to chunk floor(i/100).

    Reference: seq rows rolled into {chunk}.chunk.seq.gz files of 100
    individuals each (LASERInputCheckMapper.java:148-168). The file-sink
    form (write.partitionBy('chunk')) is exercised in pytest; here the
    chunk assignment + per-chunk stats are oracle-checked.

    Physical strategy: the global row number comes from
    operators/cumulative.ordered_cumsum's ``row_number_col`` —
    range-partitioned parallel sort, per-partition row numbers and
    prefix offsets joined back declaratively (lazy checkpoint, no
    driver collect) — then chunk = floor((rn - 1) / 100).
    Output-identical to a global row_number() window (the oracle's
    formulation) but with no single-partition stage, so it survives a
    100x scale-up; equivalence with the window form is pytest-pinned.
    """
    from laser_hadoop_spark.operators.cumulative import ordered_cumsum

    o = table(spark, sf_dir, "orders")
    chunked = ordered_cumsum(
        o.select("o_orderkey"), order_by=["o_orderkey"], row_number_col="__rn"
    ).select(
        "o_orderkey",
        F.floor((F.col("__rn") - 1) / CHUNK_SIZE).alias("chunk"),
    )
    return chunked.groupBy("chunk").agg(
        F.count("*").alias("n_rows"),
        F.min("o_orderkey").alias("first_key"),
        F.max("o_orderkey").alias("last_key"),
    )


@register(
    "q_ntile_batching",
    oracle=f"""
    WITH n AS (SELECT COUNT(*) AS n_ind FROM customer)
    SELECT printf('%05d', CAST((start_i - 1) / {BATCH_SIZE} AS BIGINT)) AS batch_id,
           start_i AS start_ind,
           LEAST(start_i + {BATCH_SIZE} - 1, n_ind) AS end_ind
    FROM (SELECT UNNEST(generate_series(1, n_ind, {BATCH_SIZE})) AS start_i, n_ind
          FROM n)
    """,
)
def q_ntile_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/U4: range batching — tile 1..N into [start,end] windows.

    Reference: TRACEJobGenerator loops start=1..nIndividuals in
    batch_size strides, emitting one zero-padded '%05d' descriptor pair
    per batch (TRACEJobGenerator.java:52-93). Spark form: a 1-row count
    aggregate exploded through sequence() — a table-generating function,
    no driver-side loop.
    """
    c = table(spark, sf_dir, "customer")
    n = c.agg(F.count("*").alias("n_ind"))
    return (
        n.select(
            F.explode(F.sequence(F.lit(1), F.col("n_ind"), F.lit(BATCH_SIZE))).alias(
                "start_i"
            ),
            "n_ind",
        )
        .select(
            F.format_string(
                "%05d", F.floor((F.col("start_i") - 1) / BATCH_SIZE)
            ).alias("batch_id"),
            F.col("start_i").alias("start_ind"),
            F.least(F.col("start_i") + BATCH_SIZE - 1, F.col("n_ind")).alias("end_ind"),
        )
    )


@register(
    "q_rank_topk_per_group",
    oracle="""
    SELECT o_orderpriority, o_orderkey, ROUND(o_totalprice, 4) AS total_price, rn
    FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    )
    WHERE rn <= 3
    """,
)
def q_rank_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: top-k per group via ranked window + filter."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.round("o_totalprice", 4).alias("total_price"),
            "rn",
        )
    )


@register(
    "q_window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS DOUBLE)
           AS running_spend
    FROM orders
    """,
)
def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: running sum with an explicit row frame."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w), 4)
        .cast("double")
        .alias("running_spend"),
    )


@register(
    "q_lag_lead",
    oracle="""
    SELECT user_id, event_id,
           ROUND(value, 4) AS value,
           ROUND(LAG(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id), 4)
               AS prev_value,
           ROUND(LEAD(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4)
               AS next_value
    FROM events
    """,
)
def q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: lag/lead over per-entity event time (tiebroken by event_id)."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        F.round("value", 4).alias("value"),
        F.round(F.lag("value").over(w), 4).alias("prev_value"),
        F.round(F.lead("value").over(w), 4).alias("next_value"),
    )


BATCH_SIZE_RCTE = 100  # recursive-CTE batch stride (TRACEJobGenerator stand-in)


@register(
    "q_first_last_window",
    oracle="""
    SELECT o_custkey, o_orderkey,
           FIRST_VALUE(o_orderkey) OVER w AS first_order,
           LAST_VALUE(o_orderkey)  OVER w AS last_order,
           NTH_VALUE(o_orderkey, 2) OVER w AS second_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_first_last_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-closure: first_value/last_value/nth_value over an unbounded frame.

    The frame is explicit (default frame for last_value would stop at
    CURRENT ROW); ordering carries the unique o_orderkey tiebreaker.
    """
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
    )


@register(
    "q_percent_rank_ntile",
    oracle="""
    SELECT o_orderkey,
           ROUND(PERCENT_RANK() OVER w, 4) AS pct_rank,
           ROUND(CUME_DIST()    OVER w, 4) AS cume,
           NTILE(4) OVER w AS quartile
    FROM orders
    WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
    """,
)
def q_percent_rank_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-closure: relative-rank analytics (percent_rank, cume_dist, ntile).

    The ordering (o_totalprice, o_orderkey) is a TOTAL order (unique
    key tiebreaker), so the three relative-rank functions reduce to
    closed forms over the global row number rn and total count n:
    percent_rank = (rn-1)/(n-1), cume_dist = rn/n, and ntile(4) via
    closed_form_ntile's remainder arithmetic. rn comes from
    operators/cumulative.ordered_cumsum (range-repartition + two-pass
    offsets) — NO single-partition window anywhere in the plan, unlike
    the naive Window.orderBy spelling that funnels the whole orders
    fact through one task. The oracle keeps DuckDB's window spelling;
    hash equality proves the closed forms match.
    """
    from laser_hadoop_spark.operators.cumulative import (
        closed_form_ntile,
        ordered_cumsum,
    )

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked = ordered_cumsum(
        o, order_by=["o_totalprice", "o_orderkey"], row_number_col="rn"
    )
    n_row = o.agg(F.count("*").alias("n"))
    return (
        ranked.crossJoin(F.broadcast(n_row))
        .select(
            "o_orderkey",
            F.round((F.col("rn") - 1) / (F.col("n") - 1), 4).alias("pct_rank"),
            F.round(F.col("rn") / F.col("n"), 4).alias("cume"),
            closed_form_ntile("rn", "n", 4).cast("int").alias("quartile"),
        )
    )


@register(
    "q_rolling_avg_range",
    oracle="""
    SELECT event_id, user_id,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))) OVER (
               PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW), 4)
               AS DOUBLE) AS trailing_1h_sum,
           COUNT(*) OVER (
               PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
               AS trailing_1h_n
    FROM events
    """,
)
def q_rolling_avg_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-closure: RANGE (event-time interval) window frame.

    Trailing-1-hour sum/count per user — a *value-based* frame, not a
    row count: all rows within [ts-1h, ts] enter the frame, so
    same-timestamp ties get identical frames on every engine (row
    frames would be ambiguous under ties). Spark side orders by
    unix_micros and bounds the range in exact microseconds; the sum is
    micro-unit-exact (money_sum pattern) so frame-order float drift
    can't move the rounded value.
    """
    from laser_hadoop_spark.functions.scalar import micro_units

    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600 * 1_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(
            F.sum(micro_units(F.col("value"))).over(w).cast("decimal(38,6)")
            / F.lit(1_000_000),
            4,
        )
        .cast("double")
        .alias("trailing_1h_sum"),
        F.count("*").over(w).alias("trailing_1h_n"),
    )


@register(
    "q_recursive_cte",
    oracle=f"""
    WITH RECURSIVE batches(start_i, n_ind) AS (
        SELECT 1, (SELECT COUNT(*) FROM customer)
        UNION ALL
        SELECT start_i + {BATCH_SIZE_RCTE}, n_ind FROM batches
        WHERE start_i + {BATCH_SIZE_RCTE} <= n_ind
    )
    SELECT printf('%05d', CAST((start_i - 1) / {BATCH_SIZE_RCTE} AS BIGINT))
               AS batch_id,
           start_i,
           LEAST(start_i + {BATCH_SIZE_RCTE} - 1, n_ind) AS end_i
    FROM batches
    """,
)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4): the reference's batch loop as literal recursion.

    TRACEJobGenerator's driver-side while loop (TRACEJobGenerator.java:
    52-93) restated as WITH RECURSIVE — each recursion step derives the
    next batch start until the count is exhausted. Same output as
    q_ntile_batching's sequence()/explode form; this registers the
    recursive-query surface itself (iteration depth = n/batch, fine for
    descriptor generation; data-scale recursion belongs to the
    iterative operators, X12/X33).

    Depth is n/batch — DATA-proportional, so the recursion bound must
    be declared: Spark 4 defaults MAX RECURSION LEVEL to 100, which the
    round-8 sf0.1 sweep blew through live (15k customers / 100 = 150
    levels; RECURSION_LEVEL_LIMIT_EXCEEDED). 100k levels covers every
    local corpus; a depth that can exceed it is the signal to switch to
    the closed-form q_ntile_batching spelling, not to raise it again.
    """
    register_views(spark, sf_dir, names=("customer",))
    return spark.sql(
        f"""
        WITH RECURSIVE batches(start_i, n_ind) MAX RECURSION LEVEL 100000 AS (
            SELECT 1 AS start_i, (SELECT COUNT(*) FROM customer) AS n_ind
            UNION ALL
            SELECT start_i + {BATCH_SIZE_RCTE}, n_ind FROM batches
            WHERE start_i + {BATCH_SIZE_RCTE} <= n_ind
        )
        SELECT format_string('%05d', CAST((start_i - 1) / {BATCH_SIZE_RCTE} AS BIGINT))
                   AS batch_id,
               start_i,
               LEAST(start_i + {BATCH_SIZE_RCTE} - 1, n_ind) AS end_i
        FROM batches
        """
    )


@register(
    "q_max_concurrent",
    oracle="""
    WITH ev AS (
        SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS d,
               1 AS delta
        FROM orders
        UNION ALL
        SELECT o_orderpriority,
               CAST(o_orderdate AS DATE)
                   + CAST(o_orderkey % 30 + 1 AS INTEGER),
               -1
        FROM orders
    ),
    agg AS (SELECT prio, d, SUM(delta) AS delta FROM ev GROUP BY prio, d),
    run AS (
        SELECT prio, d,
               SUM(delta) OVER (
                   PARTITION BY prio ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
        FROM agg
    ),
    pk AS (SELECT prio, d, running,
                  MAX(running) OVER (PARTITION BY prio) AS peak
           FROM run)
    SELECT prio, CAST(MAX(running) AS BIGINT) AS peak_concurrent,
           MIN(d) AS peak_date
    FROM pk WHERE running = peak
    GROUP BY prio
    """,
)
def q_max_concurrent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-closure: sweep-line maximum interval overlap.

    Peak number of concurrently-open orders per priority (an order is
    open for (o_orderkey % 30 + 1) days — a deterministic synthetic
    duration), plus the earliest date the peak is reached. The classic
    sweep: every interval contributes a +1 event at its start and a -1
    at its end; per-date deltas aggregate first (ONE shuffle over the
    fact table), then a running sum walks the compressed date axis.

    Scale shape: the window partition is the per-(priority, date) delta
    table — bounded by the calendar (~2.5k dates/priority), not by the
    fact cardinality — so the only full-data operation is the per-date
    groupBy; everything after runs on a few thousand rows. All values
    are exact integers; no FP anywhere.
    """
    o = table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    dur = (F.col("o_orderkey") % 30 + 1).cast("int")
    starts = o.select(
        F.col("o_orderpriority").alias("prio"), d.alias("d"), F.lit(1).alias("delta")
    )
    ends = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.date_add(d, dur).alias("d"),
        F.lit(-1).alias("delta"),
    )
    deltas = (
        starts.unionByName(ends).groupBy("prio", "d").agg(F.sum("delta").alias("delta"))
    )
    w_run = (
        Window.partitionBy("prio").orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    )
    run = deltas.select(
        "prio", "d", F.sum("delta").over(w_run).alias("running")
    ).withColumn("peak", F.max("running").over(Window.partitionBy("prio")))
    return (
        run.where(F.col("running") == F.col("peak"))
        .groupBy("prio")
        .agg(
            F.max("running").alias("peak_concurrent"),
            F.min("d").alias("peak_date"),
        )
    )


@register(
    "q_interval_union",
    oracle="""
    WITH iv AS (
        SELECT user_id, epoch_us(ts) AS s_us,
               epoch_us(ts) + 300000000 AS e_us, event_id
        FROM events
    ),
    m AS (
        SELECT *, MAX(e_us) OVER (PARTITION BY user_id
                                  ORDER BY s_us, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS prev_e
        FROM iv
    ),
    f AS (
        SELECT *, CASE WHEN prev_e IS NULL OR s_us > prev_e
                       THEN 1 ELSE 0 END AS new_i
        FROM m
    ),
    g AS (
        SELECT *, SUM(new_i) OVER (PARTITION BY user_id
                                   ORDER BY s_us, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS island
        FROM f
    ),
    isl AS (
        SELECT user_id, island, MAX(e_us) - MIN(s_us) AS cov
        FROM g GROUP BY user_id, island
    )
    SELECT user_id, COUNT(*) AS n_islands,
           CAST(SUM(cov) AS BIGINT) AS covered_us
    FROM isl GROUP BY user_id
    """,
)
def q_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X99: interval-union coverage (sweep-line gaps-and-islands).

    Each event opens a 5-minute activity interval; per user, the total
    UNION length (overlaps collapsed) and the island count — the
    "active time" metric naive SUM(duration) double-counts. Sweep:
    running max of interval end per user (one shuffle on user_id),
    island break where a start clears it, integer epoch-microsecond
    arithmetic end to end. q_max_concurrent sweeps the same shape for
    peak overlap; this one measures coverage.
    """
    ev = table(spark, sf_dir, "events")
    s = F.unix_micros("ts")
    iv = ev.select(
        "user_id", s.alias("s_us"), (s + F.lit(300_000_000)).alias("e_us"), "event_id"
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("s_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = iv.withColumn("prev_e", F.max("e_us").over(w_prev)).withColumn(
        "new_i",
        F.when(F.col("prev_e").isNull() | (F.col("s_us") > F.col("prev_e")), 1).otherwise(0),
    )
    islanded = marked.withColumn("island", F.sum("new_i").over(w_cum))
    islands = islanded.groupBy("user_id", "island").agg(
        (F.max("e_us") - F.min("s_us")).alias("cov")
    )
    return islands.groupBy("user_id").agg(
        F.count("*").alias("n_islands"),
        F.sum("cov").cast("bigint").alias("covered_us"),
    )


@register(
    "q_key_gap_islands",
    oracle="""
    WITH keyed AS (
        SELECT o_orderkey AS k FROM orders
        WHERE o_orderkey % 97 <> 0 AND o_orderkey % 89 <> 0
    ),
    nxt AS (
        SELECT k, LEAD(k) OVER (ORDER BY k) AS next_k FROM keyed
    )
    SELECT k + 1 AS gap_start, CAST(next_k - k - 1 AS BIGINT) AS gap_len
    FROM nxt
    WHERE next_k - k > 1
    ORDER BY gap_len DESC, gap_start
    LIMIT 10
    """,
)
def q_key_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X128: largest key-domain gaps via a DISTRIBUTED lead.

    The sequence-integrity audit ("which id ranges are missing after
    deletions?") over a key domain with simulated deletions (%97, %89
    keys removed, as in X111's snapshot). The oracle spells LEAD over
    a global order; the Spark plan instead computes a two-pass global
    row number (ordered_cumsum) and finds each row's successor by an
    EQUI-JOIN on rn+1 — lead-without-a-global-window, range-parallel
    at any key-domain size. Top-10 gaps via TakeOrderedAndProject
    (deterministic (len desc, start) order).
    """
    from laser_hadoop_spark.operators.cumulative import ordered_cumsum

    o = table(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    keyed = o.where((F.col("k") % 97 != 0) & (F.col("k") % 89 != 0))
    ranked = ordered_cumsum(keyed, order_by=["k"], row_number_col="rn")
    a = ranked.alias("a")
    b = ranked.select(
        (F.col("rn") - 1).alias("rn_prev"), F.col("k").alias("next_k")
    ).alias("b")
    gaps = (
        a.join(b, F.col("a.rn") == F.col("b.rn_prev"))
        .where(F.col("next_k") - F.col("a.k") > 1)
        .select(
            (F.col("a.k") + 1).alias("gap_start"),
            (F.col("next_k") - F.col("a.k") - 1).cast("bigint").alias("gap_len"),
        )
    )
    return gaps.orderBy(F.desc("gap_len"), F.asc("gap_start")).limit(10)


def _centi(col: str) -> F.Column:
    return F.floor(F.col(col) * 100 + F.lit(0.5)).cast("bigint")


@register(
    "q_clamped_balance",
    oracle="""
    WITH RECURSIVE ev AS (
        SELECT user_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts), event_id) AS rn,
               CASE WHEN event_type IN ('purchase', 'signup')
                    THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                    ELSE -CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
               END AS delta
        FROM events
    ),
    bal AS (
        SELECT user_id, rn, GREATEST(CAST(0 AS BIGINT), delta) AS b
        FROM ev WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.rn, GREATEST(CAST(0 AS BIGINT), bal.b + e.delta)
        FROM bal JOIN ev e
          ON e.user_id = bal.user_id AND e.rn = bal.rn + 1
    )
    SELECT user_id, COUNT(*) AS n_events,
           CAST(arg_max(b, rn) AS BIGINT) AS final_centi,
           CAST(MAX(b) AS BIGINT) AS peak_centi
    FROM bal GROUP BY user_id
    """,
)
def q_clamped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X148: floor-at-zero running balance — Lindley closed form.

    A wallet that cannot go negative: b_t = max(0, b_{t-1} + d_t)
    (credits from purchase/signup value, debits from the rest). The
    recurrence LOOKS inherently sequential — the oracle spells it as
    the literal per-row recursive CTE — but the Lindley/queueing
    closed form solves it with two ordinary windows:

        b_t = cum_t - LEAST(0, MIN(cum_s) for s <= t)

    so Spark computes it as a per-user cumulative sum plus a per-user
    running minimum: one shuffle on user_id, both windows PARTITIONED
    (no global order anywhere), embarrassingly parallel across users.
    Hash equality against the recursion proves the closed form — the
    X118/X128 discipline of verifying the scalable spelling against
    the definitional one.
    """
    e = table(spark, sf_dir, "events")
    delta = (
        F.when(
            F.col("event_type").isin("purchase", "signup"), _centi("value")
        ).otherwise(-_centi("value"))
    ).alias("delta")
    ev = e.select("user_id", "ts", "event_id", delta)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    rn_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = F.sum("delta").over(w)
    stepped = ev.select(
        "user_id",
        F.row_number().over(rn_w).alias("rn"),
        (cum - F.least(F.lit(0).cast("bigint"), F.min(cum).over(w))).alias("b"),
    )
    return stepped.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.max_by("b", "rn").cast("bigint").alias("final_centi"),
        F.max("b").cast("bigint").alias("peak_centi"),
    )
