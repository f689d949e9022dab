"""Event-time and change-data queries (SURVEY.md §2.9) run in batch mode.

The reference has no streaming (single-shot batch MR jobs,
LASERInputValidator.java:129); these are the [C] closure operators. The
same expressions run incrementally under Structured Streaming — see
laser_hadoop_spark/streaming/ (watermarks, stateful dedup, stream-static
joins) which is pytest-verified; here the identical logic is
oracle-checked over the batch `events` table: windows, sessionization,
watermark and double-fire audits, CDC latest state, SCD2 intervals and
as-of snapshot diffs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from laser_hadoop_spark.functions.scalar import money_sum
from laser_hadoop_spark.registry import register
from laser_hadoop_spark.tables import table


@register(
    "q_tumbling_window_agg",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 4) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1: tumbling 1-hour event-time window aggregate.

    Spark's window() is epoch-aligned, so 1-hour tumbling window starts
    equal date_trunc('hour') exactly.
    """
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            money_sum(F.col("value"), scale=2).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "q_sliding_window_agg",
    oracle="""
    SELECT ws AS window_start, COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 4) AS DOUBLE) AS sum_value
    FROM (
        SELECT value,
               UNNEST(generate_series(
                   time_bucket(INTERVAL '15 minutes', ts) - INTERVAL '45 minutes',
                   time_bucket(INTERVAL '15 minutes', ts),
                   INTERVAL '15 minutes')) AS ws
        FROM events
    )
    GROUP BY ws
    """,
)
def q_sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2: sliding window (1 hour every 15 minutes).

    Each event lands in exactly 4 overlapping windows; the oracle
    reproduces the window fan-out with generate_series.
    """
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            money_sum(F.col("value"), scale=2).alias("sum_value"),
        )
        .select(F.col("window.start").alias("window_start"), "n_events", "sum_value")
    )


@register(
    "q_session_window",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
    ), sess AS (
        SELECT user_id, ts, value,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sess_id
        FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start,
           COUNT(*) AS n_events, CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 4) AS DOUBLE) AS sum_value
    FROM sess
    GROUP BY user_id, sess_id
    """,
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3: session windows with a 30-minute inactivity gap.

    Spark merges events into a session while each new event arrives
    strictly before previous_ts + gap; the oracle reconstructs the same
    sessions with a lag/cumulative-sum session-id assignment.
    """
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            money_sum(F.col("value"), scale=2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


SESSION_GAP_US = 1_800 * 1_000_000  # 30 min session timeout, microseconds


@register(
    "q_sessionize_batch",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, value, event_id, epoch_us(ts) AS ts_us,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id)
                        > {SESSION_GAP_US}
                    OR LAG(ts) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ),
    sess AS (
        SELECT user_id, value, ts_us,
               CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT)
                   AS session_id
        FROM flagged
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 4) AS DOUBLE) AS sum_value
    FROM sess
    GROUP BY user_id, session_id
    """,
)
def q_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: gap>30min starts a new session (lag + running sum).

    The classic two-window composition — both windows share one
    partitioning (user_id) and one sort, so Catalyst plans a single
    exchange + single sort for the whole query; the per-session
    aggregate then reuses the same hash partitioning. Complements
    q_session_window (ST3's session_window operator) with the portable
    SQL formulation.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros("ts")
    is_new = F.when(
        F.lag("ts").over(w).isNull()
        | ((ts_us - F.lag(ts_us).over(w)) > SESSION_GAP_US),
        1,
    ).otherwise(0)
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = e.select(
        "user_id",
        "value",
        ts_us.alias("ts_us"),
        F.sum(is_new).over(wrun).alias("session_id"),
    )
    return flagged.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
        money_sum(F.col("value"), scale=2).alias("sum_value"),
    )


@register(
    "q_scd2_intervals",
    oracle="""
    SELECT user_id, event_id,
           epoch_us(ts) AS valid_from_us,
           epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
               AS valid_to_us,
           ROUND(value, 4) AS value
    FROM events
    WHERE event_type = 'signup'
    """,
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 / temporal-table construction: event log -> validity intervals.

    Each per-user state change becomes [valid_from, valid_to) with the
    open current interval as NULL — the slowly-changing-dimension
    build, one lead() over one user_id exchange. Downstream as-of joins
    (X3) or range joins (J7) consume these intervals directly.
    """
    e = table(spark, sf_dir, "events").where(F.col("event_type") == "signup")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("valid_from_us"),
        F.unix_micros(F.lead("ts").over(w)).alias("valid_to_us"),
        F.round("value", 4).alias("value"),
    )


@register(
    "q_latest_state",
    oracle="""
    WITH r AS (
        SELECT user_id, event_type, value, epoch_us(ts) AS t_us, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts) DESC, event_id DESC)
                   AS rn
        FROM events
    )
    SELECT user_id, event_type AS last_type,
           CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS last_value_centi,
           CAST(t_us AS BIGINT) AS last_t_us
    FROM r WHERE rn = 1
    """,
)
def q_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X106: CDC latest-state compaction.

    The change-data-capture primitive: collapse an append-only change
    log to the newest row per key (row_number = 1 in reverse event-time
    order with the unique event_id tiebreak). This is the batch form of
    the streaming upsert sink's merge (ST9/X30) and the compaction any
    100 TB log table needs before serving point lookups. One shuffle on
    the key; AQE handles the skewed-key case.
    """
    ev = table(spark, sf_dir, "events")
    t_us = F.unix_micros("ts")
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy(t_us.desc(), F.col("event_id").desc())
    )
    return (
        ev.select(
            "user_id",
            F.col("event_type").alias("last_type"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias(
                "last_value_centi"
            ),
            t_us.cast("bigint").alias("last_t_us"),
            rn.alias("rn"),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )


# --- X231: watermark-delay audit -------------------------------------------


@register(
    "q_watermark_audit",
    oracle="""
    WITH timed AS (
        SELECT user_id, event_id, epoch_us(ts) AS em,
               epoch_us(ts)
               + ('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 10))::BIGINT
                 % 43200000000 AS arrival_us
        FROM events
    ),
    arr AS (
        SELECT user_id, event_id, em,
               MAX(em) OVER (
                   PARTITION BY user_id ORDER BY arrival_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        FROM timed
    ),
    lateness AS (
        SELECT CASE WHEN prev_max IS NULL OR prev_max <= em THEN 0
                    ELSE (prev_max - em) // 1000000 END AS delay_s
        FROM arr
    )
    SELECT CAST(CASE WHEN delay_s = 0 THEN 0
                     ELSE length(bin(delay_s)) END AS INT) AS delay_bucket,
           COUNT(*) AS n_events,
           CAST(MAX(delay_s) AS BIGINT) AS max_delay_s
    FROM lateness GROUP BY 1
    """,
)
def q_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X231: watermark-delay (event-time disorder) audit.

    The measurement that SIZES a streaming watermark instead of
    guessing: within each user's ARRIVAL order, an event is late by
    (running max of prior event times - its own event time). Arrival =
    event time + a deterministic md5-derived transport delay of 0-12 h
    (the synthetic corpus is perfectly ordered, so the disorder under
    audit is injected reproducibly — both engines derive the identical
    arrival sequence). Lateness in whole seconds, log2-bucketed
    (bucket 0 = in order; bucket b covers [2^(b-1), 2^b) seconds), with
    the max per bucket — read the top occupied bucket off this table
    and you have the withWatermark() delay that loses nothing (ST4's
    parameter, measured). Epoch-micros arithmetic, TZ-proof.

    100 TB: one shuffle on user_id for the running-max window; the
    histogram is a map-side-combining aggregate to <= 40 rows.
    """
    e = table(spark, sf_dir, "events")
    em = F.unix_micros("ts")
    arrival = em + F.expr(
        "CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 10), 16, 10) "
        "AS BIGINT) % 43200000000"
    )
    timed = e.select(
        "user_id", "event_id", em.alias("em"), arrival.alias("arrival_us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("arrival_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    arr = timed.select(
        "em",
        F.max("em").over(w).alias("prev_max"),
    )
    delay = F.when(
        F.col("prev_max").isNull() | (F.col("prev_max") <= F.col("em")), 0
    ).otherwise(F.expr("(prev_max - em) DIV 1000000"))
    lateness = arr.select(delay.alias("delay_s"))
    bucket = F.when(F.col("delay_s") == 0, 0).otherwise(
        F.length(F.bin(F.col("delay_s")))
    )
    return lateness.groupBy(bucket.cast("int").alias("delay_bucket")).agg(
        F.count("*").alias("n_events"),
        F.max("delay_s").cast("bigint").alias("max_delay_s"),
    )


# --- X232: as-of snapshot diff ---------------------------------------------

_SNAP_T1 = "1997-12-31"


_SNAP_T2 = "1999-12-31"


_DAY_PACK = 10_000_000_000


def _snapshot_sql(t: str) -> str:
    return f"""
        SELECT o_custkey AS ck,
               MAX((date_diff('day', DATE '1995-01-01',
                              CAST(o_orderdate AS DATE)) * {_DAY_PACK}
                    + o_orderkey) * 10
                   + CAST(substring(o_orderpriority, 1, 1) AS BIGINT))
                   % 10 AS prio
        FROM orders
        WHERE CAST(o_orderdate AS DATE) <= DATE '{t}'
        GROUP BY 1"""


@register(
    "q_snapshot_asof_diff",
    oracle=f"""
    WITH s1 AS ({_snapshot_sql(_SNAP_T1)}),
    s2 AS ({_snapshot_sql(_SNAP_T2)}),
    joined AS (
        SELECT s2.ck, s1.prio AS p1, s2.prio AS p2
        FROM s2 LEFT JOIN s1 ON s1.ck = s2.ck
    )
    SELECT CASE WHEN p1 IS NULL THEN 'added'
                WHEN p1 = p2 THEN 'unchanged'
                ELSE 'changed' END AS change_kind,
           COUNT(*) AS n_customers,
           CAST(MIN(ck) AS BIGINT) AS example_custkey
    FROM joined GROUP BY 1
    """,
)
def q_snapshot_asof_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X232: as-of snapshot reconstruction at two times + diff census.

    The bitemporal audit completing X74 (PIT join) and X39 (SCD2
    build): each customer's state = priority digit of their LATEST
    order as of T (latest by orderdate, ties to highest orderkey —
    ONE packed-integer MAX per snapshot, no window, no join-back:
    (days*1e10 + orderkey)*10 + prio, state = packed % 10).
    Reconstructs the T1 and T2 snapshots and classifies every
    T2 customer as added / changed / unchanged — the sanity check a
    CDC pipeline (X106) runs against its own compaction.

    100 TB: two filtered aggregates on the same key (one shuffle each,
    pushdown-pruned by the date predicate), one key equi-join of the
    per-customer states, 3-row census.
    """
    o = table(spark, sf_dir, "orders")

    def snapshot(t: str) -> DataFrame:
        packed = F.expr(
            f"(datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01') "
            f"* {_DAY_PACK} + o_orderkey) * 10 "
            f"+ CAST(substring(o_orderpriority, 1, 1) AS BIGINT)"
        )
        return (
            o.where(F.col("o_orderdate").cast("date") <= F.lit(t))
            .groupBy(F.col("o_custkey").alias("ck"))
            .agg((F.max(packed) % 10).alias("prio"))
        )

    s1 = snapshot(_SNAP_T1).withColumnRenamed("prio", "p1")
    s2 = snapshot(_SNAP_T2).withColumnRenamed("prio", "p2")
    joined = s2.join(s1, "ck", "left")
    kind = (
        F.when(F.col("p1").isNull(), "added")
        .when(F.col("p1") == F.col("p2"), "unchanged")
        .otherwise("changed")
    )
    return joined.groupBy(kind.alias("change_kind")).agg(
        F.count("*").alias("n_customers"),
        F.min("ck").cast("bigint").alias("example_custkey"),
    )


# --- X266: time-tolerance event dedup ---------------------------------------

_DOUBLE_FIRE_US = 1_000_000  # 1 second


@register(
    "q_double_fire_census",
    oracle=f"""
    WITH ev AS (
        SELECT event_id, user_id, event_type, epoch_us(ts) AS em
        FROM events
    ),
    bucketed AS (
        SELECT *, em // {_DOUBLE_FIRE_US} AS bkt FROM ev
    ),
    cand AS (
        SELECT a.user_id, a.event_type,
               a.event_id AS id_a, b.event_id AS id_b
        FROM bucketed a JOIN bucketed b
          ON b.user_id = a.user_id AND b.event_type = a.event_type
         AND b.bkt BETWEEN a.bkt - 1 AND a.bkt + 1
         AND b.event_id > a.event_id
         AND ABS(b.em - a.em) <= {_DOUBLE_FIRE_US}
    ),
    dupes AS (SELECT DISTINCT id_b FROM cand)
    SELECT ev.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN d.id_b IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_double_fired,
           CAST(10000 * SUM(CASE WHEN d.id_b IS NOT NULL THEN 1 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS double_fire_bp
    FROM ev LEFT JOIN dupes d ON d.id_b = ev.event_id
    GROUP BY ev.event_type
    """,
)
def q_double_fire_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X266: double-fired event census (time-tolerance dedup).

    At-least-once delivery and client retries produce events that are
    identical except for id and a sub-second timestamp wobble. A pair
    is a double-fire when same (user, type) and |t_a - t_b| <= 1 s;
    the LATER event_id is the duplicate (keep-first). Candidates come
    from the +-1 second-bucket band join (X104's band idiom): two
    events within 1 s are always within one bucket of each other, so
    the blocking is lossless and nothing quadratic forms outside a
    user's same-second burst. The census per type feeds the ingest
    dashboard; the keep-set is the same relation anti-joined.

    100 TB shape: one (user, type, bucket) equi-join — co-partitioned
    both sides; the dupes relation carries only ids.
    """
    e = table(spark, sf_dir, "events")
    ev = e.select(
        "event_id",
        "user_id",
        "event_type",
        F.expr("unix_micros(ts)").alias("em"),
    )
    bucketed = ev.withColumn(
        "bkt", F.expr(f"em DIV {_DOUBLE_FIRE_US}")
    )
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    cand = a.join(
        b,
        (F.col("b.user_id") == F.col("a.user_id"))
        & (F.col("b.event_type") == F.col("a.event_type"))
        & F.col("b.bkt").between(F.col("a.bkt") - 1, F.col("a.bkt") + 1)
        & (F.col("b.event_id") > F.col("a.event_id"))
        & (
            F.abs(F.col("b.em") - F.col("a.em")) <= _DOUBLE_FIRE_US
        ),
    ).select(F.col("b.event_id").alias("id_b"))
    dupes = cand.distinct()
    return (
        ev.join(dupes, ev.event_id == dupes.id_b, "left")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(
                F.when(F.col("id_b").isNotNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_double_fired"),
            F.expr(
                "CAST(10000 * SUM(CASE WHEN id_b IS NOT NULL THEN 1"
                " ELSE 0 END) DIV COUNT(*) AS BIGINT)"
            ).alias("double_fire_bp"),
        )
    )


# --- X272: capped sessionization --------------------------------------------

_SESS_GAP_US = 12 * 3600 * 1_000_000  # 12-hour inactivity gap


_SESS_CAP_US = 24 * 3600 * 1_000_000  # 24-hour max session duration


@register(
    "q_capped_sessions",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_id, epoch_us(ts) AS em FROM events
    ),
    gapped AS (
        SELECT user_id, event_id, em,
               CASE WHEN em - LAG(em) OVER w > {_SESS_GAP_US}
                         OR LAG(em) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_gap
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY em, event_id)
    ),
    gsess AS (
        SELECT user_id, event_id, em,
               SUM(new_gap) OVER (PARTITION BY user_id ORDER BY em, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS gs
        FROM gapped
    ),
    capped AS (
        SELECT user_id, gs,
               (em - MIN(em) OVER (PARTITION BY user_id, gs))
                   // {_SESS_CAP_US} AS cap_part
        FROM gsess
    ),
    sessions AS (
        SELECT user_id, gs, cap_part, COUNT(*) AS n_events
        FROM capped GROUP BY user_id, gs, cap_part
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN cap_part > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cap_split,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(SUM(n_events) // COUNT(*) AS BIGINT)
               AS events_per_session
    FROM sessions
    """,
)
def q_capped_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X272: dual-condition (gap + max-duration) sessionization.

    Production session rules (GA-style) close a session on EITHER an
    inactivity gap OR a max total duration — X22's gap-only form
    never closes a slow-drip session. Cutoffs here are 12 h/24 h to
    match the corpus's ~2 events/user/day cadence (the operator is
    unit-agnostic; web analytics uses 30 min/2 h). Exact without
    iteration: gap-sessions form from the lag/cumsum idiom, then the
    duration cap splits each by (elapsed-since-session-start DIV
    cap) — a closed-form second key, no loop. Census: sessions,
    cap-split count (sessions that ONLY the duration rule closed),
    events per session.

    100 TB shape: one user shuffle serves the lag window, the
    cumulative, and the per-session min — the standard
    sessionization plan with one extra codegen column.
    """
    e = table(spark, sf_dir, "events")
    ev = e.select(
        "user_id", "event_id", F.expr("unix_micros(ts)").alias("em")
    )
    w = Window.partitionBy("user_id").orderBy("em", "event_id")
    gapped = ev.select(
        "user_id",
        "event_id",
        "em",
        F.when(
            (F.col("em") - F.lag("em").over(w) > _SESS_GAP_US)
            | F.lag("em").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_gap"),
    )
    gsess = gapped.select(
        "user_id",
        "event_id",
        "em",
        F.sum("new_gap")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("gs"),
    )
    capped = gsess.select(
        "user_id",
        "gs",
        F.expr(
            f"(em - MIN(em) OVER (PARTITION BY user_id, gs))"
            f" DIV {_SESS_CAP_US}"
        ).alias("cap_part"),
    )
    sessions = capped.groupBy("user_id", "gs", "cap_part").agg(
        F.count("*").alias("n_events")
    )
    return sessions.agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.sum(F.when(F.col("cap_part") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_cap_split"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.expr(
            "CAST(SUM(n_events) DIV COUNT(*) AS BIGINT)"
        ).alias("events_per_session"),
    )
