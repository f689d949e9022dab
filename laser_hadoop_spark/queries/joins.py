"""Join queries (SURVEY.md §2.3): broadcast, semi/anti, outer, range, as-of.

The reference's single join is a map-side broadcast hash join of study
loci against the reference-panel site map, keyed (CHR,POS) with a
case-insensitive allele residual (LASERInputCheckMapper.java:53-72,
239-251); its membership checks are semi/anti joins
(LASERInputCheckMapper.java:138-144). Each generalizes here, plus
lateral top-k, null-safe equality, nearest-event and point-in-time
joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from laser_hadoop_spark.functions.scalar import money_sum, revenue_expr
from laser_hadoop_spark.registry import register
from laser_hadoop_spark.tables import register_views, table


@register(
    "q_broadcast_inner_join",
    oracle="""
    SELECT p_brand,
           COUNT(*) AS total_sites,
           CAST(SUM(CASE WHEN lower(p_type) LIKE '%steel%' THEN 1 ELSE 0 END)
                AS BIGINT) AS shared_sites,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,6))), 4) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def q_broadcast_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+A2+P5 (flagship): broadcast inner join + conditional counts.

    The reference ships the panel site table to every task via
    DistributedCache and probes a HashMap per study locus, counting
    total vs shared sites (LASERInputValidator.java:114;
    LASERInputCheckMapper.java:239-251). Spark form: explicit
    broadcast() hint -> BroadcastHashJoin, with the case-folded residual
    predicate as a conditional count, all in one scan.
    """
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "inner")
    return joined.groupBy("p_brand").agg(
        F.count("*").alias("total_sites"),
        F.sum(
            F.when(F.lower(F.col("p_type")).like("%steel%"), 1).otherwise(0)
        ).alias("shared_sites"),
        money_sum(revenue_expr()).alias("revenue"),
    )


@register(
    "q_semi_join",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
    """,
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: left-semi membership join.

    Reference: every sample must appear in the groups map —
    groups.containsKey(sample) (LASERInputCheckMapper.java:138-144).
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "q_anti_join",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey NOT IN
          (SELECT o_custkey FROM orders WHERE o_totalprice > 150000)
    """,
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: left-anti violation detection.

    Reference failure branch: samples NOT in the groups map raise
    SEQ_SAMPLE_NOT_IN_GROUP (LASERInputCheckMapper.java:139-143).
    The filter on the right side guarantees genuine violations exist.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 150000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "q_scalar_consistency",
    oracle="""
    SELECT a.n_li_orders, b.n_orders,
           a.n_li_orders = b.n_orders AS is_consistent
    FROM (SELECT COUNT(DISTINCT l_orderkey) AS n_li_orders FROM lineitem) a
    CROSS JOIN (SELECT COUNT(*) AS n_orders FROM orders) b
    """,
)
def q_scalar_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: cross-input scalar consistency check.

    Reference: site-file row count must equal the seq-file locus arity
    (LASERInputCheckMapper.java:254-258) — two datasets agreeing on one
    scalar, expressed as a cross join of two 1-row aggregates. Always
    emits the 1-row verdict so the gate value itself is oracle-checked.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    a = li.agg(F.countDistinct("l_orderkey").alias("n_li_orders"))
    b = o.agg(F.count("*").alias("n_orders"))
    return a.crossJoin(b).select(
        "n_li_orders",
        "n_orders",
        (F.col("n_li_orders") == F.col("n_orders")).alias("is_consistent"),
    )


@register(
    "q_large_join_multikey",
    oracle="""
    SELECT n_name, o_orderpriority,
           COUNT(*) AS n_lineitems,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,6))), 4) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
    GROUP BY n_name, o_orderpriority
    """,
)
def q_large_join_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: large-large join chain (fact-fact-dim-dim).

    lineitem x orders is the can't-broadcast pair — Catalyst plans a
    shuffle join (AQE may pick SHJ); customer/nation stay broadcast.
    At 100 TB both facts would be bucketed on orderkey to make this
    shuffle-free; see operators/relational.py.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "o_orderpriority")
        .agg(
            F.count("*").alias("n_lineitems"),
            money_sum(revenue_expr()).alias("revenue"),
        )
    )


@register(
    "q_bucketed_fact_join",
    oracle="""
    SELECT n_name, o_orderpriority,
           COUNT(*) AS n_lineitems,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,6))), 4) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
    GROUP BY n_name, o_orderpriority
    """,
)
def q_bucketed_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5/J5 at 100 TB: the SAME fact-fact join as q_large_join_multikey,
    through the pre-registered bucketed warehouse.

    lineitem and orders are bucketed once by orderkey
    (warehouse.ensure_bucketed_facts — idempotent); the recurring join
    then reads co-located bucket files from both sides with NO exchange
    on the join keys — the only shuffle left is the final aggregate.
    Results must be value-identical to the shuffle-join form (shared
    oracle); the no-join-shuffle property is plan-audited.
    """
    from laser_hadoop_spark.warehouse import ensure_bucketed_facts

    names = ensure_bucketed_facts(spark, sf_dir)
    li = spark.table(names["lineitem"])
    o = spark.table(names["orders"]).where(F.col("o_orderstatus") == "F")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "o_orderpriority")
        .agg(
            F.count("*").alias("n_lineitems"),
            money_sum(revenue_expr()).alias("revenue"),
        )
    )


@register(
    "q_outer_join",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           COUNT(o_orderkey) AS n_orders,
           CAST(ROUND(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0), 4)
                AS DOUBLE) AS total_spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_mktsegment
    """,
)
def q_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: left outer join preserving unmatched build rows (count=0)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(
                F.coalesce(
                    F.sum(F.col("o_totalprice").cast("decimal(18,2)")),
                    F.lit(0).cast("decimal(18,2)"),
                ),
                4,
            ).cast("double").alias("total_spend"),
        )
    )


# Static quantity buckets shared by the Spark plan and the oracle.
_QTY_BUCKETS = [(0, 10), (10, 20), (20, 30), (30, 40), (40, 50)]
_QTY_BUCKETS_SQL = ", ".join(f"({lo}, {hi})" for lo, hi in _QTY_BUCKETS)


@register(
    "q_range_join",
    oracle=f"""
    SELECT b.lo AS bucket_lo, b.hi AS bucket_hi,
           COUNT(*) AS n_rows,
           CAST(ROUND(SUM(CAST(l.l_quantity AS DECIMAL(18,2))), 4) AS DOUBLE)
               AS sum_qty
    FROM lineitem l
    JOIN (VALUES {_QTY_BUCKETS_SQL}) AS b(lo, hi)
      ON l.l_quantity > b.lo AND l.l_quantity <= b.hi
    GROUP BY b.lo, b.hi
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: range/interval join against a small bucket dimension.

    Reference analogue: assigning an individual to its [start,end] batch
    range (TRACEJobGenerator.java:58-93). The non-equi condition forces
    BroadcastNestedLoopJoin with the bucket side broadcast — the right
    plan when one side is tiny; at scale, prefer a computed bucket key
    (width_bucket-style) to make it an equi-join.
    """
    li = table(spark, sf_dir, "lineitem")
    buckets = spark.createDataFrame(_QTY_BUCKETS, "lo INT, hi INT")
    cond = (li.l_quantity > buckets.lo) & (li.l_quantity <= buckets.hi)
    return (
        li.join(F.broadcast(buckets), cond, "inner")
        .groupBy(buckets.lo.alias("bucket_lo"), buckets.hi.alias("bucket_hi"))
        .agg(
            F.count("*").alias("n_rows"),
            money_sum(F.col("l_quantity"), scale=2).alias("sum_qty"),
        )
    )


@register(
    "q_asof_join",
    oracle="""
    SELECT e.event_id, e.user_id, p.ts AS asof_ts,
           ROUND(p.value, 4) AS asof_value
    FROM (SELECT * FROM events WHERE event_type = 'click') e
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: as-of (nearest-earlier) join, click -> latest prior purchase.

    Delegates to operators.asof.asof_join — the union-and-carry
    composition: one shuffle (by user_id), one ordered window pass, no
    per-row point lookups. This is the scalable form (vs per-row
    subqueries) of the ASOF JOIN the DuckDB oracle runs natively.
    """
    from laser_hadoop_spark.operators.asof import asof_join

    e = table(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return asof_join(clicks, purchases, on=["user_id"]).select(
        "event_id",
        "user_id",
        "asof_ts",
        F.round("asof_value", 4).alias("asof_value"),
    )



@register(
    "q_salted_join",
    oracle="""
    SELECT n_name, COUNT(*) AS n_customers,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 4) AS DOUBLE)
               AS sum_acctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: salted skew join — must be value-identical to the plain join.

    The fact side scatters each row across 16 deterministic sub-keys and
    the dim side replicates 16x, so one hot nation key spreads over 16
    shuffle partitions instead of one straggler task (the hand-rolled
    fallback for shuffle-hash joins, where AQE's skew splitting doesn't
    apply). The oracle is the UNSALTED join: salting must not change
    results, only the shuffle layout.
    """
    from laser_hadoop_spark.functions.scalar import money_sum
    from laser_hadoop_spark.operators.relational import salted_join

    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    joined = salted_join(
        c, n.withColumnRenamed("n_nationkey", "c_nationkey"), on=["c_nationkey"],
        n_salts=16,
    )
    return joined.groupBy("n_name").agg(
        F.count("*").alias("n_customers"),
        money_sum(F.col("c_acctbal"), scale=2).alias("sum_acctbal"),
    )


@register(
    "q_bloom_semi_join",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n_items,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 4) AS DOUBLE)
               AS sum_price
    FROM lineitem
    WHERE l_orderkey IN (
        SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    GROUP BY l_returnflag
    """,
)
def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-closure: Bloom-filter pruned semi-join (operators/bloom.py).

    Semantically a plain left-semi join of lineitem onto urgent orders
    (the oracle IS the plain semi-join); physically the fact side is
    pre-filtered by a broadcast single-row Bloom bitmap built from the
    dim keys in one aggregation, so only bitmap survivors enter the
    join exchange. At 100 TB the exchange carries ~selectivity x |fact|
    rows instead of all of them; the bitmap is a dense array<bigint>
    (n_bits/64 words — dense so each probe is one O(1) array index),
    deterministic (fixed xxhash64 seeds), and the residual exact
    semi-join removes false positives, keeping the result
    value-identical to the un-pruned join. The bitmap is AUTO-SIZED
    (n_bits=None): an approx_count_distinct of the urgent keys picks
    n_bits/n_hashes for a 1% false-positive target, so the same call
    is right at sf0.001 and at 100 TB.
    """
    from laser_hadoop_spark.functions.scalar import money_sum
    from laser_hadoop_spark.operators.bloom import bloom_semi_join

    li = table(spark, sf_dir, "lineitem")
    urgent = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    kept = bloom_semi_join(li, urgent, "l_orderkey", "o_orderkey",
                           n_bits=None)
    return kept.groupBy("l_returnflag").agg(
        F.count("*").alias("n_items"),
        money_sum(F.col("l_extendedprice"), scale=2).alias("sum_price"),
    )


@register(
    "q_lateral_topk",
    oracle="""
    SELECT n_name, s.s_suppkey, ROUND(s.s_acctbal, 4) AS acctbal
    FROM nation, LATERAL (
        SELECT s_suppkey, s_acctbal FROM supplier
        WHERE s_nationkey = n_nationkey
        ORDER BY s_acctbal DESC, s_suppkey
        LIMIT 2
    ) s
    """,
)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery: top-2 suppliers per nation.

    The per-row-subquery formulation of W3's rank+filter; Catalyst
    decorrelates the LATERAL into a window + filter over one join, so
    the declarative "for each nation..." spelling costs the same as the
    hand-written window. Ties broken by unique s_suppkey.
    """
    register_views(spark, sf_dir, names=("nation", "supplier"))
    return spark.sql(
        """
        SELECT n_name, s.s_suppkey, ROUND(s.s_acctbal, 4) AS acctbal
        FROM nation, LATERAL (
            SELECT s_suppkey, s_acctbal FROM supplier
            WHERE s_nationkey = n_nationkey
            ORDER BY s_acctbal DESC, s_suppkey
            LIMIT 2
        ) s
        """
    )


@register(
    "q_point_in_time_join",
    oracle="""
    WITH dim AS (
        SELECT user_id,
               epoch_us(ts) AS valid_from_us,
               COALESCE(epoch_us(LEAD(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)),
                   9223372036854775807) AS valid_to_us,
               CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS state_micro
        FROM events WHERE event_type = 'signup'
    ),
    fact AS (
        SELECT user_id, event_id, epoch_us(ts) AS t_us,
               CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS purchase_micro
        FROM events WHERE event_type = 'purchase'
    )
    SELECT f.user_id, f.event_id, f.purchase_micro,
           d.valid_from_us AS state_from_us, d.state_micro
    FROM fact f
    JOIN dim d
      ON d.user_id = f.user_id
     AND f.t_us >= d.valid_from_us
     AND f.t_us < d.valid_to_us
    """,
)
def q_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data closure: point-in-time (PIT) join against SCD2.

    Each purchase event joins the signup-state interval that was valid
    AT ITS EVENT TIME — the feature-store join that makes training data
    leakage-free (a plain latest-value join would leak future state
    into past examples; this is the feature-lookup rule the as-of join
    X3 approximates, stated on explicit [from, to) intervals from the
    X39 SCD2 build). Inner join: purchases before the user's first
    signup have no valid state and drop out.

    Plan shape: both sides partition on user_id; the interval predicate
    rides inside the equi-join condition, so the only shuffles are the
    two user_id exchanges plus the dimension window — no range-join
    blowup because the equi-key (user) bounds each comparison set.
    """
    e = table(spark, sf_dir, "events")
    from laser_hadoop_spark.functions.scalar import micro_units

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        e.where(F.col("event_type") == "signup")
        .select(
            "user_id",
            F.unix_micros("ts").alias("valid_from_us"),
            F.lead(F.unix_micros("ts")).over(w).alias("valid_to_raw"),
            micro_units(F.col("value")).alias("state_micro"),
        )
        .select(
            "user_id",
            "valid_from_us",
            F.coalesce("valid_to_raw", F.lit(2**63 - 1)).alias("valid_to_us"),
            "state_micro",
        )
    )
    fact = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("t_us"),
        micro_units(F.col("value")).alias("purchase_micro"),
    )
    return (
        fact.alias("f")
        .join(
            dim.alias("d"),
            (F.col("f.user_id") == F.col("d.user_id"))
            & (F.col("f.t_us") >= F.col("d.valid_from_us"))
            & (F.col("f.t_us") < F.col("d.valid_to_us")),
        )
        .select(
            F.col("f.user_id").alias("user_id"),
            "event_id",
            "purchase_micro",
            F.col("d.valid_from_us").alias("state_from_us"),
            "state_micro",
        )
    )


@register(
    "q_nearest_event",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type, event_id, epoch_us(ts) AS t_us
        FROM events WHERE event_type IN ('error', 'purchase')
    ),
    m AS (
        SELECT *,
               LAST_VALUE(CASE WHEN event_type = 'purchase' THEN t_us END
                          IGNORE NULLS) OVER wp AS prev_t,
               LAST_VALUE(CASE WHEN event_type = 'purchase' THEN event_id END
                          IGNORE NULLS) OVER wp AS prev_id,
               FIRST_VALUE(CASE WHEN event_type = 'purchase' THEN t_us END
                           IGNORE NULLS) OVER wn AS next_t,
               FIRST_VALUE(CASE WHEN event_type = 'purchase' THEN event_id END
                           IGNORE NULLS) OVER wn AS next_id
        FROM e
        WINDOW wp AS (PARTITION BY user_id ORDER BY t_us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               wn AS (PARTITION BY user_id ORDER BY t_us, event_id
                      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id AS error_id, user_id,
           CASE WHEN next_t IS NULL THEN prev_id
                WHEN prev_t IS NULL THEN next_id
                WHEN t_us - prev_t <= next_t - t_us THEN prev_id
                ELSE next_id END AS nearest_purchase_id,
           CAST(CASE WHEN next_t IS NULL THEN t_us - prev_t
                WHEN prev_t IS NULL THEN next_t - t_us
                WHEN t_us - prev_t <= next_t - t_us THEN t_us - prev_t
                ELSE next_t - t_us END AS BIGINT) AS delta_us
    FROM m
    WHERE event_type = 'error' AND (prev_t IS NOT NULL OR next_t IS NOT NULL)
    """,
)
def q_nearest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X104: bidirectional nearest-event join.

    For every error, the temporally NEAREST purchase by the same user —
    either direction, ties to the earlier one. The as-of join (J8)
    looks only backward; root-cause triage wants the closest context
    event on either side. One shuffle on user_id: two frame-bounded
    conditional window lookups (last purchase before / first after)
    replace what would naively be two range joins plus an argmin.
    """
    ev = table(spark, sf_dir, "events")
    e = ev.where(F.col("event_type").isin("error", "purchase")).select(
        "user_id", "event_type", "event_id", F.unix_micros("ts").alias("t_us")
    )
    base = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    wp = base.rowsBetween(Window.unboundedPreceding, -1)
    wn = base.rowsBetween(1, Window.unboundedFollowing)
    is_p = F.col("event_type") == "purchase"
    m = e.select(
        "*",
        F.last(F.when(is_p, F.col("t_us")), ignorenulls=True).over(wp).alias("prev_t"),
        F.last(F.when(is_p, F.col("event_id")), ignorenulls=True).over(wp).alias("prev_id"),
        F.first(F.when(is_p, F.col("t_us")), ignorenulls=True).over(wn).alias("next_t"),
        F.first(F.when(is_p, F.col("event_id")), ignorenulls=True).over(wn).alias("next_id"),
    )
    d_prev = F.col("t_us") - F.col("prev_t")
    d_next = F.col("next_t") - F.col("t_us")
    pick_prev = F.col("next_t").isNull() | (
        F.col("prev_t").isNotNull() & (d_prev <= d_next)
    )
    return (
        m.where(
            (F.col("event_type") == "error")
            & (F.col("prev_t").isNotNull() | F.col("next_t").isNotNull())
        )
        .select(
            F.col("event_id").alias("error_id"),
            "user_id",
            F.when(pick_prev, F.col("prev_id")).otherwise(F.col("next_id")).alias(
                "nearest_purchase_id"
            ),
            F.when(pick_prev, d_prev).otherwise(d_next).cast("bigint").alias("delta_us"),
        )
    )


@register(
    "q_null_safe_join",
    oracle="""
    WITH keyed AS (
        SELECT c_custkey,
               CASE WHEN c_acctbal < 0 THEN NULL
                    ELSE c_nationkey END AS k
        FROM customer
    ),
    dim AS (
        SELECT n_nationkey AS k, n_name FROM nation
        UNION ALL SELECT NULL, 'UNATTRIBUTED'
    ),
    ns AS (
        SELECT c.c_custkey, d.n_name
        FROM keyed c JOIN dim d ON c.k IS NOT DISTINCT FROM d.k
    ),
    eq AS (
        SELECT c.c_custkey FROM keyed c JOIN dim d ON c.k = d.k
    )
    SELECT (SELECT COUNT(*) FROM keyed WHERE k IS NULL) AS n_null_keys,
           (SELECT COUNT(*) FROM ns) AS nullsafe_matches,
           (SELECT COUNT(*) FROM eq) AS equality_matches,
           (SELECT COUNT(*) FROM ns WHERE n_name = 'UNATTRIBUTED')
               AS null_to_null_matches
    """,
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X179: null-safe equality join semantics (<=> vs =).

    The SQL null-handling family beyond q_null_semantics' aggregates:
    a nullable join key (negative-balance customers get NULL) joined
    to a dimension carrying an explicit NULL 'UNATTRIBUTED' row. The
    null-safe operator (Spark `eqNullSafe` / column<=>, DuckDB
    IS NOT DISTINCT FROM) matches NULL to NULL — the
    unattributed-bucket pattern every attribution pipeline needs —
    while plain `=` silently drops every NULL-keyed row. The single
    result row pins all four counts, so the hash check proves both
    engines agree on the three-valued-logic corner.
    """
    c = table(spark, sf_dir, "customer")
    keyed = c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, F.lit(None))
        .otherwise(F.col("c_nationkey"))
        .alias("k"),
    )
    n = table(spark, sf_dir, "nation")
    dim = n.select(
        F.col("n_nationkey").alias("k"), F.col("n_name")
    ).unionByName(
        n.sparkSession.createDataFrame(
            [(None, "UNATTRIBUTED")], "k int, n_name string"
        )
    )
    ns = keyed.join(F.broadcast(dim), keyed["k"].eqNullSafe(dim["k"]))
    eq = keyed.join(F.broadcast(dim), keyed["k"] == dim["k"])
    n_null = keyed.where(F.col("k").isNull()).agg(
        F.count("*").alias("n_null_keys")
    )
    agg_ns = ns.agg(
        F.count("*").alias("nullsafe_matches"),
        F.sum((F.col("n_name") == "UNATTRIBUTED").cast("bigint")).alias(
            "null_to_null_matches"
        ),
    )
    agg_eq = eq.agg(F.count("*").alias("equality_matches"))
    return (
        n_null.crossJoin(agg_ns)
        .crossJoin(agg_eq)
        .select(
            "n_null_keys",
            "nullsafe_matches",
            "equality_matches",
            "null_to_null_matches",
        )
    )
