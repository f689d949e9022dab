"""Window-function queries (SURVEY.md §2.5).

The reference's two window-shaped mechanisms: row-number chunking of
individuals into 100-row chunk files (LASERInputCheckMapper.java:118-168)
and [start,end] range batching with %05d ids (TRACEJobGenerator.java:52-93).
Every window spec orders by a unique key so results are deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from laser_hadoop_spark.registry import register
from laser_hadoop_spark.tables import table

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
