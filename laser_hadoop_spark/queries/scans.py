"""Scan / project / filter / routing queries (SURVEY.md §2.1-§2.2).

Mirrors the reference's scan-side behavior — positional projection
(LASERInputCheckMapper.java:68,243-245), threshold predicates
(LASERInputValidator.java:147-155), arity routing
(ReferencePCAOutputFormat.java:9-15) — over the test star schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from laser_hadoop_spark.functions.scalar import money_sum
from laser_hadoop_spark.registry import register
from laser_hadoop_spark.tables import table


@register(
    "q_scan_project_filter",
    oracle="""
    SELECT l_orderkey, l_partkey, l_linenumber, l_quantity,
           CAST(l_shipdate AS DATE) AS ship_date
    FROM lineitem
    WHERE l_quantity > 30 AND l_shipdate < TIMESTAMP '1996-01-01'
    """,
)
def q_scan_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/P1/P2: columnar scan with projection + predicate pushdown.

    Spark-first analogue of the reference's projected gzip-TSV scan
    (LASERInputCheckMapper.java:53-72): both the column list and the
    filter reach the parquet reader (ReadSchema / PushedFilters).
    """
    li = table(spark, sf_dir, "lineitem")
    return (
        li.where((F.col("l_quantity") > 30) & (F.col("l_shipdate") < "1996-01-01"))
        .select(
            "l_orderkey",
            "l_partkey",
            "l_linenumber",
            "l_quantity",
            F.col("l_shipdate").cast("date").alias("ship_date"),
        )
    )


@register(
    "q_filter_compound",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_linestatus
    FROM lineitem
    WHERE (l_quantity > 45 AND l_returnflag IN ('A', 'R'))
       OR (NOT l_linestatus = 'O' AND l_discount < 0.02)
    """,
)
def q_filter_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: compound boolean predicates with IN-lists and negation."""
    li = table(spark, sf_dir, "lineitem")
    cond = ((F.col("l_quantity") > 45) & F.col("l_returnflag").isin("A", "R")) | (
        (~(F.col("l_linestatus") == "O")) & (F.col("l_discount") < 0.02)
    )
    return li.where(cond).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_linestatus"
    )


@register(
    "q_having_threshold",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 4) AS DOUBLE)
               AS total_spend
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) > 8
    """,
)
def q_having_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: HAVING-style threshold on an aggregate.

    Generalizes the reference's driver-side gates (individuals == 0,
    sharedLoci <= 100 — LASERInputValidator.java:147-155) into a
    post-aggregation filter.
    """
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            money_sum(F.col("o_totalprice"), scale=2).alias("total_spend"),
        )
        .where(F.col("n_orders") > 8)
    )


@register(
    "q_route_by_arity",
    oracle="""
    SELECT CASE WHEN len(string_split(p_type, ' ')) <= 2
                THEN 'var' ELSE 'pc' END AS route,
           COUNT(*) AS n_rows
    FROM part
    GROUP BY 1
    """,
)
def q_route_by_arity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: predicate-demultiplexed routing by field arity.

    The reference splits PCA output rows into reference_pc_var.txt
    (<=2 fields) vs reference_pc.txt (ReferencePCAOutputFormat.java:9-15);
    here the routing column is computed and aggregated. The sink form
    (two filtered writes / partitionBy(route)) is covered in pytest.
    """
    p = table(spark, sf_dir, "part")
    route = F.when(F.size(F.split(F.col("p_type"), " ")) <= 2, "var").otherwise("pc")
    return p.select(route.alias("route")).groupBy("route").agg(F.count("*").alias("n_rows"))


@register(
    "q_json_extract",
    oracle="""
    SELECT CAST(props->>'$.k' AS BIGINT) AS k_val, COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 4) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/F10: JSON-lines field extraction, typed.

    The reference's job-descriptor IR is one JSON object per line parsed
    field-by-field (LASERInputCheckMapper.java:275-287); here JSON payloads
    in `events.props` are extracted with get_json_object and aggregated.
    """
    e = table(spark, sf_dir, "events")
    return (
        e.select(
            F.get_json_object("props", "$.k").cast("bigint").alias("k_val"),
            "value",
        )
        .groupBy("k_val")
        .agg(
            F.count("*").alias("n_events"),
            money_sum(F.col("value"), scale=2).alias("sum_value"),
        )
    )


@register(
    "q_variant_json",
    oracle="""
    SELECT event_type,
           CAST(props->>'$.k' AS BIGINT) % 10 AS k_mod,
           COUNT(*) AS n,
           CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k
    FROM events
    GROUP BY 1, 2
    """,
)
def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT extraction (Spark 4 VariantType).

    parse_json builds the binary variant encoding once per row;
    variant_get then extracts typed fields without re-parsing — the
    scale path for schema-on-read JSON columns (vs per-access
    get_json_object string re-parsing in q_json_extract).
    """
    e = table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type", (F.col("k") % 10).alias("k_mod"))
        .agg(F.count("*").alias("n"), F.sum("k").alias("sum_k"))
    )
