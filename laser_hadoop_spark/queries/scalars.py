"""Scalar-function queries (SURVEY.md §2.8), with pivot and unpivot.

The reference's row-parse path is string manipulation: regex split,
concat join keys, case-insensitive compare, prefix tests, substring,
trim, printf ids, string->int casts, integer div/mod, JSON get
(citations per function in SURVEY.md §2.8). Exposed as column
expressions over the star schema, each with an exact DuckDB oracle.

Dialect care: DuckDB arrays are 1-indexed (Spark getItem is 0-indexed);
DuckDB CAST(double AS INT) rounds while Spark truncates — avoided by
using floor() on both sides; Spark split() is regex while DuckDB
string_split is literal — patterns kept literal-safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from laser_hadoop_spark.registry import register
from laser_hadoop_spark.tables import table


@register(
    "q_string_funcs",
    oracle="""
    SELECT p_partkey,
           lower(p_name) AS name_lower,
           upper(p_brand) AS brand_upper,
           string_split(p_type, ' ')[1] AS type_head,
           len(string_split(p_type, ' ')) AS type_arity,
           starts_with(p_type, 'STANDARD') AS is_standard,
           substring(p_name, 1, 8) AS name_prefix,
           strpos(p_name, 'a') AS first_a,
           trim(concat('  ', p_brand, ' ')) AS brand_trim,
           printf('%05d', p_size) AS size_padded
    FROM part
    """,
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F3-F7/P2: split, case-fold, prefix, substring, trim, printf."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.upper("p_brand").alias("brand_upper"),
        F.split(F.col("p_type"), " ").getItem(0).alias("type_head"),
        F.size(F.split(F.col("p_type"), " ")).cast("bigint").alias("type_arity"),
        F.col("p_type").startswith("STANDARD").alias("is_standard"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.instr(F.col("p_name"), "a").cast("bigint").alias("first_a"),
        F.trim(F.concat(F.lit("  "), F.col("p_brand"), F.lit(" "))).alias("brand_trim"),
        F.format_string("%05d", F.col("p_size")).alias("size_padded"),
    )


@register(
    "q_string_key_concat",
    oracle="""
    SELECT concat_ws(':', l_returnflag, l_linestatus) AS status_key,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY 1
    """,
)
def q_string_key_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/F2: composite-key construction, CHR+":"+POS style.

    Reference joins on a concatenated "CHR:POS" string key
    (LASERInputCheckMapper.java:68,243); the engine prefers native
    multi-column join keys and keeps concat_ws for key display/export.
    """
    li = table(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.concat_ws(":", "l_returnflag", "l_linestatus").alias("status_key")
        )
        .groupBy("status_key")
        .agg(F.count("*").alias("n_rows"))
    )


@register(
    "q_math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           (l_linenumber * 3 + 2) AS arity,
           (l_linenumber * 3 + 2) % 3 AS arity_mod,
           CAST(FLOOR(l_quantity / 7) AS BIGINT) AS qty_div7,
           CAST(CAST(l_orderkey AS VARCHAR) AS BIGINT) AS roundtrip_key,
           CAST(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                     AS DECIMAL(18,6)) AS DOUBLE) AS charged,
           ABS(l_discount - 0.05) > 0.03 AS discount_outlier
    FROM lineitem
    """,
)
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/F8/F9: arity arithmetic, modulo, integer division, casts.

    Reference: (fields.length - 2) % 3 and /3 locus-arity math
    (LASERInputCheckMapper.java:130,136), Integer.parseInt casts
    (LASERInputCheckMapper.java:285).
    """
    li = table(spark, sf_dir, "lineitem")
    arity = F.col("l_linenumber").cast("int") * 3 + 2
    return li.select(
        "l_orderkey",
        "l_linenumber",
        arity.alias("arity"),
        (arity % 3).alias("arity_mod"),
        F.floor(F.col("l_quantity") / 7).alias("qty_div7"),
        F.col("l_orderkey").cast("string").cast("bigint").alias("roundtrip_key"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")))
        .cast("decimal(18,6)")
        .cast("double")
        .alias("charged"),
        (F.abs(F.col("l_discount") - 0.05) > 0.03).alias("discount_outlier"),
    )


@register(
    "q_date_funcs",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
           CAST(EXTRACT(dow FROM o_orderdate) AS BIGINT) AS order_dow,
           COUNT(*) AS n_orders,
           CAST(MAX(date_diff('day', DATE '1995-01-01',
                              CAST(o_orderdate AS DATE))) AS BIGINT) AS max_days_since
    FROM orders
    GROUP BY 1, 2, 3
    """,
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11: date/time functions — trunc, extract, datediff.

    No dates exist in the reference (stringly-typed text); required for
    the events/time-series closure. DOW convention aligned: DuckDB dow
    (Sunday=0) vs Spark dayofweek (Sunday=1) - 1.
    """
    o = table(spark, sf_dir, "orders")
    return (
        o.select(
            F.date_trunc("month", "o_orderdate").cast("date").alias("order_month"),
            F.year("o_orderdate").cast("bigint").alias("order_year"),
            (F.dayofweek("o_orderdate") - 1).cast("bigint").alias("order_dow"),
            F.col("o_orderdate").cast("date").alias("od"),
        )
        .groupBy("order_month", "order_year", "order_dow")
        .agg(
            F.count("*").alias("n_orders"),
            F.max(F.datediff(F.col("od"), F.lit("1995-01-01").cast("date")))
            .cast("bigint")
            .alias("max_days_since"),
        )
    )


@register(
    "q_array_funcs",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           ROUND(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                'sum'), 3) AS vec_sum,
           ROUND(sqrt(list_aggregate(list_transform(embedding,
                                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                                'sum')), 3) AS l2_norm,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_positive
    FROM embeddings
    """,
)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12: array ops — size, aggregate (fold), filter, transform.

    The seq-file per-locus triples (§1.1) become array columns; these
    are the JVM-side (codegen) array primitives used across the
    similarity operators instead of Python UDFs.
    """
    emb = table(spark, sf_dir, "embeddings")
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(
            F.aggregate(as_double, F.lit(0.0), lambda acc, x: acc + x), 3
        ).alias("vec_sum"),
        F.round(
            F.sqrt(
                F.aggregate(
                    F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double")),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
            3,
        ).alias("l2_norm"),
        F.size(F.filter(F.col("embedding"), lambda x: x > 0)).alias("n_positive"),
    )


@register(
    "q_map_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_quantity, 4) AS qty_from_map,
           ROUND(l_extendedprice, 4) AS price_from_map,
           2 AS n_keys
    FROM lineitem
    """,
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13: map construction + element_at + cardinality.

    The reference's in-memory HashMaps (groups, reference sites —
    LASERInputCheckMapper.java:53-95) become map columns where embedded.
    The oracle states the expected *values*; map plumbing is Spark-side.
    """
    li = table(spark, sf_dir, "lineitem")
    m = F.create_map(
        F.lit("qty"), F.col("l_quantity"), F.lit("price"), F.col("l_extendedprice")
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.element_at(m, "qty"), 4).alias("qty_from_map"),
        F.round(F.element_at(m, "price"), 4).alias("price_from_map"),
        F.size(F.map_keys(m)).alias("n_keys"),
    )


@register(
    "q_pivot",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 4) AS qty_O,
           ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 4) AS qty_F
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (explicit list avoids the extra
    distinct-values job and keeps the plan static at scale)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 4))
        .withColumnRenamed("O", "qty_O")
        .withColumnRenamed("F", "qty_F")
    )


@register(
    "q_unpivot",
    oracle="""
    SELECT p_partkey, 'retailprice' AS metric, ROUND(p_retailprice, 4) AS val
    FROM part
    UNION ALL
    SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS val
    FROM part
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt) of per-part metrics.

    The inverse of q_pivot; the engine-level form of melting the
    reference's wide sample-major matrices into long layout (SURVEY.md
    §7.4 item 3). Spark's native unpivot is a zero-shuffle Expand —
    each input row emits one output row per value column in the scan
    stage, so the plan scales linearly with no exchange.
    """
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.round("p_retailprice", 4).alias("retailprice"),
        F.col("p_size").cast("double").alias("size"),
    ).unpivot(
        ids=["p_partkey"],
        values=["retailprice", "size"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@register(
    "q_regexp_funcs",
    oracle=r"""
    SELECT c_custkey,
           CAST(regexp_extract(c_name, '#(\d+)', 1) AS BIGINT) AS name_num,
           regexp_replace(c_name, '\d', '#', 'g') AS masked,
           CASE WHEN regexp_matches(c_name, '0{3}$') THEN 1 ELSE 0 END
               AS ends_000
    FROM customer
    """,
)
def q_regexp_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-closure: regexp extract / replace (redaction) / match predicate.

    regexp_replace masking every digit is the PII-scrub primitive for
    document pipelines; all three run inside whole-stage codegen (no
    Python). DuckDB spelling differs only in the global-replace flag
    ('g' explicit there, default in Spark).
    """
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_extract("c_name", r"#(\d+)", 1).cast("bigint").alias("name_num"),
        F.regexp_replace("c_name", r"\d", "#").alias("masked"),
        F.when(F.col("c_name").rlike(r"0{3}$"), 1).otherwise(0).alias("ends_000"),
    )


_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


_PIVOT_ALIASES = ["urgent_centi", "high_centi", "medium_centi", "notspec_centi", "low_centi"]


@register(
    "q_pivot_table",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(COALESCE(SUM(CASE WHEN o.o_orderpriority = '1-URGENT'
               THEN CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) END), 0)
               AS BIGINT) AS urgent_centi,
           CAST(COALESCE(SUM(CASE WHEN o.o_orderpriority = '2-HIGH'
               THEN CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) END), 0)
               AS BIGINT) AS high_centi,
           CAST(COALESCE(SUM(CASE WHEN o.o_orderpriority = '3-MEDIUM'
               THEN CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) END), 0)
               AS BIGINT) AS medium_centi,
           CAST(COALESCE(SUM(CASE WHEN o.o_orderpriority = '4-NOT SPECIFIED'
               THEN CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) END), 0)
               AS BIGINT) AS notspec_centi,
           CAST(COALESCE(SUM(CASE WHEN o.o_orderpriority = '5-LOW'
               THEN CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) END), 0)
               AS BIGINT) AS low_centi
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    """,
)
def q_pivot_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X97: PIVOT — nation x order-priority revenue matrix.

    The one core relational operator the suite lacked (unpivot landed
    in round 1, X18). Spark's RelationalGroupedDataset.pivot with an
    EXPLICIT value list — never the value-discovering form, which runs
    a hidden distinct job and breaks down when the pivot column's
    cardinality surprises you at 100 TB. Revenue in exact centi
    bigints; absent cells coalesce to 0 on both engines. One shuffle
    (groupBy nation after two broadcast dim joins).
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cent = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    base = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(F.col("n_name").alias("nation"), F.col("o_orderpriority"), cent.alias("cent"))
    )
    pivoted = base.groupBy("nation").pivot("o_orderpriority", _PRIORITIES).sum("cent")
    return pivoted.select(
        "nation",
        *[
            F.coalesce(F.col(f"`{p}`"), F.lit(0)).cast("bigint").alias(a)
            for p, a in zip(_PRIORITIES, _PIVOT_ALIASES)
        ],
    )


# --- X217: checksum (Luhn) validation census -------------------------------


@register(
    "q_luhn_checksum",
    oracle="""
    WITH ids AS (
        SELECT o_orderkey,
               lpad(CAST(o_orderkey AS VARCHAR), 12, '0')
                   || CAST(o_orderkey % 10 AS VARCHAR) AS acct
        FROM orders
    ),
    digits AS (
        SELECT o_orderkey, acct, i,
               CAST(acct[length(acct) - i + 1] AS BIGINT) AS d
        FROM ids, UNNEST(generate_series(1, 13)) AS u(i)
    ),
    terms AS (
        SELECT o_orderkey, acct,
               CASE WHEN i % 2 = 0
                    THEN CASE WHEN d * 2 > 9 THEN d * 2 - 9 ELSE d * 2 END
                    ELSE d END AS term
        FROM digits
    ),
    checked AS (
        SELECT o_orderkey, acct, SUM(term) AS s FROM terms
        GROUP BY o_orderkey, acct
    )
    SELECT CAST(CASE WHEN s % 10 = 0 THEN 1 ELSE 0 END AS INT) AS luhn_valid,
           COUNT(*) AS n_ids,
           CAST(MIN(o_orderkey) AS BIGINT) AS example_key
    FROM checked GROUP BY 1
    """,
)
def q_luhn_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X217: Luhn checksum validation census, pure codegen.

    Data-quality gate for id-like columns (card/IMEI/account formats):
    each synthetic 13-digit account id (zero-padded orderkey + a naive
    mod-10 suffix) is Luhn-checked — double every second digit from
    the right, subtract 9 above 9, sum, valid iff sum % 10 == 0 — and
    the census reports the valid/invalid split. The whole check is a
    scan-local digit transform + one aggregate: no UDF, no explode
    shuffle (the digit explode feeds a per-key combine in the same
    stage at scale the per-row sum folds into aggregate expressions).

    100 TB: scan-local arithmetic; output is a 2-row census.
    """
    o = table(spark, sf_dir, "orders")
    ids = o.select(
        "o_orderkey",
        F.concat(
            F.lpad(F.col("o_orderkey").cast("string"), 12, "0"),
            (F.col("o_orderkey") % 10).cast("string"),
        ).alias("acct"),
    )
    # sum Luhn terms with a scan-local array fold — no explode needed
    def digit(i):  # i-th digit from the right, 1-based
        return F.reverse(F.col("acct")).substr(i, F.lit(1)).cast("bigint")

    def term(i):
        dbl = digit(i) * 2
        return F.when(
            i % 2 == 0, F.when(dbl > 9, dbl - 9).otherwise(dbl)
        ).otherwise(digit(i))

    s = F.aggregate(
        F.transform(F.sequence(F.lit(1), F.lit(13)), term),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    checked = ids.select("o_orderkey", s.alias("s"))
    return checked.groupBy(
        F.when(F.col("s") % 10 == 0, 1).otherwise(0).cast("int").alias("luhn_valid")
    ).agg(
        F.count("*").alias("n_ids"),
        F.min("o_orderkey").cast("bigint").alias("example_key"),
    )
