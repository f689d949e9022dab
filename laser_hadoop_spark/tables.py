"""Loaders for the driver-generated test star schema (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under an sf directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always broadcast in joins.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part", "customer"})


# Session-scoped RELATION cache (round 13): spark.read.parquet pays a
# file listing + footer schema read (~0.1 s locally) on EVERY call, and
# a query that reads 4 tables re-pays it on every plan build — ~0.1 s x
# reads x queries of pure driver-side metadata work inside the timed
# fn() (guide §7.3's "driver is doing something single-threaded"). A
# catalog-backed warehouse resolves a table ONCE per session; this dict
# is that catalog for the path-based test layout. It caches the
# UNEXECUTED scan DataFrame (immutable logical plan — metadata only,
# never rows, never execution state), keyed by (application, sf_dir,
# table) so different sessions, scale factors, or test fixtures never
# collide. Plans built on top of a cached relation are fresh per query;
# AQE stage state lives in query executions, not in the relation.
_RELATION_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one star-schema table as a DataFrame (columnar parquet scan).

    `events.ts` has been generated both as parquet TIMESTAMP(NANOS)
    (which Spark refuses by default; read as a long via nanosAsLong and
    truncated to microseconds — the same conversion DuckDB applies) and
    as TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ).
    Both are canonicalized to TIMESTAMP_LTZ whose epoch equals the
    stored wall-clock interpreted as UTC, so event-time expressions
    (unix_micros, window(), range frames) agree with the DuckDB oracle's
    naive-timestamp arithmetic. The NTZ path goes through an explicit
    epoch diff against an NTZ anchor — not a cast — so the result is
    independent of the session time zone.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    import os as _os

    if name == "events":
        # Deterministic event-time semantics regardless of the caller's
        # session defaults (the driver builds its own SparkSession). Set
        # on EVERY call, cache hit or not: the caller may have changed
        # the session since the relation was cached.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    app_id = spark.sparkContext.applicationId
    key = (app_id, _os.path.abspath(sf_dir), name)
    cached = _RELATION_CACHE.get(key)
    if cached is not None:
        return cached
    # a miss is the moment to drop relations of stopped sessions (one
    # SparkContext per process), which no later lookup can hit
    for stale in [k for k in _RELATION_CACHE if k[0] != app_id]:
        del _RELATION_CACHE[stale]
    df = _read_table(spark, sf_dir, name)
    _RELATION_CACHE[key] = df
    return df


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":  # TIMESTAMP(NANOS): truncate to micros
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":  # TIMESTAMP(MICROS), unadjusted
            df = df.withColumn(
                "ts",
                F.timestamp_micros(
                    F.expr(
                        "timestampdiff(MICROSECOND,"
                        " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                    )
                ),
            )
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def spread_scan(df: DataFrame, *key_cols: str) -> DataFrame:
    """Parallelize the compute ABOVE a small, unsplittable scan.

    The test tables are single-row-group parquet files, and a parquet
    split must contain a row-group start to read anything — so every
    scan here is ONE task regardless of spark.sql.files.minPartitionNum,
    and all scan-stage compute above it (per-char gram hashing, per-row
    md5 draws, Arrow GEMM bucketing) runs serially while the other
    cores idle. Guide §2.5's unsplittable-input rule: "repartition
    immediately after the read". Measured at sf0.1/local[32]: the
    q_dup_spans gram explode 1.83 -> 0.29 s, the 7-digest md5
    projection 0.48 -> 0.20 s.

    Scale discipline: the repartition is GUARDED — a no-op whenever the
    scan already has >= defaultParallelism splits, which is every real
    multi-row-group corpus at cluster scale, so no production plan ever
    pays an extra exchange of raw payload bytes (the 100 TB
    "text/vectors are never shuffled" contracts in the query docstrings
    hold exactly where they matter). The exchange is HASH partitioning
    on ``key_cols`` (deterministic under task retry, no
    sortBeforeRepartition pass, and a unique id key spreads evenly) —
    never round-robin.
    """
    sc = df.sparkSession.sparkContext
    dp = sc.defaultParallelism
    if not key_cols:
        raise ValueError("spread_scan needs a deterministic partition key")
    if df.rdd.getNumPartitions() >= dp:
        return df
    return df.repartition(dp, *[F.col(c) for c in key_cols])


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> None:
    """Register tables as temp views for the SQL API.

    Pass the subset a query actually reads — each view creation is a
    parquet relation build (listing + footer), so registering all ten
    tables costs ~1s of pure overhead per call.
    """
    for name in names:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
