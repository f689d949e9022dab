"""Local oracle-comparison harness mirroring the driver's correctness gate.

Runs a registered query's Spark DataFrame and its DuckDB oracle SQL over
the same parquet tables, then compares row count, sorted column names,
and an order-insensitive canonical value multiset.

Driver-faithfulness model (reverse-engineered from CORRECTNESS_r01):

- The driver fetches the DuckDB oracle through *pandas* (``rel.df()``),
  so DuckDB's HUGEINT (integer ``SUM``) arrives as float64 and fails
  the value hash against Spark's int64 even when numerically equal
  (q_broadcast_inner_join et al. in round 1). Round 1's local harness
  used ``fetchall()`` + ``==`` (int 123 == float 123.0), masking it.
  => This harness compares *type-strictly*: an int and an equal float
  canonicalize differently.
- But the coercion is COLUMN-wise, not cell-wise: q_scd2_intervals
  (nullable BIGINT output) and q_gap_fill (DATE output) both
  hash-matched in round 1, so the driver sees nullable integer columns
  as float64 on BOTH engines (pandas has no nullable int64 by default)
  and dates as datetime64 on both. => Spark columns coerce here the
  same way: integer columns containing NULL become float columns;
  float-typed columns canonicalize None as NaN; DATE canonicalizes as
  the midnight timestamp.
- The driver canonicalizes EVERY query's result (it sorts a pandas
  frame), including rows-only queries, and crashes on unhashable cells
  (round 1's q_approx_percentile: TypeError on a list cell). => This
  harness rejects array/map-typed result cells outright — queries must
  posexplode/to_json collections.
"""

from __future__ import annotations

import datetime as _dt
import math
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Any

from laser_hadoop_spark.tables import TABLE_NAMES


def duckdb_connect(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    return con


class UncanonicalizableCell(ValueError):
    """A result cell the driver's pandas canonicalizer would choke on."""


def _canon(v: Any, float_col: bool = False) -> Any:
    """Canonicalize one value for cross-engine comparison.

    Type-strict across the int/float divide: ("i", 20046) never equals
    ("f", 20046.0), mirroring the driver's type-sensitive hash. A value
    in a float-typed COLUMN canonicalizes as float even when it is an
    int or None (pandas column coercion).
    """
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return ("f", "NaN") if float_col else None
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, Decimal):
        # Decimal-STRICT (round 8, VERDICT_r07 item 3): a Decimal cell
        # canonicalizes on its own axis ("d", normalized digits), never
        # via float(). r07's q_cvm_test was driver-red on a
        # DECIMAL(38,0) output column that this harness — which then
        # collapsed Decimal to float64 — could not distinguish from the
        # oracle's value. Decimal-typed OUTPUT columns are now banned
        # corpus-wide (tests/test_decimal_outputs.py); this branch
        # exists so any future violation FAILS locally instead of
        # escaping to the driver. A Decimal inside a float-typed pandas
        # column never reaches here (already float64 by fetch time).
        if v.is_nan():
            return ("f", "NaN")
        if float_col:
            v = float(v)  # pandas column coercion wins; fall through
        elif v == v.to_integral_value():
            return ("d", str(int(v)))
        else:
            return ("d", format(v, "f").rstrip("0").rstrip("."))
    if isinstance(v, (int, np.integer)) and not isinstance(v, bool):
        return ("f", float(v) + 0.0) if float_col else ("i", int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return ("f", "NaN")
        # collapse float noise below the query-level rounding (round 4);
        # +0.0 folds -0.0 into +0.0
        return ("f", round(f, 6) + 0.0)
    if isinstance(v, pd.Timestamp):
        return ("t", v.to_pydatetime().replace(tzinfo=None).isoformat())
    if isinstance(v, _dt.datetime):
        return ("t", v.replace(tzinfo=None).isoformat())
    if isinstance(v, _dt.date):
        # date == midnight timestamp (pandas fetches DuckDB DATE as
        # datetime64; round-1 evidence says the driver equates them)
        return ("t", _dt.datetime(v.year, v.month, v.day).isoformat())
    if isinstance(v, (bytes, bytearray)):
        return ("x", bytes(v).hex())
    if isinstance(v, str):
        return ("s", v)
    if isinstance(v, (list, tuple, dict, set, np.ndarray)):
        raise UncanonicalizableCell(
            f"collection-typed result cell ({type(v).__name__}): the "
            "driver's canonicalizer cannot sort it — posexplode or "
            "to_json the column"
        )
    return ("o", repr(v))


def _rows_multiset(
    cols: list[str], rows: list[tuple], float_cols: set[int]
) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon(r[i], i in float_cols) for i in order) for r in rows]
    return sorted(out, key=repr)


def _spark_fetch(sdf) -> tuple[list[str], list[tuple], set[int]]:
    """Collect a Spark result + the driver's column-coercion view of it.

    float_cols: columns pandas would type float64 — float/double typed,
    or integer-typed containing a NULL (nullable int -> float64 + NaN).
    """
    from pyspark.sql import types as T

    rows = [tuple(r) for r in sdf.collect()]
    cols = sdf.columns
    float_cols: set[int] = set()
    int_types = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    for i, f in enumerate(sdf.schema.fields):
        # DecimalType deliberately NOT a float column (round 8): Decimal
        # cells canonicalize strictly so decimal-typed outputs fail
        # loudly here before the driver sees them.
        if isinstance(f.dataType, (T.FloatType, T.DoubleType)):
            float_cols.add(i)
        elif isinstance(f.dataType, int_types) and any(r[i] is None for r in rows):
            float_cols.add(i)
    return cols, rows, float_cols


def _oracle_fetch(con, oracle: str) -> tuple[list[str], list[tuple], set[int]]:
    """Fetch oracle results through pandas, exactly like the driver.

    ``rel.df()`` turns HUGEINT into float64 and nullable integer columns
    into float64-with-NaN — the representations the driver hashes.
    """
    import pandas as pd

    df = con.sql(oracle).df()
    cols = list(df.columns)
    float_cols = {
        i for i, dt in enumerate(df.dtypes) if pd.api.types.is_float_dtype(dt)
    }
    rows = [tuple(r) for r in df.itertuples(index=False, name=None)]
    return cols, rows, float_cols


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int | None
    detail: str = ""
    mismatches: list[str] = field(default_factory=list)


def compare_query(spark, con, name: str, fn, oracle: str | None, sf_dir: str) -> CompareResult:
    from laser_hadoop_spark.session import persisted_rdd_ids, release_persisted

    # The query's checkpoint and broadcast blocks are dead once fetched:
    # free them now, so a 440-query sweep in one session cannot pile up
    # storage. Scoped to blocks created during this call: a caller
    # holding its own persisted or checkpointed DataFrame across
    # compare_query keeps its blocks.
    pre_ids = persisted_rdd_ids(spark)
    try:
        sdf = fn(spark, sf_dir)
        scols, srows, sfloat = _spark_fetch(sdf)
    finally:
        release_persisted(spark, keep_ids=pre_ids)
    if oracle is None:
        # rows-only: still must be canonicalizable (driver sorts it)
        try:
            _rows_multiset(scols, srows, sfloat)
        except UncanonicalizableCell as e:
            return CompareResult(
                name, False, len(srows), None, mismatches=[f"canon: {e}"]
            )
        return CompareResult(name, True, len(srows), None, detail="rows-only")
    ocols, orows, ofloat = _oracle_fetch(con, oracle)
    problems: list[str] = []
    if sorted(scols) != sorted(ocols):
        problems.append(f"columns: spark={sorted(scols)} oracle={sorted(ocols)}")
    if len(srows) != len(orows):
        problems.append(f"rowcount: spark={len(srows)} oracle={len(orows)}")
    if not problems:
        try:
            sm = _rows_multiset(scols, srows, sfloat)
            om = _rows_multiset(ocols, orows, ofloat)
        except UncanonicalizableCell as e:
            return CompareResult(
                name, False, len(srows), len(orows), mismatches=[f"canon: {e}"]
            )
        if sm != om:
            om_set = set(om)
            sm_set = set(sm)
            diff_s = [r for r in sm if r not in om_set][:3]
            diff_o = [r for r in om if r not in sm_set][:3]
            problems.append(f"values: spark-only={diff_s} oracle-only={diff_o}")
    return CompareResult(
        name, not problems, len(srows), len(orows), mismatches=problems
    )
