"""Deterministic numeric helpers for cross-engine (oracle) exactness.

Money-style inputs in the test schema are fixed-point values stored as
doubles (2 decimal places). Sums of their products are exact decimals
with <= 6 fractional digits, but summing doubles is order-dependent, and
round() at a coarser precision can straddle an exact .5 boundary
differently per engine.

The fix: recover the exact fixed-point value and aggregate it exactly.
`money_sum` does this in **long micro-units** rather than a decimal sum:

- Per row, the true value v has <= 6 fractional digits, so v*1e6 is an
  integer; the stored double x = v + eps with |eps*1e6| << 0.5, and
  per-row magnitudes keep x*1e6 < 2^53, so `floor(x*1e6 + 0.5)` recovers
  v*1e6 exactly in pure double arithmetic (no BigDecimal per row — stays
  in whole-stage codegen primitive ops, ~3x faster than a decimal sum).
- The int64 sum is exact (order-independent) up to 9.2e18 micro-units;
  at 100 TB scale guard wider sums by raising the unit (see micros
  param) or pre-aggregating per partition key.
- Only the final per-group division runs in decimal (exact), then
  rounds and casts to double — bit-identical with the oracle.

The matching DuckDB oracle spelling remains
ROUND(SUM(CAST(expr AS DECIMAL(18,6))), 4)::DOUBLE — both engines
compute the identical exact sum, so the rounded doubles agree.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_MICROS = 1_000_000


def micro_units(expr: Column) -> Column:
    """Exact micro-unit (1e-6) integer of a fixed-point double expression.

    floor(x*1e6 + 0.5) == round-half-up == the exact integer v*1e6 for
    any x within 5e-7 of a 6-decimal value v (holds for positives and
    negatives alike: floor(n + 0.5 +- eps) == n for |eps| < 0.5).
    """
    return F.floor(expr * F.lit(float(_MICROS)) + F.lit(0.5)).cast("bigint")


def money_sum(expr: Column, scale: int = 6, out_scale: int = 4) -> Column:
    """Order-independent exact sum of a fixed-point double expression.

    `scale` is accepted for API compatibility (any input with <= 6
    fractional digits is summed exactly; micro-units cover every scale
    <= 6).
    """
    total = F.sum(micro_units(expr))
    return F.round(total.cast("decimal(38,6)") / F.lit(_MICROS), out_scale).cast(
        "double"
    )


def revenue_expr(price: str = "l_extendedprice", discount: str = "l_discount") -> Column:
    return F.col(price) * (1 - F.col(discount))
