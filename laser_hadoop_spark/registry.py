"""Query registry backing /root/repo/__spark_entry__.py.

Each declared query from SURVEY.md §2 registers here with its Spark
implementation and (where SQL-expressible) its DuckDB oracle SQL. The
driver runs both at sf0.01 and compares row-count + schema +
order-insensitive value hash, so:

- every computed column is aliased identically in Spark and SQL;
- floating aggregates are rounded (round 4) on BOTH sides so FP
  summation-order differences between engines can't flip the hash;
- window orderings always include a unique tiebreaker key;
- genuinely non-SQL-expressible ops register with ``oracle=None`` and
  get the driver's weaker rows-only check.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None for rows-only check
    doc: str = ""
    # semantic tags ("pairs" = generates candidate pairs via a blocked
    # self-join + dedup — the payload-carry audit class; tagging here
    # makes scripts/audit_pair_shuffles.py and the binding plan test
    # cover future additions BY CONSTRUCTION, VERDICT_r08 item 4)
    tags: frozenset = frozenset()
    # bounded sweep variant for scales where the full DuckDB oracle is
    # intractable (VERDICT_r08 item 3): BOTH sides restricted to the
    # same deterministic subset so the hash check stays exact. Used by
    # scripts/check_oracles.py --bounded; never by the driver.
    bounded_fn: QueryFn | None = None
    bounded_oracle: str | None = None


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bounded_fn: QueryFn | None = None,
    bounded_oracle: str | None = None,
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a declared query (and optional DuckDB oracle)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query registration: {name}")
        _REGISTRY[name] = QuerySpec(
            name,
            fn,
            oracle,
            doc=(fn.__doc__ or "").strip(),
            tags=frozenset(tags),
            bounded_fn=bounded_fn,
            bounded_oracle=bounded_oracle,
        )
        return fn

    return deco


def tagged(tag: str) -> list[str]:
    """Names of registered queries carrying `tag`, registration order."""
    _load_all()
    return [n for n, s in _REGISTRY.items() if tag in s.tags]


def _load_all() -> None:
    """Import every query module (side effect: registration)."""
    from laser_hadoop_spark import queries  # noqa: F401

    queries.load_all()


# The driver verifies a 50-entry PREFIX of queries() order (every
# CORRECTNESS_r<N>.json is exactly the first 50 entries of that round's
# ordering), so dict order is a verification budget. The window is
# derived, never hand-rotated: queries sort by the last round any
# CORRECTNESS file lists them (never verified = round 0), oldest first,
# ties by query name, so moving a query between modules never moves it
# in the window. A round's file landing rotates the window with no edit;
# tests/test_ledger.py pins it against the merged ledger.
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _last_verified_round() -> dict[str, int]:
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m is None:
            continue
        with open(path) as f:
            for name in json.load(f):
                last[name] = max(last.get(name, 0), int(m.group(1)))
    return last


def _ordered() -> dict[str, QuerySpec]:
    _load_all()
    last = _last_verified_round()
    return {n: _REGISTRY[n] for n in sorted(_REGISTRY, key=lambda n: (last.get(n, 0), n))}


def all_queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in _ordered().items()}


def all_oracles() -> dict[str, str]:
    return {n: s.oracle for n, s in _ordered().items() if s.oracle is not None}


def get(name: str) -> QuerySpec:
    _load_all()
    return _REGISTRY[name]


def specs() -> dict[str, QuerySpec]:
    _load_all()
    return dict(_REGISTRY)
