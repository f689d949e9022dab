#!/usr/bin/env python3
"""Write perfbench/expected.json: each batch query's expected output.

The entry is the DuckDB oracle's row count and the hash of its canonical
row multiset (``laser_hadoop_spark.testing``'s canonicalizer), so the
benchmark's warm-up pass compares Spark's output with the oracle without
running DuckDB. Row order changes neither, so one file serves every
seed. Re-run after changing the corpus or a listed query:

    python3 perfbench/make_expected.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from run import CORPUS, EXPECTED, QUERIES, digest  # noqa: E402

from laser_hadoop_spark import registry, testing  # noqa: E402


def main() -> None:
    specs = registry.specs()
    con = testing.duckdb_connect(CORPUS)
    out: dict = {}
    for name in QUERIES:
        cols, rows, float_cols = testing._oracle_fetch(con, specs[name].oracle)
        out[name] = {
            "rows": len(rows),
            "hash": digest(testing._rows_multiset(cols, rows, float_cols)),
        }
    with open(EXPECTED, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
