"""Frequency-sketch operators: two-pass exact heavy hitters.

The reference engine keeps per-task counters and merges them at the
driver (``LASERInputValidator.java:142-145`` partial->final counter
merge); this module is the modern streaming-sketch generalization of
that pattern for unbounded key domains: a per-partition Misra-Gries
summary bounds candidate-set memory, and a second exact pass makes
the output indistinguishable from a full GROUP BY.

Scale shape: pass 1 is scan-local (no shuffle — the summary lives
inside mapInPandas per input partition); pass 2 shuffles ONLY rows
whose key survives the broadcast candidate filter. At 100 TB with a
heavy-tailed key domain this moves the frequent-key subset instead of
every distinct key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def misra_gries_step(counters: dict, values, capacity: int) -> None:
    """Fold ``values`` into the Misra-Gries summary ``counters`` in
    place: a tracked value increments; a new value takes a free slot;
    with every slot taken, all counters decrement and zeros drop out.
    The one MG update shared by the batch summary below and the
    streaming heavy-hitter states (streaming/ops.py)."""
    for value in values:
        if value in counters:
            counters[value] += 1
        elif len(counters) < capacity:
            counters[value] = 1
        else:
            dead = [k for k in counters if counters[k] == 1]
            for k in counters:
                counters[k] -= 1
            for k in dead:
                del counters[k]


def misra_gries_candidates(df: DataFrame, col: str, capacity: int) -> DataFrame:
    """Per-partition Misra-Gries summaries, unioned and deduplicated.

    Guarantee (no false negatives): if a key's GLOBAL frequency
    exceeds n/k for k <= capacity, then in at least one partition its
    local frequency exceeds n_p/k (pigeonhole over the partition
    decomposition), and a Misra-Gries summary with >= k counters
    retains every key whose local frequency exceeds n_p/(capacity+1)
    >= n_p/k. The union over partitions therefore contains every
    global heavy hitter; false positives are fine — the exact second
    pass removes them.
    """
    import pandas as pd

    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")

    def mg_partition(batches):
        counters: dict = {}
        for pdf in batches:
            misra_gries_step(counters, pdf[col], capacity)
        yield pd.DataFrame({col: list(counters.keys())})

    return df.select(col).mapInPandas(
        mg_partition, schema=f"{col} {df.schema[col].dataType.simpleString()}"
    ).distinct()


def heavy_hitters(
    df: DataFrame, col: str, threshold_denom: int, capacity: int = 4096
) -> DataFrame:
    """Exact keys with frequency > n/threshold_denom, sketch-pruned.

    Two passes: Misra-Gries candidates (lossless for this threshold
    when capacity >= threshold_denom), then an exact recount of ONLY
    candidate rows via a broadcast semi-join, filtered by the exact
    global threshold. Output (col, cnt) equals the full
    ``GROUP BY col HAVING cnt * threshold_denom > n`` — the oracle
    equality the registered query (q_heavy_hitters) proves.
    """
    if capacity < threshold_denom:
        raise ValueError(
            f"capacity {capacity} < threshold_denom {threshold_denom}: "
            "the Misra-Gries no-false-negative guarantee needs "
            "capacity >= threshold_denom"
        )
    candidates = misra_gries_candidates(df, col, capacity)
    total = df.agg(F.count("*").alias("n"))
    return (
        df.join(F.broadcast(candidates), col, "left_semi")
        .groupBy(col)
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(total))
        .where(F.col("cnt") * threshold_denom > F.col("n"))
        .select(col, "cnt")
    )
