"""Two-pass distributed cumulative aggregation (round-3 verdict item 8).

A cumulative sum / rank in a GLOBAL total order is usually written as
``Window.orderBy(...)`` with no partition spec — which Spark executes by
funneling every row through one task (``Exchange SinglePartition``).
Fine when the windowed relation is a small aggregate; a scale-killer
when the dimension grows 100x.

``ordered_cumsum`` produces identical output with no single-partition
exchange anywhere in the plan, using the classic two-pass offset shape
(RDD.zipWithIndex's discipline, generalized to arbitrary running sums;
``row_number_col`` alone is the global row number, which is how
q_row_number_chunking chunks rows). It stays fully declarative —
offsets come back via a broadcast join, not a driver collect:

1. range-repartition + sort within partitions on the order columns —
   the only data shuffle, every partition sorts in parallel;
2. per-partition local running sums / local row numbers (a PARTITIONED
   window over ``__pid`` — parallel, no global funnel);
3. per-partition totals (one row per partition) are prefix-summed into
   start offsets by a triangular self-join over the tiny totals
   relation (n_partitions² pairs — bounded by a chosen constant, and
   deliberately NOT a global window so the no-SinglePartition invariant
   holds for the whole plan), then broadcast-joined back.

The range-partitioned frame is pinned with a (lazy, round 13) \
``localCheckpoint``: range-boundary sampling is re-seeded per
execution, so without pinning the totals job and the output job could
each re-execute the exchange, see different partition boundaries, and
mis-seam the offsets. Both consumers share one checkpointed RDD, so the first
consuming action materializes the exchange exactly once and the rest
read the pinned partitions — same guarantee as the former eager pin,
one fewer job per call.

Determinism contract: ``order_by`` must be a TOTAL order (include a
unique tiebreaker column) — then the output is independent of where
the range boundaries land, byte-identical to the single-partition
window form.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def ordered_cumsum(
    df: DataFrame,
    *,
    order_by: Sequence[Column | str],
    values: Mapping[str, str] | None = None,
    row_number_col: str | None = None,
    n_partitions: int | None = None,
) -> DataFrame:
    """Running sums (and optionally a global row number) of ``df`` in
    the total order ``order_by``, without a single-partition window.

    ``values`` maps source column name -> output cumulative column
    name; each output holds SUM(source) over rows from the start of the
    order through the current row (inclusive). ``row_number_col`` adds
    the 1-based global row number. Output rows keep all input columns.
    """
    values = dict(values or {})
    if not values and row_number_col is None:
        raise ValueError("nothing to compute: pass values and/or row_number_col")
    spark = df.sparkSession
    n = n_partitions or spark.sparkContext.defaultParallelism
    # Round 13 (VERDICT_r12 item 3): the checkpoint is LAZY. Both
    # consumers (the per-partition window projection and the totals
    # aggregate) reference the SAME checkpointed RDD, so the range
    # exchange — and its boundary-sampling job — executes once at the
    # first consuming action and every later consumer reads the pinned
    # partitions: boundary consistency holds without paying a separate
    # eager materialization job per call (one fewer job + one fewer
    # full pass; measured at sf0.1: q_value_deciles 13 -> 12 jobs /
    # 0.80 -> 0.67 s, q_rfm_segments 39 -> 36 jobs / 1.35 -> 1.08 s,
    # q_decile_migration 1.48 -> 1.14 s). Concurrent first
    # readers (the offsets broadcast build vs the output job) are safe:
    # block-manager per-partition locking means one computes, the
    # other waits for the cached block.
    pinned = (
        df.repartitionByRange(n, *order_by)
        .sortWithinPartitions(*order_by)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    srcs = list(values)
    local_w = (
        Window.partitionBy("__pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    rn_w = Window.partitionBy("__pid").orderBy(*order_by)
    proj = pinned.select(
        "*",
        *[F.sum(s).over(local_w).alias(f"__loc_{i}") for i, s in enumerate(srcs)],
        F.row_number().over(rn_w).alias("__loc_rn"),
    )
    parts = pinned.groupBy("__pid").agg(
        *[F.sum(s).alias(f"__p_{i}") for i, s in enumerate(srcs)],
        F.count("*").alias("__p_n"),
    )
    a, b = parts.alias("a"), parts.alias("b")
    offs = (
        a.join(b, F.col("b.__pid") < F.col("a.__pid"), "left")
        .groupBy(F.col("a.__pid").alias("__pid"))
        .agg(
            *[
                F.coalesce(F.sum(F.col(f"b.__p_{i}")), F.lit(0)).alias(f"__o_{i}")
                for i in range(len(srcs))
            ],
            F.coalesce(F.sum(F.col("b.__p_n")), F.lit(0)).alias("__o_n"),
        )
    )
    out = proj.join(F.broadcast(offs), "__pid")
    keep = [c for c in df.columns]
    cum_cols = [
        (F.col(f"__loc_{i}") + F.col(f"__o_{i}")).alias(values[s])
        for i, s in enumerate(srcs)
    ]
    rn_cols = (
        [(F.col("__loc_rn") + F.col("__o_n")).cast("int").alias(row_number_col)]
        if row_number_col
        else []
    )
    return out.select(*keep, *cum_cols, *rn_cols)


def ordered_weighted_quantile(
    df: DataFrame,
    *,
    value_col: str,
    weight_col: str,
    num: int = 1,
    den: int = 2,
    bucket_width: int = 4096,
) -> DataFrame:
    """Lower weighted quantile (default: median, num/den = 1/2) by
    histogram pruning — ZERO shuffles of the fact table, two scans.

    Returns a 1-row DataFrame (quantile_value, total_weight): the
    smallest integer value v whose cumulative weight cw satisfies
    ``den*cw >= num*total``. Two scan-shaped passes:

    1. a fixed-width weight histogram on ``value DIV bucket_width`` —
       map-side partial aggregation shrinks every partition to the
       bucket count (<= value_range / bucket_width) before a tiny
       shuffle; the grand total falls out of the same relation, so no
       separate stats pass is needed;
    2. the crossing bucket — located by a cumulative walk over the
       small histogram — is re-scanned with a per-VALUE aggregate and
       walked exactly; only ~bucket_width distinct values (one
       histogram cell) reach this stage.

    Contrast with an ordered_cumsum spelling (range-shuffle +
    checkpoint + per-row window over ALL rows): the fact table is
    never shuffled or materialized — the dominant cost is two
    column-pruned scans. The bucket function is monotone in the
    value, so equal values never straddle a bucket boundary and the
    per-value walk is exact. Values must be integral and non-negative
    offsets apply (the repo's fixed-point discipline guarantees
    integrality; DIV on negatives truncates toward zero, which merges
    buckets -1 and 0 — harmless for pruning correctness since the
    walk re-checks exact values, but callers with signed domains
    should prefer a bucket_width that keeps cells small).

    The histogram walk uses a single-partition window over the
    histogram relation — bounded by value_range / bucket_width, a
    constant of the value domain, never by fact cardinality.
    """
    v, w = F.col(value_col), F.col(weight_col)
    bucket = F.expr(f"CAST({value_col} DIV {bucket_width} AS BIGINT)")
    hist = df.groupBy(bucket.alias("__b")).agg(F.sum(w).alias("__bw"))
    cum_w = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, 0)
    tot_w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    crossed = hist.select(
        "__b",
        "__bw",
        F.sum("__bw").over(cum_w).alias("__cum"),
        F.sum("__bw").over(tot_w).alias("__tot"),
    )
    target = (
        crossed.where(den * F.col("__cum") >= num * F.col("__tot"))
        .orderBy("__b")
        .limit(1)
        .select(
            F.col("__b").alias("__tb"),
            (F.col("__cum") - F.col("__bw")).alias("__off"),
            "__tot",
        )
    )
    in_bucket = (
        df.crossJoin(F.broadcast(target))
        .where(bucket == F.col("__tb"))
        .groupBy(v.alias("__v"), F.col("__off"), F.col("__tot"))
        .agg(F.sum(w).alias("__vw"))
    )
    cum_v = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    walked = in_bucket.select(
        "__v",
        "__tot",
        (F.col("__off") + F.sum("__vw").over(cum_v)).alias("__cw"),
    )
    return (
        walked.where(den * F.col("__cw") >= num * F.col("__tot"))
        .groupBy("__tot")
        .agg(F.min("__v").alias("__q"))
        .select(
            F.col("__q").alias("quantile_value"),
            F.col("__tot").alias("total_weight"),
        )
    )


def ordered_quantiles(
    df: DataFrame,
    *,
    value_col: str,
    quantiles: Sequence[tuple[int, int]],
    weight_col: str | None = None,
    bucket_width: int = 4096,
) -> DataFrame:
    """Several lower (weighted) quantiles in ONE histogram pass + ONE
    pruned scan — the multi-point generalization of
    ordered_weighted_quantile.

    ``quantiles`` is a list of (num, den) fractions; for each, the
    smallest value v with den*cum_weight(v) >= num*total is returned
    as a row (q_num, q_den, quantile_value, total_weight). All
    fractions share the same two scans: pass 2 filters the fact table
    to the UNION of crossing buckets (an isin over at most
    len(quantiles) bucket ids, broadcast), and each fraction walks
    only its own bucket's per-value aggregate. Unweighted quantiles
    (percentile_disc) are the weight_col=None special case (weight 1).

    Scale shape: identical to the single-quantile operator — no fact
    shuffle, the histogram window bounded by value_range/bucket_width
    — but k quantiles cost 2 scans instead of 2k.
    """
    v = F.col(value_col)
    w = F.lit(1).cast("bigint") if weight_col is None else F.col(weight_col)
    bucket = F.expr(f"CAST({value_col} DIV {bucket_width} AS BIGINT)")
    hist = df.groupBy(bucket.alias("__b")).agg(F.sum(w).alias("__bw"))
    cum_w = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, 0)
    tot_w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    crossed = hist.select(
        "__b",
        "__bw",
        F.sum("__bw").over(cum_w).alias("__cum"),
        F.sum("__bw").over(tot_w).alias("__tot"),
    ).localCheckpoint(eager=False)
    fracs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(num).cast("bigint").alias("q_num"),
                    F.lit(den).cast("bigint").alias("q_den"),
                )
                for num, den in quantiles
            ]
        )
    ).alias("q")
    targets = (
        crossed.select("*", fracs)
        .select("__b", "__bw", "__cum", "__tot", "q.q_num", "q.q_den")
        .where(F.col("q_den") * F.col("__cum") >= F.col("q_num") * F.col("__tot"))
        .groupBy("q_num", "q_den", "__tot")
        .agg(F.min("__b").alias("__tb"))
        .join(
            crossed.select(
                F.col("__b").alias("__tb"),
                (F.col("__cum") - F.col("__bw")).alias("__off"),
            ),
            "__tb",
        )
    )
    in_buckets = (
        df.join(
            F.broadcast(targets.select("__tb").distinct()),
            bucket == F.col("__tb"),
        )
        .groupBy(bucket.alias("__vb"), v.alias("__v"))
        .agg(F.sum(w).alias("__vw"))
    )
    cum_v = Window.partitionBy("__vb").orderBy("__v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    walked = in_buckets.select(
        "__vb", "__v", F.sum("__vw").over(cum_v).alias("__lcw")
    )
    return (
        walked.join(F.broadcast(targets), walked["__vb"] == targets["__tb"])
        .where(
            F.col("q_den") * (F.col("__off") + F.col("__lcw"))
            >= F.col("q_num") * F.col("__tot")
        )
        .groupBy("q_num", "q_den", "__tot")
        .agg(F.min("__v").alias("__q"))
        .select(
            F.col("q_num").cast("bigint"),
            F.col("q_den").cast("bigint"),
            F.col("__q").alias("quantile_value"),
            F.col("__tot").alias("total_weight"),
        )
    )


def closed_form_ntile(
    rn_col: str = "rn", n_col: str = "n", k: int = 10
) -> Column:
    """NTILE(k)'s remainder arithmetic as a closed-form expression over
    a global row number: with q = n DIV k and r = n % k, the first r
    buckets take q+1 rows. Computes the identical bucket id to
    NTILE(k) OVER (ORDER BY ...) without any window — pair it with
    ordered_cumsum's row_number_col for the no-single-partition plan
    (hash-proven equal to NTILE in q_equidepth_histogram,
    q_calibration_bins, q_ingest_drift, q_lorenz_points, q_psi).
    """
    return F.expr(
        f"CASE WHEN {rn_col} <= ({n_col} % {k}) * ({n_col} DIV {k} + 1) "
        f"THEN ({rn_col} - 1) DIV ({n_col} DIV {k} + 1) + 1 "
        f"ELSE {n_col} % {k} + ({rn_col} - ({n_col} % {k}) * ({n_col} DIV {k} + 1) - 1) "
        f"DIV greatest({n_col} DIV {k}, 1) + 1 END"
    )
