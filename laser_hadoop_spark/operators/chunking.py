"""Row chunking and range batching (SURVEY.md §2.5 W1/W2).

The reference's two parallelism generators: 100-row seq chunks
(LASERInputCheckMapper.java:118-168; constant LASERInputValidator.java:18)
and [start,end] individual batches with %05d ids
(TRACEJobGenerator.java:52-93).

Scale note: a global row_number() funnels through one task for the
ordering; chunk assignment at 100 TB should therefore derive from a
pre-sorted unique key range (assign_chunks_by_key) or from the
per-partition offsets of operators/cumulative.ordered_cumsum's
``row_number_col``, not a global window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_CHUNK_SIZE = 100  # LASERInputValidator.java:18


def assign_chunks(
    df: DataFrame, order_col: str, chunk_size: int = DEFAULT_CHUNK_SIZE
) -> DataFrame:
    """W1: chunk id = floor(row_index / chunk_size), deterministic order.

    Exact reference semantics (contiguous chunks of exactly chunk_size
    in row order) through a global window — one task at scale. The
    exact scale form is ordered_cumsum's ``row_number_col`` (see
    queries/windows.q_row_number_chunking); use assign_chunks_by_key
    when approximate, key-ranged chunks suffice.
    """
    w = Window.orderBy(order_col)
    return df.withColumn(
        "chunk", F.floor((F.row_number().over(w) - 1) / chunk_size)
    )


def assign_chunks_by_key(
    df: DataFrame, key_col: str, chunk_size: int = DEFAULT_CHUNK_SIZE
) -> DataFrame:
    """Scale form of W1: chunk by key range instead of global row number.

    For a dense integer key (e.g. a sequence id), chunk = key div size —
    no shuffle, no single-task ordering window; chunk sizes equal the
    reference's exactly when keys are dense.
    """
    return df.withColumn("chunk", F.floor(F.col(key_col) / chunk_size))


def chunk_counts(chunked: DataFrame) -> DataFrame:
    """Per-chunk row counts (the CHUNKS/INDIVIDUALS counters, A3)."""
    return chunked.groupBy("chunk").agg(F.count("*").alias("n_rows"))


def range_batches(df: DataFrame, batch_size: int) -> DataFrame:
    """W2/U4: tile 1..count(df) into [start,end] batches with %05d ids.

    Reference: TRACEJobGenerator.java:52-93 loops in the driver; here a
    1-row count explodes through sequence() — a table function, fully
    distributed, no driver loop.
    Output: (batch_id string, start_ind long, end_ind long).
    """
    n = df.agg(F.count("*").alias("n_ind"))
    return (
        n.select(
            F.explode(F.sequence(F.lit(1), F.col("n_ind"), F.lit(batch_size))).alias(
                "start_ind"
            ),
            "n_ind",
        )
        .select(
            F.format_string(
                "%05d", F.floor((F.col("start_ind") - 1) / batch_size)
            ).alias("batch_id"),
            "start_ind",
            F.least(F.col("start_ind") + batch_size - 1, F.col("n_ind")).alias(
                "end_ind"
            ),
        )
    )


def assign_to_batches(
    df: DataFrame, batches: DataFrame, value_col: str
) -> DataFrame:
    """J7: attach each row to its [start,end] batch (range join).

    batches is tiny (count/batch_size rows) -> broadcast nested loop.
    At scale prefer the closed form batch = (value-1) div batch_size
    when batches are uniform — an equi-computable key, no join at all.
    """
    cond = (F.col(value_col) >= F.col("start_ind")) & (
        F.col(value_col) <= F.col("end_ind")
    )
    return df.join(F.broadcast(batches), cond, "inner")
