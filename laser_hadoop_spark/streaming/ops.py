"""Streaming operators ST1-ST7 (SURVEY.md §2.9).

The reference is batch-only (job.waitForCompletion,
LASERInputValidator.java:129); these close the streaming capability.
Every transformation here takes a streaming DataFrame (readStream) and
returns a streaming DataFrame; the identical expressions run in batch
mode for the oracle-checked queries in queries/streaming_batch.py.

Late-data policy: event-time watermarks bound state; windows emit in
append mode once the watermark passes window end. State stores scale
with (keys x open windows), not input size — the property that matters
at 100 TB/day ingest.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from laser_hadoop_spark.operators.sketches import misra_gries_step

DEFAULT_WATERMARK = "10 minutes"


def with_watermark(events: DataFrame, ts_col: str = "ts", delay: str = DEFAULT_WATERMARK) -> DataFrame:
    """ST4: bound lateness — rows older than max(event_time) - delay are
    dropped by downstream stateful ops, and state is reclaimed."""
    return events.withWatermark(ts_col, delay)


def tumbling_counts(
    events: DataFrame, *, ts_col: str = "ts", key_col: str = "event_type",
    width: str = "1 hour", delay: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """ST1 (streaming form): watermarked tumbling-window aggregate."""
    return (
        with_watermark(events, ts_col, delay)
        .groupBy(F.window(ts_col, width), key_col)
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"), key_col, "n_events", "sum_value"
        )
    )


def sliding_counts(
    events: DataFrame, *, ts_col: str = "ts", width: str = "1 hour",
    slide: str = "15 minutes", delay: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """ST2 (streaming form)."""
    return (
        with_watermark(events, ts_col, delay)
        .groupBy(F.window(ts_col, width, slide))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "n_events")
    )


def session_counts(
    events: DataFrame, *, ts_col: str = "ts", key_col: str = "user_id",
    gap: str = "30 minutes", delay: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """ST3 (streaming form): merged session windows per key."""
    return (
        with_watermark(events, ts_col, delay)
        .groupBy(F.session_window(ts_col, gap), key_col)
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col, F.col("session_window.start").alias("session_start"), "n_events"
        )
    )


def stream_dedup(
    events: DataFrame, keys: list[str], *, ts_col: str = "ts", delay: str = DEFAULT_WATERMARK
) -> DataFrame:
    """ST5: stateful dedup within the watermark horizon.

    dropDuplicatesWithinWatermark keeps one row per key and expires the
    key's state after the watermark delay — bounded state, unlike plain
    dropDuplicates on a stream (which retains all keys forever).
    """
    return with_watermark(events, ts_col, delay).dropDuplicatesWithinWatermark(keys)


def enrich_with_static(stream: DataFrame, static_dim: DataFrame, on: list[str]) -> DataFrame:
    """ST7: stream-static broadcast enrichment — the streaming form of
    the reference's panel broadcast join (J1): the static side ships to
    tasks once per microbatch, no stream-side shuffle."""
    return stream.join(F.broadcast(static_dim), on=on, how="left")


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "1 hour",
    delay: str = DEFAULT_WATERMARK,
    how: str = "inner",
) -> DataFrame:
    """ST8: stream-stream interval join (e.g. click <- preceding purchase).

    Matches a left row to right rows with the same key whose event time
    falls in [left_ts - within, left_ts]. BOTH sides carry watermarks
    and the join condition bounds event-time distance, so each side's
    buffered state expires once the other side's watermark passes —
    bounded state, the requirement for an unbounded 100 TB/day join.
    Right columns are suffixed `_r` to keep the output unambiguous.
    """
    l = with_watermark(left, left_ts, delay).alias("l")
    r_renamed = right.select(
        [F.col(c).alias(f"{c}_r") for c in right.columns]
    )
    r = with_watermark(r_renamed, f"{right_ts}_r", delay).alias("r")
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}_r"))
        & (F.col(f"r.{right_ts}_r") >= F.expr(f"l.{left_ts} - INTERVAL {within}"))
        & (F.col(f"r.{right_ts}_r") <= F.col(f"l.{left_ts}"))
    )
    return l.join(r, cond, how)


RUNNING_MAX_SCHEMA = "user_id bigint, running_max double, n_seen bigint"


def _running_max_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """ST6 kernel: arbitrary per-key state (running max + count)."""
    if state.exists:
        running_max, n_seen = state.get
    else:
        running_max, n_seen = float("-inf"), 0
    for pdf in pdfs:
        if len(pdf):
            running_max = max(running_max, float(pdf["value"].max()))
            n_seen += len(pdf)
    state.update((running_max, n_seen))
    yield pd.DataFrame(
        {"user_id": [key[0]], "running_max": [running_max], "n_seen": [n_seen]}
    )


def running_max_per_user(events: DataFrame) -> DataFrame:
    """ST6: applyInPandasWithState — custom stateful op the built-in
    aggregates can't express incrementally (emits per-batch snapshots).
    """
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _running_max_fn,
            outputStructType=RUNNING_MAX_SCHEMA,
            stateStructType="running_max double, n_seen bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _drain_pinned(spark, rows: DataFrame, n_files: int, tmp: str, sink) -> dict:
    """Shared body of the pinned streaming micro-benches.

    Writes ``rows`` as exactly ``n_files`` parquet files, streams them
    back one file per trigger (maxFilesPerTrigger=1) under
    Trigger.AvailableNow — the stream drains the fixed input and stops
    itself — through ``sink(src)``, a DataStreamWriter, and sums the
    non-empty triggers' progress. The batch structure is therefore
    identical run to run, and rows_per_sec = input rows /
    sum(triggerExecution) is comparable across runs.
    """
    in_dir = f"{tmp}/input"
    rows.repartition(n_files).write.mode("overwrite").parquet(in_dir)
    src = spark.readStream.schema(rows.schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    t0 = time.perf_counter()
    q = (
        sink(src)
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    wall_s = time.perf_counter() - t0
    input_rows = busy_ms = state_rows_max = batches = 0
    for p in q.recentProgress:
        r = p.get("numInputRows", 0) or 0
        if r == 0:
            continue  # empty triggers say nothing about throughput
        input_rows += r
        busy_ms += (p.get("durationMs") or {}).get("triggerExecution", 0) or 0
        batches += 1
        for so in p.get("stateOperators", []) or []:
            state_rows_max = max(state_rows_max, so.get("numRowsTotal", 0) or 0)
    return {
        "rows_per_sec": round(input_rows / (busy_ms / 1000.0), 1) if busy_ms else 0.0,
        "input_rows": input_rows,
        "batches": batches,
        "state_rows_max": state_rows_max,
        "wall_sec": round(wall_s, 3),
        "pinned": True,
    }


def pinned_stream_bench(
    spark,
    *,
    n_rows: int = 1_000_000,
    n_files: int = 5,
    n_keys: int = 100,
    rows_per_second: int = 200_000,
    window_width: str = "1 second",
    work_dir: str | None = None,
) -> dict:
    """Pinned-workload streaming micro-bench: watermarked tumbling agg
    at FIXED key cardinality -> foreachBatch upsert_parquet.

    The input is exactly ``n_rows`` rows with synthetic event times (a
    fixed epoch base + id/rows_per_second seconds — no wall clock
    anywhere), drained by ``_drain_pinned``. Returns throughput and the
    state-store size actually observed (from StreamingQueryProgress), so
    'state is bounded by keys x open windows, not input volume' is a
    measurement: state_rows_max stays O(n_keys * windows-in-watermark),
    and the upsert table is bounded the same way.
    """
    from laser_hadoop_spark.sources.sinks import upsert_parquet

    tmp = work_dir or tempfile.mkdtemp(prefix="lh_stream_bench_")
    base_dir = f"{tmp}/upsert_base"
    base_epoch = 1_700_000_000  # fixed — event time derives from row id only
    rows = spark.range(n_rows).select(
        (F.col("id") % n_keys).alias("key"),
        F.timestamp_seconds(
            F.lit(base_epoch) + F.col("id") / F.lit(float(rows_per_second))
        ).alias("ts"),
        (F.col("id") % 1000).cast("double").alias("value"),
    )

    def merge_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_parquet(spark, base_dir, batch_df, keys=["window_start", "key"])

    def sink(src: DataFrame):
        agg = (
            src.withWatermark("ts", "2 seconds")
            .groupBy(F.window("ts", window_width), "key")
            .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
            .select(
                F.col("window.start").alias("window_start"), "key", "n_events", "sum_value"
            )
        )
        return agg.writeStream.outputMode("update").foreachBatch(merge_batch)

    try:
        out = _drain_pinned(spark, rows, n_files, tmp, sink)
        table_rows = (
            spark.read.parquet(base_dir).count() if os.path.isdir(base_dir) else 0
        )
    finally:
        if work_dir is None:
            shutil.rmtree(tmp, ignore_errors=True)
    return {**out, "n_keys": n_keys, "upsert_table_rows": table_rows}


def pinned_tws_bench(
    spark,
    *,
    n_rows: int = 1_000_000,
    n_files: int = 5,
    n_keys: int = 100,
    work_dir: str | None = None,
) -> dict:
    """Pinned-workload bench for the Spark-4 typed-state streaming path.

    ``pinned_stream_bench`` covers the built-in windowed aggregate; this
    drives ST20's ``moments_stream_tws`` — transformWithStateInPandas on
    the RocksDB state store — through the SAME ``_drain_pinned``
    discipline, so the two rows/s numbers are comparable to each other:
    same input volume, same key cardinality, different state runtime
    (JVM HDFSBackedStateStore vs RocksDB + the typed-state server
    protocol).

    Values are exact micro-integers derived from the row id, so the
    per-key moments the processor folds are identical every run.
    """
    tmp = work_dir or tempfile.mkdtemp(prefix="lh_tws_bench_")
    rows = spark.range(n_rows).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
        (F.col("id") % n_keys).alias("user_id"),
        F.lit("click").alias("event_type"),
        ((F.col("id") % 997).cast("double") / 7.0).alias("value"),
    )

    def sink(src: DataFrame):
        return moments_stream_tws(src).writeStream.outputMode("update").format("noop")

    prior = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        out = _drain_pinned(spark, rows, n_files, tmp, sink)
    finally:
        if prior is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prior)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        if work_dir is None:
            shutil.rmtree(tmp, ignore_errors=True)
    return {**out, "n_keys": n_keys}


def start_upsert_sink(
    stream: DataFrame,
    spark,
    *,
    base_dir: str,
    keys: list[str],
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """ST9: foreachBatch upsert sink — streaming merge into a keyed store.

    Each micro-batch is merged into the parquet table by key
    (sources/sinks.upsert_parquet), so the table converges to
    latest-state-per-key — the streaming materialized-view pattern for
    dashboards/serving. foreachBatch gives the batch writer's full API
    inside streaming; with a checkpoint the sink is effectively-once:
    a replayed batch re-merges the same keys idempotently (the merge is
    deterministic per batch content, unlike blind appends).
    """
    from laser_hadoop_spark.sources.sinks import upsert_parquet

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_parquet(spark, base_dir, batch_df, keys=keys)

    writer = stream.writeStream.foreachBatch(merge_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# --- ST10: decayed counter (streaming EWMA, integer-exact) -------------------

DECAYED_SCHEMA = "user_id long, ewma_x32768 long, n_seen long"


def fold_decay(
    s: int | None, n: int, values: "list[int]"
) -> tuple[int | None, int]:
    """Pure fold for the alpha = 1/2 decayed counter, BIGINT-exact:
    with s = EWMA * 2^15, the recurrence ewma' = (ewma + v)/2 becomes
    s' = (s + (v << 15)) >> 1, initialized s = v << 15 on the first
    event. Truncating shifts keep everything integral (the streaming
    twin of the batch q_ewma, which uses closed-form powers-of-two
    weights over the last 16 events — same decay, this one never
    truncates history). Unit-tested directly for cross-batch state
    carry, independent of how the source batches rows.
    """
    for v in values:
        s = (v << 15) if s is None else (s + (v << 15)) >> 1
        n += 1
    return s, n


def _decayed_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    s, n = state.get if state.exists else (None, 0)
    if s is not None and s < 0:
        s = None  # -1 sentinel for "no events yet"
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks).sort_values(["t_us", "event_id"])
        v_centi = [int(v) for v in pdf["v_centi"]]
        s, n = fold_decay(s, n, v_centi)
    state.update((s if s is not None else -1, n))
    yield pd.DataFrame(
        {"user_id": [key[0]], "ewma_x32768": [s if s is not None else 0], "n_seen": [n]}
    )


def decayed_counter_per_user(events: DataFrame) -> DataFrame:
    """ST10: per-key exponentially decayed counter via
    applyInPandasWithState — the streaming form of q_ewma (X112).

    alpha = 1/2 keeps the whole recurrence in bigints (shift-and-add),
    so the emitted value is deterministic given arrival order: rows
    are folded in (event-time, event_id) order WITHIN each trigger,
    and state carries the scaled EWMA across triggers. State is two
    bigints per key — O(keys), never O(events); this is the decayed
    engagement/score counter every feature store keeps online.
    """
    prepped = events.select(
        "user_id",
        F.unix_micros("ts").alias("t_us"),
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v_centi"),
    )
    return prepped.groupBy("user_id").applyInPandasWithState(
        _decayed_fn,
        outputStructType=DECAYED_SCHEMA,
        stateStructType="s long, n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


DECAYED_TTL_SCHEMA = "user_id long, ewma_x32768 long, n_seen long, expired boolean"


def _set_event_time_timeout(state: GroupState, deadline_ms: int) -> None:
    """Event-time timeout at ``deadline_ms``. Spark rejects a timeout
    at-or-before the current watermark, so a key fed only late data
    expires at the next watermark advance instead."""
    state.setTimeoutTimestamp(max(deadline_ms, state.getCurrentWatermarkMs() + 1))


def _mk_decayed_ttl_fn(ttl_ms: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            s, n, _last = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "ewma_x32768": [s if s >= 0 else 0],
                    "n_seen": [n],
                    "expired": [True],
                }
            )
            return
        s, n, last_ms = state.get if state.exists else (None, 0, 0)
        if s is not None and s < 0:
            s = None
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(["t_us", "event_id"])
            s, n = fold_decay(s, n, [int(v) for v in pdf["v_centi"]])
            # max EVER seen, not the batch max: a later batch carrying
            # older (but above-watermark) events must never move the
            # TTL deadline EARLIER — the deadline contract is
            # "watermark passes the key's newest event + ttl"
            last_ms = max(last_ms, int(pdf["t_us"].max()) // 1000)
        state.update((s if s is not None else -1, n, last_ms))
        _set_event_time_timeout(state, last_ms + ttl_ms)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "ewma_x32768": [s if s is not None else 0],
                "n_seen": [n],
                "expired": [False],
            }
        )

    return fn


def decayed_counter_per_user_ttl(
    events: DataFrame, *, ttl: str = "1 hour", watermark: str = DEFAULT_WATERMARK
) -> DataFrame:
    """ST12: ST10 with per-key state TTL via EVENT-TIME timeout.

    At 100 TB/day the per-user key space churns: most keys go cold and
    never come back, and NoTimeout state grows without bound. This
    variant expires a key once the watermark passes its last event by
    ``ttl``: the timeout invocation emits one final snapshot row with
    ``expired = true`` (so downstream sinks can flush/tombstone the
    feature) and removes the state, bounding the store to ACTIVE keys.
    Event-time (not processing-time) timeout keeps the operator
    deterministic — replaying the same files through the same
    watermarks expires the same keys at the same batches, where a
    wall-clock TTL would depend on scheduler timing. Cites the
    reference's cache-eviction-free HashMap lookup
    (LASERInputCheckMapper.java:53-72) as the unbounded-state design
    this replaces.
    """
    ttl_ms = _duration_to_ms(ttl)
    prepped = events.select(
        "user_id",
        F.col("ts"),
        F.unix_micros("ts").alias("t_us"),
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v_centi"),
    ).withWatermark("ts", watermark)
    return prepped.groupBy("user_id").applyInPandasWithState(
        _mk_decayed_ttl_fn(ttl_ms),
        outputStructType=DECAYED_TTL_SCHEMA,
        stateStructType="s long, n long, last_ms long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _duration_to_ms(dur: str) -> int:
    """Parse the small interval grammar the streaming API uses
    ("90 seconds", "15 minutes", "1 hour") into milliseconds."""
    n, unit = dur.strip().split()
    unit = unit.rstrip("s")
    scale = {"millisecond": 1, "second": 1000, "minute": 60_000, "hour": 3_600_000}
    if unit not in scale:
        raise ValueError(f"unsupported TTL unit: {dur!r}")
    return int(n) * scale[unit]


# --- ST11: streaming heavy hitters (bucketed Misra-Gries state) --------------

HH_STATE_SCHEMA = "tokens array<string>, counts array<long>"
HH_OUT_SCHEMA = "bucket int, token string, min_count long"


def _mk_hh_fn(capacity: int):
    def hh_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            tokens, counts = state.get
            counters = dict(zip(list(tokens), [int(c) for c in counts]))
        else:
            counters = {}
        for pdf in pdfs:
            misra_gries_step(counters, pdf["token"], capacity)
        state.update((list(counters.keys()), list(counters.values())))
        yield pd.DataFrame(
            {
                "bucket": [key[0]] * len(counters),
                "token": list(counters.keys()),
                "min_count": list(counters.values()),
            }
        )

    return hh_fn


def heavy_hitters_stream(
    tokens: DataFrame, *, n_buckets: int = 16, capacity: int = 1024
) -> DataFrame:
    """ST11: streaming Misra-Gries heavy hitters — the online form of
    operators/sketches.heavy_hitters (X110).

    Tokens shard by hash bucket; each bucket's GroupState holds one
    Misra-Gries summary that persists ACROSS triggers, so the
    candidate set reflects the whole stream history, not one batch.
    Per-batch snapshots (update mode) emit each bucket's surviving
    tokens with their MG lower-bound counts. The union over buckets
    keeps the no-false-negative guarantee for any key with global
    frequency > n / capacity (pigeonhole over buckets, then the
    per-summary bound); an exact recount against the latest-state
    store turns candidates into exact counts, as in the batch
    operator. State is O(n_buckets * capacity) — constant in stream
    length.
    """
    bucketed = tokens.select(
        F.col("token"),
        (F.abs(F.xxhash64("token")) % n_buckets).cast("int").alias("bucket"),
    )
    return bucketed.groupBy("bucket").applyInPandasWithState(
        _mk_hh_fn(capacity),
        outputStructType=HH_OUT_SCHEMA,
        stateStructType=HH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


HH_TTL_OUT_SCHEMA = "bucket int, token string, min_count long, expired boolean"
HH_TTL_STATE_SCHEMA = "tokens array<string>, counts array<long>, last_ms long"


def _mk_hh_ttl_fn(capacity: int, ttl_ms: int):
    def hh_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            tokens, counts, _last = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "bucket": [key[0]] * len(tokens),
                    "token": list(tokens),
                    "min_count": [int(c) for c in counts],
                    "expired": [True] * len(tokens),
                }
            )
            return
        if state.exists:
            tokens, counts, last_ms = state.get
            counters = dict(zip(list(tokens), [int(c) for c in counts]))
            last_ms = int(last_ms)
        else:
            counters = {}
            last_ms = 0
        # max EVER seen (persisted), not the batch max — see ST12
        for pdf in pdfs:
            if not len(pdf):
                continue
            last_ms = max(last_ms, int(pdf["t_us"].max()) // 1000)
            misra_gries_step(counters, pdf["token"], capacity)
        state.update((list(counters.keys()), list(counters.values()), last_ms))
        _set_event_time_timeout(state, last_ms + ttl_ms)
        yield pd.DataFrame(
            {
                "bucket": [key[0]] * len(counters),
                "token": list(counters.keys()),
                "min_count": list(counters.values()),
                "expired": [False] * len(counters),
            }
        )

    return hh_fn


def heavy_hitters_stream_ttl(
    events: DataFrame,
    *,
    token_col: str = "event_type",
    n_buckets: int = 16,
    capacity: int = 1024,
    ttl: str = "1 hour",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """ST14: ST11's streaming Misra-Gries with event-time state TTL.

    A topic/token distribution drifts at 100 TB/day: buckets whose
    token population goes cold should not pin their MG summaries
    forever (ST11's NoTimeout state is constant-size per bucket but
    the CONTENT goes stale — an all-time summary, when the consumer
    usually wants "heavy over the active horizon"). This variant
    expires a bucket once the watermark passes its last token by
    ``ttl``: the timeout emits each surviving candidate with
    ``expired = true`` (the downstream exact-recount can flush the
    horizon's candidates before they vanish) and removes the summary,
    so a re-warming bucket starts a fresh horizon. Event-time timeout
    keeps replay deterministic, exactly as ST12 argues for ST10.
    """
    ttl_ms = _duration_to_ms(ttl)
    bucketed = events.select(
        F.col("ts"),
        F.unix_micros("ts").alias("t_us"),
        F.col(token_col).alias("token"),
        (F.abs(F.xxhash64(token_col)) % n_buckets).cast("int").alias("bucket"),
    ).withWatermark("ts", watermark)
    return bucketed.groupBy("bucket").applyInPandasWithState(
        _mk_hh_ttl_fn(capacity, ttl_ms),
        outputStructType=HH_TTL_OUT_SCHEMA,
        stateStructType=HH_TTL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# --- ST15: streaming KMV (bottom-k) distinct sketch ---------------------------

KMV_OUT_SCHEMA = "grp string, n_sketch int, kmv_est long"
KMV_STATE_SCHEMA = "hashes array<long>"
_KMV_SCALE = 1 << 48  # 48-bit hashes: (k-1)<<48 stays inside int64


def _mk_kmv_fn(k: int):
    def kmv_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        hashes = set(state.get[0]) if state.exists else set()
        for pdf in pdfs:
            hashes.update(int(h) for h in pdf["h"])
        # bottom-k merge: the sketch of a union is the k smallest of
        # the union of sketches — state stays O(k) across triggers
        kept = sorted(hashes)[:k]
        state.update((kept,))
        if len(kept) >= k:
            est = (k - 1) * _KMV_SCALE // kept[k - 1]
        else:
            est = len(kept)  # exact below the sketch threshold
        yield pd.DataFrame(
            {"grp": [key[0]], "n_sketch": [len(kept)], "kmv_est": [int(est)]}
        )

    return kmv_fn


def kmv_distinct_stream(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    group_col: str = "event_type",
    k: int = 64,
) -> DataFrame:
    """ST15: streaming distinct-count estimation via a KMV (bottom-k)
    sketch in GroupState — the online form of X216's
    q_kmv_distinct_audit, third streaming sketch alongside the decayed
    counter (ST10) and Misra-Gries (ST11).

    Per group, state holds the k smallest 48-bit md5 hashes of the
    keys seen so far (bottom-k union across triggers IS the sketch
    merge — order- and batching-invariant, so replay/at-least-once
    delivery cannot change the estimate); each trigger emits the
    group's current estimate (k-1)<<48 DIV h_k, or the exact count
    while fewer than k distinct hashes exist. State is O(k) longs per
    group — constant in stream length, the property that makes this
    viable at 100 TB/day key cardinalities where exact streaming
    COUNT(DISTINCT) state grows without bound.
    """
    hashed = events.select(
        F.col(group_col).alias("grp"),
        F.expr(
            f"CAST(conv(substring(md5(CAST({key_col} AS STRING)), 1, 12), "
            f"16, 10) AS BIGINT)"
        ).alias("h"),
    )
    return hashed.groupBy("grp").applyInPandasWithState(
        _mk_kmv_fn(k),
        outputStructType=KMV_OUT_SCHEMA,
        stateStructType=KMV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- ST16: streaming watermark-delay monitor ----------------------------------

WMD_OUT_SCHEMA = (
    "user_id long, n_events long, n_late long, max_delay_s long, "
    "watermark_rec_s long"
)
WMD_STATE_SCHEMA = "max_em long, n_events long, n_late long, max_delay_s long"


def _wmd_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    import numpy as np

    if state.exists:
        max_em, n_events, n_late, max_delay_s = state.get
    else:
        max_em, n_events, n_late, max_delay_s = -1, 0, 0, 0
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        pdf = pdf.sort_values("event_id")
        em = pdf["em"].to_numpy(dtype="int64")
        prev = np.maximum.accumulate(
            np.concatenate([np.array([max_em], dtype="int64"), em])
        )[:-1]
        delay_us = np.maximum(prev - em, 0)
        n_events += len(em)
        n_late += int((delay_us > 0).sum())
        max_delay_s = max(max_delay_s, int(delay_us.max()) // 1_000_000)
        max_em = max(max_em, int(em.max()))
    state.update((max_em, n_events, n_late, max_delay_s))
    rec = (1 << int(max_delay_s).bit_length()) if max_delay_s > 0 else 0
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n_events],
            "n_late": [n_late],
            "max_delay_s": [max_delay_s],
            "watermark_rec_s": [rec],
        }
    )


def watermark_delay_stream(
    events: DataFrame, *, user_col: str = "user_id"
) -> DataFrame:
    """ST16: streaming watermark-delay monitor — X231's online form.

    Per user, GroupState carries the running MAX event time plus
    lateness tallies; each incoming event's lateness = running max of
    previously-ARRIVED event times minus its own event time (arrival
    order = event_id within and across triggers, the same proxy X231
    audits in batch). Every trigger emits the user's cumulative event/
    late counts, max observed delay in whole seconds, and the
    power-of-two watermark recommendation 2^bitlength(max_delay) —
    the smallest withWatermark() delay in the X231 bucket scheme that
    would have lost nothing SO FAR. Running this next to a production
    job turns watermark sizing from a guess into a monitored number.

    State is 4 longs per user — constant in stream length; the
    arithmetic is vectorized numpy over each Arrow batch
    (running-max accumulate), no per-row Python in the hot path.
    Batching-invariant so long as arrival order follows event_id, the
    same determinism contract the batch audit uses.
    """
    timed = events.select(
        F.col(user_col).alias("user_id"),
        F.col("event_id"),
        F.unix_micros("ts").alias("em"),
    )
    return timed.groupBy("user_id").applyInPandasWithState(
        _wmd_fn,
        outputStructType=WMD_OUT_SCHEMA,
        stateStructType=WMD_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- ST17: streaming count-min sketch ----------------------------------------

CMS_D = 4  # hash rows (matches X206's audit geometry)
CMS_W = 256  # counters per row
CMS_OUT_SCHEMA = "grp string, probe long, est long, n_total long"
CMS_STATE_SCHEMA = "counters array<long>, n_total long"


def _cms_hash(i: int, k: int) -> int:
    """Row-i bucket for key k: md5('{i}|{k}') first 7 hex chars mod W —
    byte-identical to X206's batch audit so the streaming sketch can be
    checked against the same oracle arithmetic."""
    import hashlib

    h = hashlib.md5(f"{i}|{k}".encode()).hexdigest()[:7]
    return int(h, 16) % CMS_W


def _mk_cms_fn(probes: list[int]):
    def cms_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        if state.exists:
            counters = np.array(state.get[0], dtype="int64")
            n_total = state.get[1]
        else:
            counters = np.zeros(CMS_D * CMS_W, dtype="int64")
            n_total = 0
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            ks = pdf["k"].to_numpy(dtype="int64")
            n_total += len(ks)
            # vectorized md5 is not available; hash each DISTINCT key
            # once per row, then scatter-add the multiplicities
            uniq, counts = np.unique(ks, return_counts=True)
            for i in range(CMS_D):
                buckets = np.array(
                    [_cms_hash(i, int(k)) for k in uniq], dtype="int64"
                )
                np.add.at(counters, i * CMS_W + buckets, counts)
        state.update((counters.tolist(), int(n_total)))
        ests = [
            int(
                min(
                    counters[i * CMS_W + _cms_hash(i, p)]
                    for i in range(CMS_D)
                )
            )
            for p in probes
        ]
        yield pd.DataFrame(
            {
                "grp": [key[0]] * len(probes),
                "probe": probes,
                "est": ests,
                "n_total": [int(n_total)] * len(probes),
            }
        )

    return cms_fn


def countmin_stream(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    group_col: str = "event_type",
    probes: list[int] | None = None,
) -> DataFrame:
    """ST17: streaming count-min frequency sketch — X206's online form.

    Per group, GroupState holds the d x w counter matrix (1024 longs —
    CONSTANT in stream length and key cardinality, where an exact
    per-key count table grows with distinct keys). Counter increments
    are additive, so the sketch is batching/replay-invariant by
    construction: any partition of the same events into triggers
    yields the same matrix. Each trigger emits point-query estimates
    (min over the d rows — a deterministic one-sided OVERestimate,
    never under) for the caller's probe keys plus the group's total.

    Row hashes are byte-identical to the batch audit
    (q_countmin_audit), which pins the estimator's error profile
    against exact counts; this operator is the same arithmetic kept
    online. The fourth streaming sketch family next to ST10 (decay),
    ST11/ST14 (Misra-Gries), ST15 (KMV).
    """
    if probes is None:
        probes = list(range(8))
    keyed = events.select(
        F.col(group_col).alias("grp"), F.col(key_col).alias("k")
    )
    return keyed.groupBy("grp").applyInPandasWithState(
        _mk_cms_fn(probes),
        outputStructType=CMS_OUT_SCHEMA,
        stateStructType=CMS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- ST18: streaming funnel automaton ----------------------------------------

FUNNEL_OUT_SCHEMA = (
    "user_id long, stage int, n_stages int, completed int, n_events long"
)
FUNNEL_STATE_SCHEMA = "stage int, n_events long"


def _mk_funnel_fn(stages: list[str]):
    def funnel_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            stage, n_events = state.get
        else:
            stage, n_events = 0, 0
        k = len(stages)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values("event_id")
            n_events += len(pdf)
            if stage < k:
                # advance the subsequence automaton through this batch
                for et in pdf["event_type"]:
                    if et == stages[stage]:
                        stage += 1
                        if stage == k:
                            break
        state.update((int(stage), int(n_events)))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "stage": [int(stage)],
                "n_stages": [k],
                "completed": [1 if stage == k else 0],
                "n_events": [int(n_events)],
            }
        )

    return funnel_fn


def funnel_stream(
    events: DataFrame,
    *,
    stages: list[str] | None = None,
    user_col: str = "user_id",
) -> DataFrame:
    """ST18: streaming funnel as a per-user subsequence automaton —
    X260's gapped sequence match kept online.

    Per user, GroupState holds ONE integer: the index of the next
    funnel stage to match (plus an event tally). Each arriving event
    either advances the automaton or is ignored — the entire funnel
    membership question ('did view..click..purchase happen in order,
    gaps allowed?') costs O(1) state per user and O(batch) time per
    trigger, where the batch form re-scans the user's whole history
    every run. Emits the user's current stage and completion flag per
    trigger; completion is monotone, so downstream consumers can act
    on the first completed=1 row.

    Arrival order follows event_id within and across triggers (the
    same determinism contract ST16 and the batch X260 use), so the
    result is batching-invariant: the automaton state after any
    partition of the same ordered events is identical.
    """
    if stages is None:
        stages = ["view", "click", "purchase"]
    keyed = events.select(
        F.col(user_col).alias("user_id"), F.col("event_id"), F.col("event_type")
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        _mk_funnel_fn(stages),
        outputStructType=FUNNEL_OUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- ST19: streaming sessionization (closed-session emission) ----------------

SESSION_OUT_SCHEMA = (
    "user_id long, start_us long, end_us long, n_events long, dur_us long"
)
SESSION_STATE_SCHEMA = "start_us long, last_us long, n long"


def _mk_sessionize_fn(gap_ms: int):
    gap_us = gap_ms * 1000

    def _row(key, start_us, last_us, n):
        return {
            "user_id": [key[0]],
            "start_us": [int(start_us)],
            "end_us": [int(last_us)],
            "n_events": [int(n)],
            "dur_us": [int(last_us - start_us)],
        }

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame(_row(key, start_us, last_us, n))
            return
        start_us, last_us, n = state.get if state.exists else (None, None, 0)
        closed: list[dict] = []
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(["t_us", "event_id"])
            for t in (int(t) for t in pdf["t_us"]):
                if start_us is None:
                    start_us, last_us, n = t, t, 1
                elif t - last_us > gap_us:
                    closed.append(_row(key, start_us, last_us, n))
                    start_us, last_us, n = t, t, 1
                else:
                    # out-of-order events above the watermark merge into
                    # the open session (t <= last_us leaves it unmoved)
                    last_us, n = max(last_us, t), n + 1
        state.update((start_us, last_us, n))
        # the open session closes when the watermark passes its last
        # event by the gap
        _set_event_time_timeout(state, last_us // 1000 + gap_ms)
        for r in closed:
            yield pd.DataFrame(r)

    return fn


def sessionize_stream(
    events: DataFrame,
    *,
    gap: str = "30 minutes",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """ST19: streaming sessionization emitting CLOSED sessions exactly
    once — the online twin of X22/X272's batch lag/cumsum idiom.

    Per user, GroupState holds only the OPEN session (start, last
    event, count). Within a trigger, a gap between consecutive events
    closes a session immediately; across triggers the event-time
    timeout closes it once the watermark passes its last event by the
    gap — so emission is exactly-once per session and deterministic on
    replay (event-time deadlines, not wall clock). State is O(active
    users), never O(events): the 100 TB contract that batch
    sessionization (rescanning the day's events each run) can't give a
    live dashboard. Out-of-order events above the watermark merge into
    the open session; below-watermark stragglers are dropped by the
    watermark filter upstream, the same bound session_window uses
    (ST3). Built on applyInPandasWithState because session_window's
    native streaming aggregation emits (window, agg) rows — this
    variant needs the census row shape (start/end/duration/count) with
    a one-row-per-closed-session contract downstream upsert sinks
    (ST9) consume directly.
    """
    gap_ms = _duration_to_ms(gap)
    prepped = events.select(
        "user_id",
        F.col("ts"),
        F.unix_micros("ts").alias("t_us"),
        "event_id",
    ).withWatermark("ts", watermark)
    return prepped.groupBy("user_id").applyInPandasWithState(
        _mk_sessionize_fn(gap_ms),
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# --- ST20: online moments via transformWithStateInPandas (Spark 4) -----------

MOMENTS_OUT_SCHEMA = (
    "user_id long, n long, s_micro long, q_micro2 string,"
    " mean_micro long, batch_outliers long"
)


def fold_moments(
    n: int, s: int, q: int, vals: list[int]
) -> tuple[int, int, int]:
    """Pure fold for ST20's state: running (count, sum, sum-of-squares)
    in exact Python bigints (q outgrows int64 in micro^2 units)."""
    for v in vals:
        n, s, q = n + 1, s + v, q + v * v
    return n, s, q


def count_3sigma_outliers(vals: list[int], n: int, s: int, q: int) -> int:
    """X75's exact cross-multiplied integer 3-sigma test, applied to a
    batch of values against moments (n, s, q): outlier iff
    (n-1)*(v*n - s)^2 > 9*n*(q*n - s^2). No sqrt, no floats."""
    if n < 2:
        return 0
    var_num = q * n - s * s
    out = 0
    for v in vals:
        d = v * n - s
        if (n - 1) * d * d > 9 * n * var_num:
            out += 1
    return out


def _moments_processor_cls():
    """Deferred import wrapper: transformWithStateInPandas ships with
    Spark 4 but its runtime additionally requires the `protobuf`
    python package (the state-server protocol) — importing lazily
    keeps this module loadable and every other operator usable when
    that dependency is absent; moments_stream_tws raises cleanly at
    call time instead (the SFTP optional-paramiko precedent,
    sources/sftp.py:82)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class MomentsProcessor(StatefulProcessor):
        """Per-key running (n, sum, sum-of-squares) in exact integers,
        plus a per-trigger 3-sigma outlier census (X75's integer
        cross-multiplied test) against the post-batch moments."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            # q (sum of squared micro values) outgrows int64 — the
            # state column stores its decimal string; arithmetic runs
            # in Python bigints
            self._mom = handle.getValueState(
                "mom", "n long, s long, q string"
            )

        def handleInputRows(self, key, rows, timerValues):
            prior = self._mom.get() if self._mom.exists() else None
            n, s, q = (
                (int(prior[0]), int(prior[1]), int(prior[2]))
                if prior
                else (0, 0, 0)
            )
            vals: list[int] = []
            for pdf in rows:
                if len(pdf):
                    pdf = pdf.sort_values("event_id")
                    vals.extend(int(v) for v in pdf["v_micro"])
            n, s, q = fold_moments(n, s, q, vals)
            self._mom.update((n, s, str(q)))
            outliers = count_3sigma_outliers(vals, n, s, q)
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n": [n],
                    "s_micro": [s],
                    "q_micro2": [str(q)],
                    "mean_micro": [s // n if n else 0],
                    "batch_outliers": [outliers],
                }
            )

        def close(self) -> None:
            pass

    return MomentsProcessor


def moments_stream_tws(events: DataFrame) -> DataFrame:
    """ST20: per-user online moments + 3-sigma census on Spark 4's
    transformWithStateInPandas (the typed-state successor of
    applyInPandasWithState used by ST10-ST19).

    State is ONE ValueState tuple (n, sum, sum-of-squares) per user —
    moments are additive, so the cumulative snapshot is
    batching/replay-invariant by construction (the pytest replays the
    same rows as one file and as three and asserts identical finals).
    Each trigger also reports how many of ITS events sit outside 3
    sigma of the post-batch distribution, using X75's exact
    cross-multiplied integer test — no sqrt, no floats; sum-of-squares
    rides as a decimal string because micro^2 magnitudes outgrow the
    state schema's int64.

    Requires the RocksDB state store provider (Spark 4 requirement for
    transformWithState); the caller sets
    spark.sql.streaming.stateStore.providerClass accordingly.
    """
    prepped = events.select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("v_micro"),
    )
    return prepped.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_moments_processor_cls()(),
        outputStructType=MOMENTS_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


# --- ST21: streaming log2-histogram quantiles --------------------------------

L2Q_BUCKETS = 64
L2Q_OUT_SCHEMA = "grp string, pct int, bucket int, est_lo long, est_hi long, n_total long"
L2Q_STATE_SCHEMA = "counts array<long>, n_total long"


def _l2q_bucket(v: int) -> int:
    """X167's powers-of-2 bucket: 0 for v <= 0, else floor(log2 v)+1
    capped at 63 — byte-identical arithmetic to the batch histogram so
    the streaming sketch shares its oracle-audited bucketing."""
    if v <= 0:
        return 0
    return min(L2Q_BUCKETS - 1, v.bit_length())


def _mk_l2q_fn(pcts: list[int]):
    def l2q_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        if state.exists:
            counts = np.array(state.get[0], dtype="int64")
            n_total = state.get[1]
        else:
            counts = np.zeros(L2Q_BUCKETS, dtype="int64")
            n_total = 0
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            vs = pdf["v"].to_numpy(dtype="int64")
            n_total += len(vs)
            bks = np.array([_l2q_bucket(int(v)) for v in vs], dtype="int64")
            np.add.at(counts, bks, 1)
        state.update((counts.tolist(), int(n_total)))
        cum = np.cumsum(counts)
        out = {"grp": [], "pct": [], "bucket": [], "est_lo": [], "est_hi": [], "n_total": []}
        for pct in pcts:
            k = (n_total * pct + 99) // 100  # ceil rank
            b = int(np.searchsorted(cum, max(k, 1)))
            out["grp"].append(key[0])
            out["pct"].append(pct)
            out["bucket"].append(b)
            out["est_lo"].append(0 if b == 0 else 1 << (b - 1))
            out["est_hi"].append(0 if b == 0 else (1 << b) - 1)
            out["n_total"].append(int(n_total))
        yield pd.DataFrame(out)

    return l2q_fn


def log2_quantile_stream(
    events: DataFrame,
    *,
    value_col: str = "value",
    group_col: str = "event_type",
    pcts: list[int] | None = None,
) -> DataFrame:
    """ST21: streaming quantile estimates from an additive log2
    histogram — X167's batch histogram kept online.

    Per group, GroupState holds 64 bucket counters (CONSTANT in both
    stream length and value cardinality). Counter increments are
    additive, so the state is batching/replay-invariant by
    construction — any partition of the same events into triggers
    yields the same histogram (the pytest replays one-file vs
    three-file and asserts identical finals). Each trigger emits, per
    requested percentile, the bucket where the ceil-rank cumulative
    crosses plus the bucket's [2^(b-1), 2^b) value bracket — a
    DETERMINISTIC 2x-bracket guarantee (the exact quantile provably
    lies inside), which is the honest contract a constant-space
    quantile sketch can make. The fifth streaming sketch family next
    to ST10 (decay), ST11/ST14 (Misra-Gries), ST15 (KMV), ST17 (CMS).

    Values quantize to cents like every money path (X167's bucketing,
    byte-identical, so the batch oracle audits this arithmetic).
    """
    if pcts is None:
        pcts = [50, 90, 99]
    keyed = events.select(
        F.col(group_col).alias("grp"),
        F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    return keyed.groupBy("grp").applyInPandasWithState(
        _mk_l2q_fn(pcts),
        outputStructType=L2Q_OUT_SCHEMA,
        stateStructType=L2Q_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- ST22: streaming Page-Hinkley drift detector -----------------------------

PH_OUT_SCHEMA = (
    "user_id long, n_seen long, ph_gap_centi long, max_gap_centi long, "
    "alarmed boolean"
)
PH_STATE_SCHEMA = "n long, s long, m long, mmin long, maxgap long"


def fold_page_hinkley(
    state: tuple[int, int, int, int, int] | None,
    values: "list[int]",
    delta: int,
) -> tuple[int, int, int, int, int]:
    """Pure Page-Hinkley fold, BIGINT-exact — the streaming twin of
    the batch q_page_hinkley (X268), value-identical arithmetic:
    running mean as truncating DIV over nonnegative sums, deviation
    dv = v - s//n - delta, cumulative m, running min, and the max gap
    the detector would alarm on. Additive per event in arrival order;
    unit-tested for cross-batch state carry.
    """
    n, s, m, mmin, maxgap = state if state is not None else (0, 0, 0, 0, 0)
    for v in values:
        n += 1
        s += v
        m += v - s // n - delta
        if n == 1 or m < mmin:
            mmin = m
        if m - mmin > maxgap:
            maxgap = m - mmin
    return n, s, m, mmin, maxgap


def _mk_ph_fn(delta: int, lam: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        st = state.get if state.exists else None
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(["t_us", "event_id"])
            st = fold_page_hinkley(
                st, [int(v) for v in pdf["v_centi"]], delta
            )
        if st is None:
            st = (0, 0, 0, 0, 0)
        state.update(st)
        n, s, m, mmin, maxgap = st
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_seen": [n],
                "ph_gap_centi": [m - mmin],
                "max_gap_centi": [maxgap],
                "alarmed": [maxgap > lam],
            }
        )

    return fn


def page_hinkley_stream(
    events: DataFrame, delta_centi: int = 5_000, lambda_centi: int = 100_000
) -> DataFrame:
    """ST22: per-key streaming Page-Hinkley mean-shift detector via
    applyInPandasWithState — X268's sequential drift test actually
    run SEQUENTIALLY, per user, as the online monitor it was designed
    to be (the batch query replays the whole trace; this one carries
    (n, sum, m, min m, max gap) — five bigints of O(keys) state — and
    alarms the trigger the cumulative deviation climbs lambda above
    its own running minimum).

    Rows fold in (event-time, event_id) order within each trigger,
    and the fold is the SAME truncating-DIV integer arithmetic as the
    batch oracle, so a replayed stream reproduces the batch trace
    bit-for-bit. Emits the current and max gap plus the alarm flag in
    update mode — the drift page a model monitor tails.
    """
    prepped = events.select(
        "user_id",
        F.unix_micros("ts").alias("t_us"),
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v_centi"),
    )
    return prepped.groupBy("user_id").applyInPandasWithState(
        _mk_ph_fn(delta_centi, lambda_centi),
        outputStructType=PH_OUT_SCHEMA,
        stateStructType=PH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- ST23: streaming HyperLogLog register fold ---------------------------------

HLLS_REGS = 64
HLLS_RHO_CAP = 49
HLLS_OUT_SCHEMA = "grp string, hll_est long, n_events long, regs array<int>"
HLLS_STATE_SCHEMA = "regs array<int>, n_events long"
# spelling must stay byte-identical to q_hll_audit's (round6a) so the
# streaming registers equal the batch audit's for the same values —
# tests/test_streaming.py cross-checks them against an independent
# hashlib recomputation
_HLLS_REG_EXPR = (
    "CAST(conv(substring(md5(k), 1, 15), 16, 10) AS BIGINT) % 64"
)
_HLLS_RHO_EXPR = (
    "LEAST(4 * length(regexp_extract(substring(md5(k), 17, 12), '^(0*)', 1))"
    " + (CASE substring(substring(md5(k), 17, 12),"
    "          length(regexp_extract(substring(md5(k), 17, 12), '^(0*)', 1)) + 1, 1)"
    "    WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2"
    "    WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1"
    "    WHEN '' THEN 0 ELSE 0 END) + 1, 49)"
)


def hll_estimate(regs: list[int]) -> int:
    """Raw HLL estimate from 64 registers, exact integer arithmetic —
    the same alpha_64*m^2*2^50 // (1000*sum 2^(50-m)) formula as the
    q_hll_audit oracle (Python ints never overflow, mirroring the
    HUGEINT/DECIMAL38 spellings there)."""
    ssum = sum(1 << (50 - m) for m in regs)
    return (709 * HLLS_REGS * HLLS_REGS * (1 << 50)) // (1000 * ssum)


def _hlls_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        regs, n_events = list(state.get[0]), state.get[1]
    else:
        regs, n_events = [0] * HLLS_REGS, 0
    for pdf in pdfs:
        n_events += len(pdf)
        for r, rho in zip(pdf["reg"], pdf["rho"]):
            r = int(r)
            if rho > regs[r]:
                regs[r] = int(rho)
    state.update((regs, int(n_events)))
    yield pd.DataFrame(
        {
            "grp": [key[0]],
            "hll_est": [hll_estimate(regs)],
            "n_events": [int(n_events)],
            "regs": [regs],
        }
    )


def hll_distinct_stream(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    group_col: str = "event_type",
) -> DataFrame:
    """ST23: streaming distinct-count via HyperLogLog registers in
    GroupState — the online form of X349's q_hll_audit, and the fifth
    streaming sketch family (ST10 decay, ST11/ST14 Misra-Gries, ST15
    KMV, ST17 count-min).

    Per group, state is the 64-register array; folding an event is
    regs[j] = max(regs[j], rho) — max is commutative, associative and
    IDEMPOTENT, so the sketch is batching-, replay- AND duplicate-
    invariant by construction (strictly stronger than ST15's KMV,
    whose bottom-k union is merely batching-invariant: at-least-once
    delivery of a NEW key can evict nothing here). Register/rho
    arithmetic happens JVM-side with the exact q_hll_audit spelling;
    each trigger emits the current exact-integer estimate, so the
    streaming trace and a batch audit over the same prefix agree
    register-for-register — verified in pytest against an independent
    hashlib recomputation.

    100 TB: state is CONSTANT (64 ints) per group regardless of key
    cardinality; two HLL tables merge by element-wise MAX, so
    per-partition sketches roll up without reshuffling raw keys.
    """
    prepped = events.select(
        F.col(group_col).alias("grp"),
        F.col(key_col).cast("string").alias("k"),
    ).select(
        "grp",
        F.expr(_HLLS_REG_EXPR).cast("int").alias("reg"),
        F.expr(_HLLS_RHO_EXPR).cast("int").alias("rho"),
    )
    return prepped.groupBy("grp").applyInPandasWithState(
        _hlls_fn,
        outputStructType=HLLS_OUT_SCHEMA,
        stateStructType=HLLS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- ST24: streaming Bloom-filter duplicate screen -----------------------------

BLOOM_M = 1024  # bits (16 longs of state)
BLOOM_K = 7     # optimal for ~1% FPR at n ~ m/9.6 (q_bloom_advisor's math)
BLOOM_OUT_SCHEMA = (
    "grp string, n_events long, n_probable_dups long, bits_set int, "
    "fp_rate_micro long"
)
BLOOM_STATE_SCHEMA = "words array<long>, n_events long, n_dups long"


def bloom_fold(words: list[int], positions: list[list[int]]) -> tuple:
    """Fold per-event bit-position lists into the bitset; returns the
    updated words plus how many events were PROBABLY duplicates (all k
    bits already set before their own insert). Pure function — the
    unit tests drive it directly; insertion is bitwise OR, so the
    final bitset is batching/replay/duplicate-invariant (the dup
    COUNT additionally needs the ST16 arrival-order contract, since
    'already seen' depends on fold order)."""
    dups = 0
    for pos in positions:
        seen = all(words[p >> 6] & (1 << (p & 63)) for p in pos)
        if seen:
            dups += 1
        else:
            for p in pos:
                words[p >> 6] |= 1 << (p & 63)
    return words, dups


def bloom_fp_rate_micro(words: list[int], k: int = BLOOM_K) -> int:
    """Current false-positive estimate (bits_set/m)^k, micro-rounded —
    the live counterpart of q_bloom_advisor's design-time target."""
    bits = sum(bin(w & 0xFFFFFFFFFFFFFFFF).count("1") for w in words)
    return round(1000000 * (bits / BLOOM_M) ** k)


def _bloom_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        words, n_events, n_dups = (
            list(state.get[0]),
            state.get[1],
            state.get[2],
        )
    else:
        words, n_events, n_dups = [0] * (BLOOM_M // 64), 0, 0
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        pdf = pdf.sort_values("event_id")  # ST16 determinism contract
        n_events += len(pdf)
        positions = [
            [int(pdf[f"p{i}"].iloc[r]) for i in range(BLOOM_K)]
            for r in range(len(pdf))
        ]
        words, d = bloom_fold(words, positions)
        n_dups += d
    state.update((words, int(n_events), int(n_dups)))
    bits = sum(bin(w & 0xFFFFFFFFFFFFFFFF).count("1") for w in words)
    yield pd.DataFrame(
        {
            "grp": [key[0]],
            "n_events": [int(n_events)],
            "n_probable_dups": [int(n_dups)],
            "bits_set": [int(bits)],
            "fp_rate_micro": [bloom_fp_rate_micro(words)],
        }
    )


def bloom_dedup_stream(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    group_col: str = "event_type",
) -> DataFrame:
    """ST24: streaming Bloom-filter duplicate screen — the online
    consumer of X368's sizing math (m=1024, k=7 here) and the sixth
    streaming sketch family (decay, Misra-Gries, KMV, count-min, HLL).

    Per group, state is the m-bit filter as 16 longs; insertion is
    bitwise OR, so the FILTER is batching-, replay- and duplicate-
    invariant by construction (ST23's idempotent-fold argument). Each
    trigger reports cumulative events, probable duplicates (all-k-bits
    pre-set — never a false negative, FP rate self-reported live as
    (bits/m)^k against the advisor's design target), bits set, and
    the live FP estimate. Contrast ST3's exact dropDuplicates: that
    state grows with distinct keys; this is CONSTANT — the trade a
    100 TB/day dedup inlet makes, with the FP column saying exactly
    what the trade costs right now.

    Bit positions are md5-derived JVM-side (the engine-neutral idiom),
    one digest split into seven OVERLAPPING 8-hex (32-bit) windows at stride 4 (documented partial dependence — a screen, not a proof) — Python only
    folds precomputed integers.
    """
    pos_cols = [
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("bl|"), F.col(key_col).cast("string"))),
                    1 + 4 * i,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % BLOOM_M
        )
        .cast("int")
        .alias(f"p{i}")
        for i in range(BLOOM_K)
    ]
    prepped = events.select(
        F.col(group_col).alias("grp"), "event_id", *pos_cols
    )
    return prepped.groupBy("grp").applyInPandasWithState(
        _bloom_fn,
        outputStructType=BLOOM_OUT_SCHEMA,
        stateStructType=BLOOM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
