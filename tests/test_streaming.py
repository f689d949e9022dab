"""Streaming tests ST1-ST24 (SURVEY.md §2.9): file-source streams with
availableNow triggers into memory sinks — deterministic, no timing races.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from laser_hadoop_spark.streaming import ops

EVENTS_DDL = "event_id long, ts timestamp, user_id long, event_type string, value double"


@pytest.fixture()
def stream_dir(spark, tmp_path):
    """Write two event files (the second contains a late row) and return
    the directory a file-source stream reads."""
    rows1 = [
        (1, "2024-01-01 10:05:00", 1, "click", 1.0),
        (2, "2024-01-01 10:20:00", 1, "click", 2.0),
        (3, "2024-01-01 11:10:00", 2, "view", 3.0),
        (4, "2024-01-01 12:00:00", 1, "click", 4.0),
    ]
    rows2 = [
        (5, "2024-01-01 12:05:00", 2, "click", 5.0),
        # late: event-time far behind the watermark set by event 4/5
        (6, "2024-01-01 09:00:00", 1, "click", 6.0),
        # duplicate event_id within watermark
        (4, "2024-01-01 12:00:30", 1, "click", 4.0),
    ]
    d = tmp_path / "in"
    d.mkdir()
    for i, rows in enumerate([rows1, rows2]):
        df = spark.createDataFrame(rows, "event_id long, ts string, user_id long, event_type string, value double")
        df.withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.mode(
            "append"
        ).parquet(str(d))
    return str(d)


def _run(spark, sdf, name, mode="append"):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"select * from {name}")


def _read_stream(spark, stream_dir):
    return spark.readStream.schema(EVENTS_DDL).parquet(stream_dir)


def _write_batches(spark, d, batches) -> None:
    """Append each batch of event rows (``ts`` as a string) to ``d`` as
    one parquet file, with mtimes in batch order, so a stream read with
    maxFilesPerTrigger=1 folds one batch per trigger."""
    seen: set[str] = set()
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            rows, "event_id long, ts string, user_id long, event_type string, value double"
        ).withColumn("ts", F.to_timestamp("ts"))
        df.coalesce(1).write.mode("append").parquet(str(d))
        t = time.time() - 100 + i * 10  # distinct mtimes: batch order
        for f in os.listdir(d):
            p = os.path.join(str(d), f)
            if f.endswith(".parquet") and p not in seen:
                seen.add(p)
                os.utime(p, (t, t))


def test_tumbling_with_watermark_streaming(spark, tmp_path):
    """ST1+ST4 across a restart: append mode emits only watermark-passed
    windows, and a late row arriving after its window closed is dropped."""
    d = tmp_path / "in2"
    d.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def write(rows, fname):
        df = spark.createDataFrame(
            rows, "event_id long, ts string, user_id long, event_type string, value double"
        ).withColumn("ts", F.to_timestamp("ts"))
        df.coalesce(1).write.mode("append").parquet(str(d))

    write(
        [
            (1, "2024-01-01 10:05:00", 1, "click", 1.0),
            (2, "2024-01-01 10:20:00", 1, "click", 2.0),
            (3, "2024-01-01 12:00:00", 1, "click", 4.0),
        ],
        "f1",
    )

    out_dir = str(tmp_path / "out")

    def run():
        q = (
            ops.tumbling_counts(_read_stream(spark, str(d)), delay="10 minutes")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out_dir).collect()

    run_a = run()
    # watermark 12:00-10min=11:50 passed the 10:00-11:00 window -> emitted
    got_a = {(r["window_start"].hour, r["event_type"]): r["n_events"] for r in run_a}
    assert got_a == {(10, "click"): 2}

    # second batch: one in-order row + one row far behind the watermark
    write(
        [
            (4, "2024-01-01 12:05:00", 1, "click", 5.0),
            (5, "2024-01-01 09:00:00", 1, "click", 6.0),  # late -> dropped
        ],
        "f2",
    )
    run_b = run()
    # the 09:00 window closed in run A; the late row must NOT resurrect
    # it, and no new window has passed the watermark (11:55) -> the sink
    # still holds exactly run A's rows
    assert all(r["window_start"].hour != 9 for r in run_b)
    assert len(run_b) == len(run_a)


def test_session_window_streaming(spark, stream_dir):
    out = _run(
        spark,
        ops.session_counts(_read_stream(spark, stream_dir), gap="30 minutes"),
        "t_session",
    )
    rows = out.collect()
    u1 = [r for r in rows if r["user_id"] == 1]
    # Append mode emits only sessions the watermark closed. One
    # availableNow batch ingests all 7 rows (watermark starts at 0, so
    # the 09:00 row is NOT late here); final watermark = 12:05 - 10min
    # = 11:55, which closes user 1's 09:00 session (1 event) and the
    # merged 10:05+10:20 session (2 events) but leaves the 12:00+12:00:30
    # session open in state — correct append semantics: it never emits.
    assert sum(r["n_events"] for r in u1) == 3
    merged = [r for r in u1 if r["n_events"] == 2]
    assert merged, "10:05/10:20 should merge into one session"
    assert all(r["session_start"].hour < 12 for r in u1), "open session must not emit"


def test_stream_dedup(spark, stream_dir):
    deduped = ops.stream_dedup(
        _read_stream(spark, stream_dir), ["event_id"], delay="1 hour"
    )
    out = _run(spark, deduped, "t_dedup")
    ids = [r["event_id"] for r in out.collect()]
    assert len(ids) == len(set(ids))
    assert ids.count(4) == 1  # duplicate arrival suppressed


def test_stream_static_enrich(spark, stream_dir):
    dims = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id long, tier string"
    )
    out = _run(
        spark,
        ops.enrich_with_static(_read_stream(spark, stream_dir), dims, on=["user_id"]),
        "t_enrich",
    )
    tiers = {r["event_id"]: r["tier"] for r in out.collect()}
    assert tiers[1] == "gold" and tiers[3] == "silver"


def test_applyinpandas_with_state(spark, stream_dir):
    out = _run(
        spark,
        ops.running_max_per_user(_read_stream(spark, stream_dir)),
        "t_state",
        mode="update",
    )
    rows = out.collect()
    final = {}
    for r in rows:  # last snapshot per user wins
        final[r["user_id"]] = (r["running_max"], r["n_seen"])
    assert final[1][0] == 6.0  # max across batches incl late row
    assert final[1][1] >= 5
    assert final[2][0] == 5.0


def test_sliding_counts_streaming(spark, stream_dir):
    out = _run(
        spark,
        ops.sliding_counts(_read_stream(spark, stream_dir), width="1 hour", slide="15 minutes"),
        "t_sliding",
    )
    rows = out.collect()
    assert rows, "sliding windows should emit"
    # Append mode emits only windows closed by the final watermark
    # (11:55): every event touches 4 overlapping 1h/15min windows, but
    # only those with window.end <= 11:55 flush — 4 each for the 09:00,
    # 10:05, 10:20 events, 3 for 11:10, none for the 12:00+ events.
    assert sum(r["n_events"] for r in rows) == 15
    assert all(r["window_start"].hour < 11 for r in rows)


def test_stream_stream_interval_join(spark, stream_dir):
    clicks = _read_stream(spark, stream_dir).where(F.col("event_type") == "click")
    views = _read_stream(spark, stream_dir).where(F.col("event_type") == "view")
    joined = ops.stream_stream_join(
        clicks, views, on="user_id", within="2 hours", delay="10 minutes"
    )
    out = _run(spark, joined, "t_ss_join")
    rows = out.collect()
    # view (user 2, 11:10) pairs with user 2's click at 12:05 (within 2h,
    # view precedes click); user 1 has no views -> no rows for user 1
    assert rows, "interval join should emit at least one match"
    assert {r["user_id"] for r in rows} == {2}
    for r in rows:
        assert r["ts_r"] <= r["ts"]
        assert r["event_id"] == 5 and r["event_id_r"] == 3


def test_foreach_batch_upsert_sink(spark, stream_dir, tmp_path):
    """ST9: foreachBatch merge — the store converges to latest value per
    key across micro-batches, and a second (idempotent) run of the same
    input leaves it unchanged."""
    store = str(tmp_path / "store")
    ck = str(tmp_path / "ck")
    latest = _read_stream(spark, stream_dir).select(
        "event_id", "ts", "user_id", "value"
    )
    q = ops.start_upsert_sink(
        latest, spark, base_dir=store, keys=["event_id"], checkpoint_dir=ck
    )
    q.awaitTermination(120)
    got = spark.read.parquet(store)
    assert got.count() == 6  # event_ids 1..6; the duplicate id 4 merged
    assert got.where(F.col("event_id") == 4).count() == 1
    # re-run over the same input with a fresh checkpoint: same store state
    q2 = ops.start_upsert_sink(
        _read_stream(spark, stream_dir).select("event_id", "ts", "user_id", "value"),
        spark, base_dir=store, keys=["event_id"],
        checkpoint_dir=str(tmp_path / "ck2"),
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(store).count() == 6


def test_pinned_stream_bench_deterministic_workload(spark, tmp_path):
    """bench.py's streaming block: the pinned variant must consume
    exactly n_rows in exactly n_files batches (comparable across
    runs), keep state bounded by keys x open windows, and upsert a
    key-bounded table."""
    m = ops.pinned_stream_bench(
        spark,
        n_rows=50_000,
        n_files=4,
        n_keys=20,
        rows_per_second=100_000,
        work_dir=str(tmp_path / "bench"),
    )
    assert m["input_rows"] == 50_000
    assert m["batches"] == 4
    assert m["rows_per_sec"] > 0
    # 50k rows at 100k rows/s of event time = 0.5s of event time ->
    # exactly 1 open 1s window; upsert table holds n_keys rows
    assert 0 < m["state_rows_max"] <= 20 * 40
    assert m["upsert_table_rows"] == 20
    # workload is pinned: a second run sees the identical input shape
    m2 = ops.pinned_stream_bench(
        spark,
        n_rows=50_000,
        n_files=4,
        n_keys=20,
        rows_per_second=100_000,
        work_dir=str(tmp_path / "bench2"),
    )
    assert (m2["input_rows"], m2["batches"]) == (m["input_rows"], m["batches"])


def test_decayed_counter_fold_is_exact_and_batch_invariant():
    """ST10 kernel: the integer fold matches the rational alpha=1/2
    EWMA (up to the truncating shift), and splitting the same value
    sequence across state-carrying calls gives identical results."""
    from laser_hadoop_spark.streaming.ops import fold_decay

    vals = [100, 250, 7, 9999, 42]
    s_all, n_all = fold_decay(None, 0, vals)
    s1, n1 = fold_decay(None, 0, vals[:2])
    s2, n2 = fold_decay(s1, n1, vals[2:])
    assert (s2, n2) == (s_all, n_all)
    # reference: exact rational EWMA scaled by 2^15 with per-step floor
    ref = None
    for v in vals:
        ref = (v << 15) if ref is None else (ref + (v << 15)) >> 1
    assert s_all == ref and n_all == 5


def test_decayed_counter_streaming(spark, stream_dir):
    """ST10 end-to-end: per-user decayed counter over the file stream;
    final snapshot equals the pure fold over (ts, event_id)-ordered
    arrivals (single availableNow batch)."""
    from laser_hadoop_spark.streaming.ops import decayed_counter_per_user, fold_decay

    out = _run(
        spark,
        decayed_counter_per_user(_read_stream(spark, stream_dir)),
        "t_decay",
        mode="update",
    )
    final = {}
    for r in out.collect():  # last snapshot per user wins
        final[r["user_id"]] = (r["ewma_x32768"], r["n_seen"])
    # rebuild expectation from the raw files in the same order contract
    raw = (
        spark.read.schema(EVENTS_DDL)
        .parquet(stream_dir)
        .select(
            "user_id",
            F.unix_micros("ts").alias("t_us"),
            "event_id",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
        )
        .collect()
    )
    by_user: dict = {}
    for r in sorted(raw, key=lambda r: (r["t_us"], r["event_id"])):
        by_user.setdefault(r["user_id"], []).append(r["v"])
    for u, vals in by_user.items():
        s, n = fold_decay(None, 0, vals)
        assert final[u] == (s, n), u


def test_heavy_hitters_streaming(spark, tmp_path):
    """ST11: stateful Misra-Gries candidates across the stream contain
    every token above the guaranteed frequency, with small capacity to
    force evictions."""
    from laser_hadoop_spark.streaming.ops import heavy_hitters_stream

    freqs = {"hot": 60, "warm": 25}
    freqs.update({f"t{i:02d}": 2 for i in range(40)})
    rows = [(k,) for k, c in freqs.items() for _ in range(c)]
    d = tmp_path / "tok_in"
    spark.createDataFrame(rows, "token string").coalesce(2).write.mode(
        "overwrite"
    ).parquet(str(d))
    stream = spark.readStream.schema("token string").parquet(str(d))
    out = _run(
        spark,
        heavy_hitters_stream(stream, n_buckets=4, capacity=16),
        "t_hh",
        mode="update",
    )
    cands = {r["token"] for r in out.collect()}
    n = sum(freqs.values())
    for k, c in freqs.items():
        if c * 16 > n:  # guaranteed at capacity 16 per bucket
            assert k in cands, k
    assert "hot" in cands and "warm" in cands


def test_decayed_counter_ttl_expires_cold_keys(spark, tmp_path):
    """ST12: event-time TTL. User 1 goes cold after batch 0; once the
    watermark (10 min delay) passes user 1's last event + 1 h TTL, the
    timeout invocation emits a final expired=true snapshot with the
    exact folded state, and the still-active user 2 never expires."""
    from laser_hadoop_spark.streaming.ops import decayed_counter_per_user_ttl

    d = tmp_path / "in"
    d.mkdir()
    batches = [
        # batch 0: both users. user 1 folds 1.00 then 2.00 -> s=4915200
        [
            (1, "2024-01-01 10:00:00", 1, "click", 1.0),
            (2, "2024-01-01 10:05:00", 1, "click", 2.0),
            (3, "2024-01-01 10:00:00", 2, "view", 3.0),
        ],
        # batch 1: watermark 09:50 < 11:00 -> user 1 still live
        [(4, "2024-01-01 12:30:00", 2, "click", 5.0)],
        # batch 2: watermark 12:20 > 11:00 -> user 1 times out here
        [(5, "2024-01-01 15:00:00", 2, "click", 7.0)],
    ]
    _write_batches(spark, d, batches)
    stream = (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = _run(
        spark,
        decayed_counter_per_user_ttl(stream, ttl="1 hour"),
        "st12_ttl",
        mode="update",
    ).collect()
    expired = [r for r in out if r["expired"]]
    assert [(r["user_id"], r["ewma_x32768"], r["n_seen"]) for r in expired] == [
        (1, 4915200, 2)
    ]
    live_u2 = [r for r in out if r["user_id"] == 2 and not r["expired"]]
    assert max(r["n_seen"] for r in live_u2) == 3


def test_stream_stream_left_outer_join_null_padding(spark, stream_dir):
    """ST13: left-outer stream-stream join. Matched rows emit
    immediately; unmatched LEFT rows emit null-padded only once the
    right watermark proves no match can still arrive (left_ts <
    watermark); left rows the watermark has not passed stay buffered
    and never emit prematurely."""
    clicks = _read_stream(spark, stream_dir).where(F.col("event_type") == "click")
    views = _read_stream(spark, stream_dir).where(F.col("event_type") == "view")
    joined = ops.stream_stream_join(
        clicks, views, on="user_id", within="2 hours",
        delay="10 minutes", how="left_outer",
    )
    rows = _run(spark, joined, "t_ss_left").collect()
    matched = [r for r in rows if r["event_id_r"] is not None]
    nulls = {r["event_id"] for r in rows if r["event_id_r"] is None}
    # inner part: user 2's click (id 5, 12:05) matches the 11:10 view
    assert {(r["event_id"], r["event_id_r"]) for r in matched} == {(5, 3)}
    # null padding: user 1's clicks at 10:05/10:20 are provably
    # unmatchable once the final watermark (11:55) passes them
    assert {1, 2} <= nulls
    # the 12:00 click (id 4) is NOT yet expired (watermark 11:55 <
    # 12:00) -> must still be buffered, not null-emitted
    assert 4 not in nulls


def test_heavy_hitters_stream_ttl_expires_cold_buckets(spark, tmp_path):
    """ST14: a bucket whose tokens stop arriving expires once the
    watermark passes its last event + TTL, emitting its surviving MG
    candidates with expired=true; the still-active bucket never
    expires. Both token streams flow through ONE operator instance —
    bucket separation comes solely from the xxhash64 shard key
    (asserted as a fixture precondition below)."""
    from laser_hadoop_spark.streaming.ops import heavy_hitters_stream_ttl

    d = tmp_path / "in"
    d.mkdir()
    batches = [
        # batch 0: 'click' x2 and 'view' x1 (different buckets under
        # xxhash64 % 16 — verified below)
        [
            (1, "2024-01-01 10:00:00", 1, "click", 1.0),
            (2, "2024-01-01 10:05:00", 1, "click", 1.0),
            (3, "2024-01-01 10:00:00", 2, "view", 1.0),
        ],
        # batch 1: watermark still behind click's TTL deadline
        [(4, "2024-01-01 12:30:00", 2, "view", 1.0)],
        # batch 2: watermark (15:00 - 10min) passes 10:05 + 1h ->
        # click's bucket times out
        [(5, "2024-01-01 15:00:00", 2, "view", 1.0)],
    ]
    _write_batches(spark, d, batches)
    # precondition: the two tokens shard to different buckets
    from pyspark.sql import functions as SF
    b = {
        r["t"]: r["b"]
        for r in spark.createDataFrame([("click",), ("view",)], ["t"])
        .select("t", (SF.abs(SF.xxhash64("t")) % 16).cast("int").alias("b"))
        .collect()
    }
    assert b["click"] != b["view"], "fixture tokens must shard apart"
    stream = (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = _run(
        spark,
        heavy_hitters_stream_ttl(stream, ttl="1 hour"),
        "st14_ttl",
        mode="update",
    ).collect()
    expired = [(r["token"], r["min_count"]) for r in out if r["expired"]]
    assert expired == [("click", 2)]
    live_view = [r for r in out if r["token"] == "view" and not r["expired"]]
    assert max(r["min_count"] for r in live_view) == 3


def test_decayed_counter_ttl_deadline_never_moves_earlier(spark, tmp_path):
    """Review-fix regression: the TTL deadline derives from the max
    event time EVER seen for a key (persisted in state), so a later
    batch carrying an older above-watermark event must not pull the
    deadline earlier. User 1: newest event 10:00 (deadline 11:00),
    then an out-of-order 09:55 arrives; a watermark at 10:56 — past
    the WRONG deadline 10:55, before the right one 11:00 — must NOT
    expire the key; the key expires only once the watermark passes
    11:00, with the late event folded in."""
    from laser_hadoop_spark.streaming.ops import decayed_counter_per_user_ttl

    d = tmp_path / "in"
    d.mkdir()
    batches = [
        # batch 0: user 1 newest event 10:00 -> deadline 11:00
        [
            (1, "2024-01-01 10:00:00", 1, "click", 1.0),
            (2, "2024-01-01 10:00:00", 2, "view", 3.0),
        ],
        # batch 1: watermark 09:50; out-of-order 09:55 for user 1 is
        # ABOVE it (processed), but must not move the deadline to 10:55
        [(3, "2024-01-01 09:55:00", 1, "click", 2.0)],
        # batch 2: watermark moves to 10:56 — between the wrong
        # deadline (10:55) and the right one (11:00)
        [(4, "2024-01-01 11:06:00", 2, "click", 5.0)],
        # batch 3: watermark 11:20 > 11:00 -> user 1 expires NOW
        [(5, "2024-01-01 11:30:00", 2, "click", 7.0)],
    ]
    _write_batches(spark, d, batches)
    stream = (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = _run(
        spark,
        decayed_counter_per_user_ttl(stream, ttl="1 hour"),
        "st12_ttl_order",
        mode="update",
    ).collect()
    expired = [r for r in out if r["expired"] and r["user_id"] == 1]
    # exactly one expiry, and it must include BOTH folded events
    # (n_seen=2): under the old batch-max logic the key would have
    # expired at watermark 10:56 as well, but the harness can't see
    # WHEN — n_seen=2 plus single-expiry proves the late fold happened
    # before expiry, and the fixed deadline made it wait for 11:00
    assert len(expired) == 1 and expired[0]["n_seen"] == 2



def test_decayed_counter_negative_ewma_carries_across_triggers(spark, tmp_path):
    """ST10 and ST12 carry a NEGATIVE scaled EWMA from one trigger to
    the next: the state's "no events yet" is n == 0, not a sign, so
    the final snapshot equals fold_decay over every value in order."""
    from laser_hadoop_spark.streaming.ops import (
        decayed_counter_per_user,
        decayed_counter_per_user_ttl,
        fold_decay,
    )

    d = tmp_path / "neg_in"
    d.mkdir()
    _write_batches(
        spark,
        d,
        [
            [
                (1, "2024-01-01 10:00:00", 1, "click", -1.0),
                (2, "2024-01-01 10:00:00", 2, "click", 2.0),
                (3, "2024-01-01 10:01:00", 2, "click", -5.0),
            ],
            [
                (4, "2024-01-01 10:05:00", 1, "click", -3.0),
                (5, "2024-01-01 10:05:00", 2, "click", 1.0),
            ],
        ],
    )
    want = {1: fold_decay(None, 0, [-100, -300]), 2: fold_decay(None, 0, [200, -500, 100])}
    assert want[1] == (-6553600, 2)
    for name, op in (
        ("st10_neg", decayed_counter_per_user),
        ("st12_neg", lambda s: decayed_counter_per_user_ttl(s, ttl="1 hour")),
    ):
        stream = (
            spark.readStream.schema(EVENTS_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )
        rows = _run(spark, op(stream), name, mode="update").collect()
        # last snapshot per user wins
        final = {r["user_id"]: (r["ewma_x32768"], r["n_seen"]) for r in rows}
        assert final == want, name


def test_ttl_operators_are_base_operators_plus_expiry(spark, tmp_path):
    """ST12 and ST14 on a stream where no key reaches its TTL emit
    exactly ST10's and ST11's rows, each with expired = false."""
    d = tmp_path / "ttl_eq_in"
    d.mkdir()
    _write_batches(
        spark,
        d,
        [
            [
                (1, "2024-01-01 10:00:00", 1, "click", 1.5),
                (2, "2024-01-01 10:02:00", 2, "view", -2.0),
                (3, "2024-01-01 10:03:00", 1, "view", 4.25),
            ],
            [
                (4, "2024-01-01 10:10:00", 1, "click", 3.0),
                (5, "2024-01-01 10:12:00", 3, "purchase", 9.0),
            ],
            [(6, "2024-01-01 10:20:00", 2, "click", 0.5)],
        ],
    )

    def rows(name, sdf):
        return _run(spark, sdf, name, mode="update").collect()

    def stream():
        return (
            spark.readStream.schema(EVENTS_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )

    def without_expired(out):
        assert not any(r["expired"] for r in out)
        return sorted(tuple(v for k, v in r.asDict().items() if k != "expired") for r in out)

    base = rows("ttl_eq_st10", ops.decayed_counter_per_user(stream()))
    ttl = rows("ttl_eq_st12", ops.decayed_counter_per_user_ttl(stream(), ttl="1 hour"))
    assert without_expired(ttl) == sorted(tuple(r) for r in base)
    base = rows(
        "ttl_eq_st11",
        ops.heavy_hitters_stream(stream().select(F.col("event_type").alias("token"))),
    )
    ttl = rows("ttl_eq_st14", ops.heavy_hitters_stream_ttl(stream(), ttl="1 hour"))
    assert without_expired(ttl) == sorted(tuple(r) for r in base)


def test_kmv_distinct_stream(spark, tmp_path):
    """ST15: streaming bottom-k distinct sketch — cross-batch state
    merge, exactness below the sketch threshold, bounded state size,
    and batching-invariance (same estimate whether keys arrive in one
    file or three)."""
    import math

    d = tmp_path / "kmv_in"
    d.mkdir()
    ddl = "event_id long, ts string, user_id long, event_type string, value double"

    def write(rows, _i=[0]):
        _i[0] += 1
        df = spark.createDataFrame(rows, ddl)
        df.withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.mode(
            "append"
        ).parquet(str(d))

    # 200 distinct users across 3 files for 'click' (above k=64 ->
    # estimated); 10 users for 'view' (below k -> exact)
    ts = "2024-01-01 10:00:00"
    write([(i, ts, i, "click", 1.0) for i in range(80)])
    write([(i, ts, i, "click", 1.0) for i in range(60, 150)])
    write(
        [(i, ts, i, "click", 1.0) for i in range(150, 200)]
        + [(1000 + i, ts, 1000 + i, "view", 1.0) for i in range(10)]
    )

    stream = spark.readStream.schema(EVENTS_DDL).parquet(str(d))
    out = ops.kmv_distinct_stream(stream, k=64)
    q = (
        out.writeStream.format("memory")
        .queryName("kmv_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # last emission per group = final estimate over the whole stream
    rows = spark.sql(
        "select * from kmv_stream"
    ).collect()
    final = {}
    for r in rows:  # memory sink appends per-trigger updates in order
        final[r["grp"]] = r
    # view: below threshold -> exact, sketch holds all 10
    assert final["view"]["n_sketch"] == 10
    assert final["view"]["kmv_est"] == 10
    # click: 200 distinct, sketch capped at k=64, estimate within 30%
    assert final["click"]["n_sketch"] == 64
    est = final["click"]["kmv_est"]
    assert math.isclose(est, 200, rel_tol=0.30), est

    # batching invariance: the same 200 keys in ONE file produce the
    # IDENTICAL estimate (bottom-k union is order/batching-invariant)
    d2 = tmp_path / "kmv_one"
    d2.mkdir()
    df = spark.createDataFrame(
        [(i, ts, i, "click", 1.0) for i in range(200)], ddl
    )
    df.withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.parquet(
        str(d2), mode="append"
    )
    stream2 = spark.readStream.schema(EVENTS_DDL).parquet(str(d2))
    q2 = (
        ops.kmv_distinct_stream(stream2, k=64)
        .writeStream.format("memory")
        .queryName("kmv_one")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    one = {r["grp"]: r for r in spark.sql("select * from kmv_one").collect()}
    assert one["click"]["kmv_est"] == est


def test_watermark_delay_stream(spark, tmp_path):
    """ST16: streaming watermark-delay monitor — cross-batch running
    max, late-event detection, power-of-two recommendation, and
    batching-invariance (same verdict in one file or two)."""
    d = tmp_path / "wmd_in"
    d.mkdir()
    ddl = "event_id long, ts string, user_id long, event_type string, value double"

    def write(rows):
        df = spark.createDataFrame(rows, ddl)
        df.withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.mode(
            "append"
        ).parquet(str(d))

    # batch 1: user 7 in order; batch 2: event 4 is LATE by 15 min
    # (arrives after event 3 whose ts is 10:20 -> delay 900 s)
    write(
        [
            (1, "2024-01-01 10:00:00", 7, "view", 1.0),
            (2, "2024-01-01 10:10:00", 7, "view", 1.0),
            (3, "2024-01-01 10:20:00", 7, "view", 1.0),
        ]
    )
    write(
        [
            (4, "2024-01-01 10:05:00", 7, "view", 1.0),
            (5, "2024-01-01 10:30:00", 7, "view", 1.0),
        ]
    )
    stream = spark.readStream.schema(EVENTS_DDL).parquet(str(d))
    q = (
        ops.watermark_delay_stream(stream)
        .writeStream.format("memory")
        .queryName("wmd_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from wmd_stream").collect()
    final = {r["user_id"]: r for r in rows}  # last update wins
    r = final[7]
    assert r["n_events"] == 5
    assert r["n_late"] == 1
    assert r["max_delay_s"] == 900
    # 900s -> bit_length 10 -> recommend 1024s
    assert r["watermark_rec_s"] == 1024

    # batching invariance: the same five events in ONE file give the
    # identical cumulative verdict
    d2 = tmp_path / "wmd_one"
    d2.mkdir()
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 7, "view", 1.0),
            (2, "2024-01-01 10:10:00", 7, "view", 1.0),
            (3, "2024-01-01 10:20:00", 7, "view", 1.0),
            (4, "2024-01-01 10:05:00", 7, "view", 1.0),
            (5, "2024-01-01 10:30:00", 7, "view", 1.0),
        ],
        ddl,
    )
    df.withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.parquet(
        str(d2), mode="append"
    )
    stream2 = spark.readStream.schema(EVENTS_DDL).parquet(str(d2))
    q2 = (
        ops.watermark_delay_stream(stream2)
        .writeStream.format("memory")
        .queryName("wmd_one")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    one = {r["user_id"]: r for r in spark.sql("select * from wmd_one").collect()}
    assert one[7]["n_late"] == 1 and one[7]["max_delay_s"] == 900
    assert one[7]["watermark_rec_s"] == 1024


def test_countmin_stream(spark, tmp_path):
    """ST17: streaming count-min sketch — cross-batch additive state,
    one-sided overestimate property, exact for uncollided probes,
    batching-invariance (counters are additive), bounded state."""
    import hashlib

    d = tmp_path / "cms_in"
    d.mkdir()
    ddl = "event_id long, ts string, user_id long, event_type string, value double"
    ts = "2024-01-01 10:00:00"

    def write(rows):
        df = spark.createDataFrame(rows, ddl)
        df.withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.mode(
            "append"
        ).parquet(str(d))

    # key 0 appears 30x, key 1 appears 20x, keys 2..5 appear 5x each,
    # split across two files; background keys 100..149 once each
    write(
        [(i, ts, 0, "click", 1.0) for i in range(15)]
        + [(100 + i, ts, 1, "click", 1.0) for i in range(10)]
    )
    write(
        [(200 + i, ts, 0, "click", 1.0) for i in range(15)]
        + [(300 + i, ts, 1, "click", 1.0) for i in range(10)]
        + [(400 + 10 * k + j, ts, k, "click", 1.0) for k in range(2, 6) for j in range(5)]
        + [(900 + i, ts, 100 + i, "click", 1.0) for i in range(50)]
    )

    stream = spark.readStream.schema(EVENTS_DDL).parquet(str(d))
    out = ops.countmin_stream(stream, probes=list(range(6)))
    q = (
        out.writeStream.format("memory")
        .queryName("cms_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from cms_stream").collect()
    final = {}
    for r in rows:  # per-trigger updates in order; keep the last
        final[(r["grp"], r["probe"])] = r
    true = {0: 30, 1: 20, 2: 5, 3: 5, 4: 5, 5: 5}
    assert final[("click", 0)]["n_total"] == 120
    for p, t in true.items():
        est = final[("click", p)]["est"]
        assert est >= t, (p, est, t)  # CMS never underestimates
        assert est <= t + 55, (p, est, t)  # and the error is bounded

    # batching invariance: same events in ONE file -> identical matrix
    d2 = tmp_path / "cms_one"
    d2.mkdir()
    all_rows = (
        [(i, ts, 0, "click", 1.0) for i in range(15)]
        + [(100 + i, ts, 1, "click", 1.0) for i in range(10)]
        + [(200 + i, ts, 0, "click", 1.0) for i in range(15)]
        + [(300 + i, ts, 1, "click", 1.0) for i in range(10)]
        + [(400 + 10 * k + j, ts, k, "click", 1.0) for k in range(2, 6) for j in range(5)]
        + [(900 + i, ts, 100 + i, "click", 1.0) for i in range(50)]
    )
    df = spark.createDataFrame(all_rows, ddl)
    df.withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.parquet(
        str(d2), mode="append"
    )
    stream2 = spark.readStream.schema(EVENTS_DDL).parquet(str(d2))
    q2 = (
        ops.countmin_stream(stream2, probes=list(range(6)))
        .writeStream.format("memory")
        .queryName("cms_one")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    one = {
        (r["grp"], r["probe"]): r["est"]
        for r in spark.sql("select * from cms_one").collect()
    }
    for p in range(6):
        assert one[("click", p)] == final[("click", p)]["est"], p

    # hash parity with the batch audit convention (X206)
    h = int(hashlib.md5(b"0|0").hexdigest()[:7], 16) % ops.CMS_W
    assert 0 <= h < ops.CMS_W


def test_funnel_stream(spark, tmp_path):
    """ST18: streaming funnel automaton — cross-batch stage carry,
    order-insensitive to batching (event_id order), completion
    monotone, O(1) state."""
    d = tmp_path / "funnel_in"
    d.mkdir()
    ddl = "event_id long, ts string, user_id long, event_type string, value double"
    ts = "2024-01-01 10:00:00"

    def write(rows):
        df = spark.createDataFrame(rows, ddl)
        df.withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.mode(
            "append"
        ).parquet(str(d))

    # user 1 completes across batches; user 2 has events out of funnel
    # order (click before view) and must NOT complete; user 3 completes
    # within one batch; user 4 stalls at stage 1
    write(
        [(1, ts, 1, "view", 1.0), (2, ts, 2, "click", 1.0)]
    )
    write(
        [
            (3, ts, 1, "click", 1.0),
            (4, ts, 2, "view", 1.0),
            (5, ts, 3, "view", 1.0),
            (6, ts, 3, "click", 1.0),
            (7, ts, 3, "purchase", 1.0),
            (8, ts, 4, "view", 1.0),
        ]
    )
    write([(9, ts, 1, "purchase", 1.0), (10, ts, 2, "error", 1.0)])

    stream = spark.readStream.schema(EVENTS_DDL).parquet(str(d))
    out = ops.funnel_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("funnel_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from funnel_stream").collect()
    final = {}
    for r in rows:
        final[r["user_id"]] = r
    assert final[1]["completed"] == 1 and final[1]["stage"] == 3
    # user 2 saw click before view: automaton is at stage 1 (view
    # matched at batch 2), click never re-arrives after it
    assert final[2]["completed"] == 0
    assert final[3]["completed"] == 1
    assert final[4]["completed"] == 0 and final[4]["stage"] == 1
    # completion is monotone: once a trigger reports completed=1 it
    # stays 1 in later triggers
    seen = {}
    for r in rows:
        if seen.get(r["user_id"]) == 1:
            assert r["completed"] == 1, r
        seen[r["user_id"]] = r["completed"]


def test_sessionize_stream_closed_sessions(spark, tmp_path):
    """ST19: streaming sessionization. In-batch gaps close sessions
    immediately; cross-trigger sessions close exactly once via the
    event-time timeout when the watermark passes last event + gap;
    out-of-order events within a batch sort into the right session;
    an open session at end-of-stream never emits."""
    d = tmp_path / "sess_in"
    d.mkdir()
    US = 1_000_000

    def us(hh, mm):
        import datetime

        return int(
            datetime.datetime(
                2024, 1, 1, hh, mm, tzinfo=datetime.timezone.utc
            ).timestamp()
        ) * US

    batches = [
        # u1: 10:00,10:10 then 11:30 -> in-batch gap (>30 min) closes
        # [10:00,10:10] immediately; u2 arrives OUT OF ORDER (10:20
        # before 10:00) and must still form [10:00,10:20]
        [
            (1, "2024-01-01 10:00:00", 1, "click", 1.0),
            (2, "2024-01-01 10:10:00", 1, "click", 1.0),
            (3, "2024-01-01 11:30:00", 1, "click", 1.0),
            (4, "2024-01-01 10:20:00", 2, "view", 1.0),
            (5, "2024-01-01 10:00:00", 2, "view", 1.0),
        ],
        # watermark now 11:20 (11:30 - 10 min) > u2's 10:20 + 30 min
        # -> u2 closes HERE; u1's open session extends to 11:40
        [(6, "2024-01-01 11:40:00", 1, "click", 1.0)],
        # watermark 11:30 < u1 deadline 12:10 -> u1 stays open
        [(7, "2024-01-01 15:00:00", 3, "click", 1.0)],
        # watermark 14:50 > 12:10 -> u1's [11:30,11:40] closes; u3 open
        [(8, "2024-01-01 15:05:00", 3, "click", 1.0)],
    ]
    _write_batches(spark, d, batches)
    stream = (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    rows = _run(
        spark, ops.sessionize_stream(stream, gap="30 minutes"), "st19_sessions"
    ).collect()
    got = sorted(
        (r["user_id"], r["start_us"], r["end_us"], r["n_events"], r["dur_us"])
        for r in rows
    )
    assert got == [
        (1, us(10, 0), us(10, 10), 2, 10 * 60 * US),
        (1, us(11, 30), us(11, 40), 2, 10 * 60 * US),
        (2, us(10, 0), us(10, 20), 2, 20 * 60 * US),
    ]
    # exactly once: 3 closed sessions, no duplicates, u3 never emits
    assert len(rows) == 3


def _has_protobuf() -> bool:
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def test_moments_fold_pure():
    """ST20 core semantics without the streaming runtime: the state
    fold is additive (batching-invariant by construction) and the
    integer 3-sigma census flags exactly the planted spike. This runs
    everywhere; the end-to-end streaming drive below additionally
    needs the protobuf package transformWithStateInPandas requires."""
    # n must exceed 11: a single spike among n points can reach at most
    # (n-1)/sqrt(n) sigma of a variance it dominates (masking), and
    # (n-1)/sqrt(n) > 3 first holds at n = 12
    vals = [1_000_000] * 11 + [500_000_000]
    one = ops.fold_moments(0, 0, 0, vals)
    split = ops.fold_moments(*ops.fold_moments(0, 0, 0, vals[:4]), vals[4:])
    assert one == split == (12, 511_000_000, 11 * 1_000_000**2 + 500_000_000**2)
    n, s, q = one
    assert ops.count_3sigma_outliers(vals, n, s, q) == 1
    # zero variance: nothing can sit outside 3 sigma
    n2, s2, q2 = ops.fold_moments(0, 0, 0, [7, 7, 7])
    assert ops.count_3sigma_outliers([7, 7, 7], n2, s2, q2) == 0
    # n < 2: no variance defined, never flags
    assert ops.count_3sigma_outliers([5], 1, 5, 25) == 0


def test_moments_tws_skip_reason_is_protobuf_not_rot(spark):
    """ST20 rot check (round-5 verdict item 7): when the e2e drive is
    skipped, prove the blocker is STILL the missing protobuf package
    and not rot in our own plumbing. Two assertions: (a) our side —
    moments_stream_tws builds its streaming plan cleanly on a real
    unbounded frame (schema, groupBy, processor class, output schema
    all resolve); (b) pyspark's side — the first failing import on the
    transformWithState worker path is its protobuf-generated
    StateMessage module failing on the absent google package."""
    if _has_protobuf():
        pytest.skip("protobuf present: the real e2e drive below runs")
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double"
    ).parquet("/root/testdata/sf0.001")  # any existing dir; never started
    df = ops.moments_stream_tws(stream)
    assert df.isStreaming
    assert {f.name for f in df.schema.fields} >= {"user_id", "n", "s_micro"}
    with pytest.raises(ImportError, match="google"):
        import pyspark.sql.streaming.proto.StateMessage_pb2  # noqa: F401


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas requires the protobuf package "
    "(absent in this container); the pure fold/census semantics are "
    "covered by test_moments_fold_pure, and "
    "test_moments_tws_skip_reason_is_protobuf_not_rot pins that the "
    "blocker is the package, not code rot",
)
def test_moments_stream_tws(spark, tmp_path):
    """ST20: transformWithStateInPandas moments — cross-batch
    accumulation, batching-invariant snapshots (split vs one-shot),
    exact integer 3-sigma census, RocksDB state store."""
    prior_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        ts = "2024-01-01 10:00:00"
        # user 1: eleven 1.0s then one huge spike (n=12 — the first n
        # where a single spike CAN exceed 3 sigma of a variance it
        # dominates, (n-1)/sqrt(n) > 3); user 2: constant values
        rows_all = [
            *[(i, ts, 1, "click", 1.0) for i in range(1, 12)],
            (12, ts, 1, "click", 500.0),
            (13, ts, 2, "view", 7.0),
            (14, ts, 2, "view", 7.0),
        ]

        def run(batches, name):
            d = tmp_path / name
            d.mkdir()
            _write_batches(spark, d, batches)
            stream = (
                spark.readStream.schema(EVENTS_DDL)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(d))
            )
            out = _run(
                spark, ops.moments_stream_tws(stream), name, mode="update"
            ).collect()
            final = {}
            for r in out:
                if final.get(r["user_id"], (0,))[0] <= r["n"]:
                    final[r["user_id"]] = (
                        r["n"], r["s_micro"], r["q_micro2"], r["mean_micro"]
                    )
            return out, final

        out3, final3 = run(
            [rows_all[:4], rows_all[4:12], rows_all[12:]], "tws_split"
        )
        _, final1 = run([rows_all], "tws_oneshot")
        # batching-invariant cumulative moments
        assert final3 == final1
        assert final3[1] == (12, 511_000_000, str(
            11 * 1_000_000**2 + 500_000_000**2
        ), 42_583_333)
        assert final3[2][0] == 2 and final3[2][3] == 7_000_000
        # the spike trigger flags exactly one outlier for user 1
        spike_rows = [
            r for r in out3 if r["user_id"] == 1 and r["n"] == 12
        ]
        assert spike_rows and spike_rows[0]["batch_outliers"] == 1
        # zero-variance user never flags
        assert all(
            r["batch_outliers"] == 0 for r in out3 if r["user_id"] == 2
        )
    finally:
        if prior_provider is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prior_provider
            )
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_log2_quantile_stream(spark, tmp_path):
    """ST21: streaming log2-histogram quantiles — cross-batch additive
    state, the 2x bracket guarantee against exact quantiles, and
    batching invariance (one file vs three files, identical finals)."""
    d = tmp_path / "l2q_in"
    d.mkdir()
    ddl = "event_id long, ts string, user_id long, event_type string, value double"
    ts = "2024-01-01 10:00:00"

    def write(rows):
        df = spark.createDataFrame(rows, ddl)
        df.withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.mode(
            "append"
        ).parquet(str(d))

    # deterministic skewed values: cents = (7i mod 997)^2 / 100
    vals = [((7 * i) % 997) ** 2 for i in range(300)]
    write([(i, ts, i, "buy", vals[i] / 100.0) for i in range(0, 100)])
    write([(i, ts, i, "buy", vals[i] / 100.0) for i in range(100, 200)])
    write([(i, ts, i, "buy", vals[i] / 100.0) for i in range(200, 300)])

    stream = spark.readStream.schema(EVENTS_DDL).parquet(str(d))
    out = ops.log2_quantile_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("l2q_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final = {}
    for r in spark.sql("select * from l2q_stream").collect():
        final[(r["grp"], r["pct"])] = r
    svals = sorted(vals)
    assert final[("buy", 50)]["n_total"] == 300
    for pct in (50, 90, 99):
        r = final[("buy", pct)]
        exact = svals[(300 * pct + 99) // 100 - 1]  # ceil-rank order stat
        assert r["est_lo"] <= exact <= r["est_hi"], (pct, exact, dict(r.asDict()))
        # the bracket is one power-of-2 bucket wide
        assert r["est_hi"] <= 2 * max(r["est_lo"], 1)

    # batching invariance: same events in ONE file -> identical outputs
    d2 = tmp_path / "l2q_one"
    d2.mkdir()
    df = spark.createDataFrame(
        [(i, ts, i, "buy", vals[i] / 100.0) for i in range(300)], ddl
    )
    df.withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.parquet(
        str(d2), mode="append"
    )
    stream2 = spark.readStream.schema(EVENTS_DDL).parquet(str(d2))
    q2 = (
        ops.log2_quantile_stream(stream2)
        .writeStream.format("memory")
        .queryName("l2q_one")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    one = {
        (r["grp"], r["pct"]): (r["bucket"], r["est_lo"], r["est_hi"], r["n_total"])
        for r in spark.sql("select * from l2q_one").collect()
    }
    for pct in (50, 90, 99):
        r = final[("buy", pct)]
        assert one[("buy", pct)] == (
            r["bucket"], r["est_lo"], r["est_hi"], r["n_total"]
        ), pct


def test_page_hinkley_fold_pure():
    """ST22 core semantics: batching-invariant fold, alarm on a mean
    shift, silence on a stationary series — independent of the
    streaming runtime."""
    from laser_hadoop_spark.streaming.ops import fold_page_hinkley

    # stationary: constant values never build a gap beyond delta slack
    st = fold_page_hinkley(None, [100] * 50, 0)
    assert st[4] == 0  # maxgap: v - mean == 0 throughout
    # mean shift: low regime then high regime builds a positive gap
    vals = [100] * 30 + [500] * 30
    full = fold_page_hinkley(None, vals, 10)
    assert full[4] > 0
    # batching invariance: any split folds to the same state
    for cut in (1, 7, 30, 45):
        a = fold_page_hinkley(None, vals[:cut], 10)
        b = fold_page_hinkley(a, vals[cut:], 10)
        assert b == full, cut


def test_page_hinkley_stream(spark, tmp_path):
    """ST22 end-to-end: final per-user snapshot equals the pure fold
    over (ts, event_id)-ordered arrivals; the shifted user alarms,
    the stationary one does not."""
    from laser_hadoop_spark.streaming.ops import (
        fold_page_hinkley,
        page_hinkley_stream,
    )

    ddl = "event_id long, ts string, user_id long, event_type string, value double"
    d = tmp_path / "ph_in"
    d.mkdir()

    def write(rows):
        df = spark.createDataFrame(rows, ddl)
        df.withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.mode(
            "append"
        ).parquet(str(d))

    # user 1: stationary at $1.00; user 2: $1.00 then shifts to $9.00
    rows = []
    eid = 0
    for i in range(40):
        eid += 1
        rows.append((eid, f"2024-01-01 10:{i:02d}:00", 1, "buy", 1.0))
        eid += 1
        rows.append(
            (eid, f"2024-01-01 10:{i:02d}:30", 2, "buy", 1.0 if i < 20 else 9.0)
        )
    write(rows[:30])
    write(rows[30:])

    stream = spark.readStream.schema(EVENTS_DDL).parquet(str(d))
    out = _run(
        spark,
        page_hinkley_stream(stream, delta_centi=10, lambda_centi=5_000),
        "t_ph",
        mode="update",
    )
    final = {}
    for r in out.collect():  # last snapshot per user wins
        final[r["user_id"]] = r
    raw = sorted(rows, key=lambda r: (r[1], r[0]))
    for uid in (1, 2):
        vals = [int(r[4] * 100) for r in raw if r[2] == uid]
        n, s, m, mmin, maxgap = fold_page_hinkley(None, vals, 10)
        r = final[uid]
        assert r["n_seen"] == n
        assert r["max_gap_centi"] == maxgap
        assert r["alarmed"] == (maxgap > 5_000)
    assert not final[1]["alarmed"]
    assert final[2]["alarmed"]


def test_hll_fold_pure():
    """ST23 core semantics without the streaming runtime: the register
    fold is idempotent and merge = element-wise MAX, and the exact
    integer estimate matches the q_hll_audit oracle formula."""
    regs = [0] * ops.HLLS_REGS
    # empty sketch: ssum = 64 * 2^50 -> est = 709*4096*2^50 // (1000*64*2^50)
    assert ops.hll_estimate(regs) == (709 * 4096) // (64 * 1000)
    regs[3] = 7
    one = ops.hll_estimate(regs)
    # idempotent: folding the same (reg, rho) again changes nothing
    regs2 = list(regs)
    regs2[3] = max(regs2[3], 7)
    assert ops.hll_estimate(regs2) == one
    # merge of two disjoint sketches = element-wise max
    a = [0] * 64
    b = [0] * 64
    a[1], b[2] = 5, 9
    merged = [max(x, y) for x, y in zip(a, b)]
    both = [0] * 64
    both[1], both[2] = 5, 9
    assert merged == both


def test_hll_distinct_stream(spark, tmp_path):
    """ST23: streaming HLL — batching invariance (3 files vs 1),
    duplicate invariance (replayed keys change nothing), and register
    equality with an independent hashlib recomputation of the
    q_hll_audit spelling."""
    import hashlib

    d1 = tmp_path / "hll_in_split"
    d2 = tmp_path / "hll_in_oneshot"
    d1.mkdir(), d2.mkdir()
    ddl = "event_id long, ts string, user_id long, event_type string, value double"
    ts = "2024-01-01 10:00:00"
    rows = [(i, ts, i % 300, "click", 1.0) for i in range(600)]  # dups!

    def run(dirpath, batches, name):
        for b in batches:
            spark.createDataFrame(b, ddl).withColumn(
                "ts", F.to_timestamp("ts")
            ).coalesce(1).write.mode("append").parquet(str(dirpath))
        stream = spark.readStream.schema(EVENTS_DDL).parquet(str(dirpath))
        out = _run(spark, ops.hll_distinct_stream(stream), name, mode="update")
        rows_ = out.collect()
        final = {}
        for r in rows_:
            if final.get(r["grp"], (0,))[0] <= r["n_events"]:
                final[r["grp"]] = (r["n_events"], r["hll_est"], list(r["regs"]))
        return final

    f_split = run(d1, [rows[:200], rows[200:500], rows[500:]], "hll_split")
    f_one = run(d2, [rows], "hll_oneshot")
    assert f_split == f_one  # batching-invariant
    n_events, est, regs = f_split["click"]
    assert n_events == 600

    # independent recomputation: hashlib md5, the q_hll_audit spelling
    want = [0] * ops.HLLS_REGS
    for k in {str(i % 300) for i in range(600)}:
        hx = hashlib.md5(k.encode()).hexdigest()
        reg = int(hx[:15], 16) % 64
        suf = hx[16:28]
        lead = len(suf) - len(suf.lstrip("0"))
        first = suf[lead] if lead < len(suf) else ""
        nib = {"1": 3, "2": 2, "3": 2, "4": 1, "5": 1, "6": 1, "7": 1}.get(first, 0)
        rho = min(4 * lead + nib + 1, 49)
        if rho > want[reg]:
            want[reg] = rho
    assert regs == want
    assert est == ops.hll_estimate(want)
    # 300 true distinct: raw HLL at m=64 has ~13% std error; assert a
    # loose 3-sigma envelope so the test pins sanity, not luck
    assert 180 <= est <= 420


def test_bloom_fold_pure():
    """ST24 core semantics: OR-fold idempotence (re-inserting a seen
    key flags a probable dup and changes no bits), no false negatives,
    and the live FP estimate formula."""
    words = [0] * (ops.BLOOM_M // 64)
    posA = [1, 65, 130, 200, 300, 400, 500]
    posB = [2, 66, 131, 201, 301, 401, 501]
    words, d = ops.bloom_fold(words, [posA, posB])
    assert d == 0
    snapshot = list(words)
    words, d = ops.bloom_fold(words, [posA])  # exact re-insert
    assert d == 1 and words == snapshot  # idempotent, flagged
    # a key sharing SOME but not all bits is not flagged
    posC = [1, 65, 130, 200, 300, 400, 999]
    words, d = ops.bloom_fold(words, [posC])
    assert d == 0
    bits = sum(bin(w).count("1") for w in words)
    assert bits == 15  # 14 distinct + 1 new from posC
    assert ops.bloom_fp_rate_micro(words) == round(
        1000000 * (15 / ops.BLOOM_M) ** ops.BLOOM_K
    )


def test_bloom_dedup_stream(spark, tmp_path):
    """ST24: streaming Bloom screen — batching invariance (3 files vs
    1, identical finals incl. the dup count under the event_id order
    contract), true duplicates all flagged (no false negatives), and
    the bitset matches an independent hashlib recomputation."""
    import hashlib

    ddl = "event_id long, ts string, user_id long, event_type string, value double"
    ts = "2024-01-01 10:00:00"
    # 120 distinct users, each seen twice (ids interleaved so dups
    # arrive after their originals in event_id order)
    rows = [(i, ts, i % 120, "click", 1.0) for i in range(240)]

    def run(name, batches):
        d = tmp_path / name
        d.mkdir()
        for b in batches:
            spark.createDataFrame(b, ddl).withColumn(
                "ts", F.to_timestamp("ts")
            ).coalesce(1).write.mode("append").parquet(str(d))
        stream = spark.readStream.schema(EVENTS_DDL).parquet(str(d))
        out = _run(spark, ops.bloom_dedup_stream(stream), name, mode="update")
        final = {}
        for r in out.collect():
            if final.get(r["grp"], (0,))[0] <= r["n_events"]:
                final[r["grp"]] = (
                    r["n_events"], r["n_probable_dups"], r["bits_set"],
                    r["fp_rate_micro"],
                )
        return final

    f_split = run("bl_split", [rows[:100], rows[100:180], rows[180:]])
    f_one = run("bl_one", [rows])
    assert f_split == f_one
    n_events, n_dups, bits, fp = f_split["click"]
    assert n_events == 240
    # every true duplicate must be flagged (no false negatives);
    # possible extra flags are false positives, bounded loosely
    assert 120 <= n_dups <= 130
    # independent bitset size check via hashlib
    want_bits = set()
    for u in {str(i % 120) for i in range(240)}:
        hx = hashlib.md5(f"bl|{u}".encode()).hexdigest()
        for i in range(ops.BLOOM_K):
            want_bits.add(int(hx[4 * i : 4 * i + 8], 16) % ops.BLOOM_M)
    assert bits == len(want_bits)
    assert fp == round(1000000 * (len(want_bits) / ops.BLOOM_M) ** ops.BLOOM_K)



def test_bloom_dedup_stream_carries_high_bit_words_across_triggers(spark, tmp_path):
    """ST24's filter words go through the state store between triggers,
    including words whose bit 63 is set (a signed long's sign bit): one
    file per trigger gives the same final snapshot as one trigger."""
    ts = "2024-01-01 10:00:00"
    rows = [(i, ts, i % 120, "click", 1.0) for i in range(240)]

    def final(name, batches, per_trigger):
        d = tmp_path / name
        d.mkdir()
        _write_batches(spark, d, batches)
        reader = spark.readStream.schema(EVENTS_DDL)
        if per_trigger:
            reader = reader.option("maxFilesPerTrigger", 1)
        out = _run(spark, ops.bloom_dedup_stream(reader.parquet(str(d))), name, mode="update")
        return max(tuple(r) for r in out.collect())

    split = final("bl_triggers", [rows[:100], rows[100:180], rows[180:]], True)
    assert split == final("bl_single", [rows], False)
    assert split[1] == 240


def test_order_dependent_folds_ignore_arrow_chunking(spark, tmp_path):
    """ST16, ST18 and ST24 fold in event_id order even when a key's rows
    of one trigger arrive in many Arrow batches: one record per batch
    gives the same rows as the default batch size. The file holds each
    user's events in REVERSE event_id order."""
    d = tmp_path / "chunk_in"
    d.mkdir()
    _write_batches(
        spark,
        d,
        [
            [
                (3, "2024-01-01 10:20:00", 1, "purchase", 1.0),
                (2, "2024-01-01 10:10:00", 1, "click", 1.0),
                (1, "2024-01-01 10:00:00", 1, "view", 1.0),
                (6, "2024-01-01 10:40:00", 2, "view", 1.0),
                (5, "2024-01-01 10:30:00", 3, "view", 1.0),
                (4, "2024-01-01 10:25:00", 2, "view", 1.0),
            ]
        ],
    )
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"

    def run(tag):
        out = {}
        for name, op in (
            ("funnel", ops.funnel_stream),
            ("wmd", ops.watermark_delay_stream),
            ("bloom", ops.bloom_dedup_stream),
        ):
            sdf = op(spark.readStream.schema(EVENTS_DDL).parquet(str(d)))
            rows = _run(spark, sdf, f"chunk_{name}_{tag}", mode="update").collect()
            out[name] = sorted(tuple(r) for r in rows)
        return out

    default = run("default")
    prior = spark.conf.get(conf, None)
    spark.conf.set(conf, "1")
    try:
        one = run("one")
    finally:
        if prior is not None:
            spark.conf.set(conf, prior)
        else:
            spark.conf.unset(conf)
    assert one == default
