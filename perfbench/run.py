#!/usr/bin/env python3
"""laserspark benchmark: one workload, one seed, one JSON result line.

Run from the repository root:

    python3 perfbench/run.py --workload batch --seed 0 --seconds 25 --trace 0

Workloads (each one driver process on ``local[nproc]``, a closed loop
with a single client: every query or trigger starts when the previous
one has finished):

- ``batch``: relational, statistical, dedup, similarity and text queries
  over a seeded copy of the corpus in ``perfbench/corpus``, with the
  bucketed warehouse built in set-up.
- ``ingest``: seeded event files drained as a file stream, one file per
  trigger, through a windowed upsert pipeline and a typed-state pipeline.

A run sets up (inputs, JVM, warehouse), runs a warm-up pass that checks
outputs, then makes three timed passes, about 25 seconds on 4 cores;
``--seconds`` is accepted so that every benchmark shares one command line,
and does not change the work. With ``--trace 0`` the last line of
standard output carries the end-to-end metrics; with ``--trace 1`` the
run adds one traced pass, the last line carries the per-layer metrics
and the spans are written to ``.perfbench_out/``. The line before the
last holds the run's details: nproc, Spark version, corpus fingerprint,
set-up phases and per-operation times of every pass. Everything else the
run writes lives in a private directory under ``.perfbench_tmp/`` that is
removed on exit.

End-to-end metrics (``--trace 0``):

- ``setup_s``: JVM start, input copy, warehouse build and the warm-up pass.
- ``pass_s``: the fastest timed pass over the workload's operations, with
  the session work between queries.

An operation is one query, from ``QuerySpec.fn`` through the noop-sink
action, or one micro-batch (``triggerExecution``).

Per-layer metrics (``--trace 1``), with the end-to-end metric each should
move and where:

- ``queries.*`` (build, plan, action, stages, tasks, core use, shuffle,
  spill, skew): ``pass_s`` on batch.
- ``operators.<module>.*``, ``plans.curation.*``: ``pass_s`` on batch;
  nothing on ingest.
- ``tables.*``: ``pass_s`` on batch. ``tables.table.*`` and
  ``tables.read_s`` count the warm-up pass, where the relation cache is
  cold, and the traced pass.
- ``session.*``: ``pass_s`` on batch.
- ``warehouse.build_s``: ``setup_s`` on batch.
- ``streaming.*``, ``sources.*``: ``pass_s`` on ingest, and nothing on
  batch. ``streaming.rows_per_s`` is the generated rows over ``pass_s``.
- ``trace.overhead_s``: the traced pass minus ``pass_s``.
- ``op_geomean_s`` (geometric mean over operations of each one's fastest
  latency), ``op_max_s`` (the slowest of those) and
  ``process.pss_peak_mb`` (peak proportional resident memory of the JVM
  and Python workers): end-to-end in kind, but they vary between runs by
  more than ``pass_s`` does, so they are reported here.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORPUS = os.path.join(HERE, "corpus")
EXPECTED = os.path.join(HERE, "expected.json")

# The query list and file counts are sized so that one run (JVM start,
# warm-up pass and the timed passes) takes about a minute on 4 cores. The
# batch list keeps one query for each layer the relational, statistical
# and curation queries exercise: the bucketed warehouse; cumulative sums
# (q_rfm_segments, 11 jobs inside fn()); text, simhash dedup and the
# curation plan (q_curation_pipeline); n-gram dedup through spread_scan
# and graph components (q_dedup_survivors, 13 jobs inside fn()); and
# blocked cosine similarity (q_embedding_threshold).
QUERIES = [
    "q_bucketed_fact_join", "q_rfm_segments",
    "q_curation_pipeline", "q_dedup_survivors", "q_embedding_threshold",
]
# Timed passes per run. Each end-to-end time is the fastest of them: load
# from outside the run only ever adds time, and the first pass after the
# warm-up still runs slower while the JVM compiles, so the minimum is the
# steadiest estimate of what the code itself costs.
TIMED_PASSES = 3

# ingest: event files and the two pipelines
N_FILES = 3
ROWS_PER_FILE = 20_000
N_KEYS = 100
WINDOW_S = 10
SPAN_PER_FILE_S = 20
WATERMARK_S = 10
BASE_EPOCH = 1_700_000_000
EVENT_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"
ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

# per-layer metrics reported by a traced run, in BENCHMARK.json order
OPERATOR_MODULES = ["cumulative", "graph", "dedup", "similarity", "text"]
PLAN_MODULES = ["curation"]
QUERY_SUMS = [
    ("build_s", "s"), ("build_jobs", "count"), ("plan_s", "s"), ("action_s", "s"),
    ("stages", "count"), ("one_task_stages", "count"), ("tasks", "count"),
    ("task_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"), ("spill_mb", "MB"),
]


# --------------------------------------------------------------------------
# process-level helpers


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    kids = [int(k) for k in fh.read().split()]
            except OSError:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


def tree_pss_bytes(root: int) -> int:
    """Proportional resident bytes of every descendant of ``root`` (the JVM
    and its Python workers). Proportional, so pages the forked workers
    share are counted once."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class PssPeak(threading.Thread):
    """Samples the proportional resident memory of the process tree every 0.25 s."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak = 0
        self._done = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._done.wait(0.25):
            self.peak = max(self.peak, tree_pss_bytes(me))

    def stop(self) -> None:
        self._done.set()
        self.join()


def digest(multiset: list) -> str:
    return hashlib.sha256(repr(multiset).encode()).hexdigest()


def fingerprint(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def error_text(exc: BaseException) -> str:
    return f"{type(exc).__name__}: {exc}"[:500]


# --------------------------------------------------------------------------
# inputs


def copy_corpus(seed: int, dst: str) -> None:
    """Rewrite every corpus table into ``dst`` with its rows permuted by
    ``seed`` (seed 0 keeps the shipped order). One row group per table and
    every column's parquet type are kept; a copy that changed either would
    be read differently by the engine, so it raises."""
    import numpy as np
    import pyarrow.parquet as pq

    os.makedirs(dst)
    for i, name in enumerate(sorted(os.listdir(CORPUS))):
        src = os.path.join(CORPUS, name)
        tbl = pq.read_table(src)
        if seed:
            tbl = tbl.take(np.random.default_rng([seed, i]).permutation(tbl.num_rows))
        out = os.path.join(dst, name)
        pq.write_table(tbl, out, row_group_size=max(1, tbl.num_rows), compression="snappy")
        a, b = pq.ParquetFile(src), pq.ParquetFile(out)
        if b.metadata.num_row_groups != 1 or not a.schema.equals(b.schema):
            raise RuntimeError(f"corpus copy changed the layout of {name}")


def write_events(seed: int, dst: str, n_files: int) -> dict:
    """Seeded event files with strictly increasing event time and file
    modification time, so one file per trigger is read in event-time order.
    Returns what the two pipelines must produce from them."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, n_files])
    n = n_files * ROWS_PER_FILE
    event_id = np.arange(n, dtype=np.int64)
    ts_us = BASE_EPOCH * 1_000_000 + event_id * (SPAN_PER_FILE_S * 1_000_000 // ROWS_PER_FILE)
    keys = rng.integers(0, N_KEYS, n, dtype=np.int64)
    values = rng.integers(0, 8000, n).astype(np.float64) / 8.0
    kinds = np.array(["view", "click", "cart", "buy"])[rng.integers(0, 4, n)]
    os.makedirs(dst)
    for f in range(n_files):
        sl = slice(f * ROWS_PER_FILE, (f + 1) * ROWS_PER_FILE)
        path = os.path.join(dst, f"part-{f:05d}.parquet")
        pq.write_table(
            pa.table(
                {
                    "event_id": event_id[sl],
                    "ts": pa.array(ts_us[sl], pa.timestamp("us", tz="UTC")),
                    "user_id": keys[sl],
                    "event_type": kinds[sl],
                    "value": values[sl],
                }
            ),
            path,
        )
        os.utime(path, (BASE_EPOCH + f, BASE_EPOCH + f))
    # the upsert table ends with every (window, key) cell of the windows
    # that the final watermark closed
    window_us = WINDOW_S * 1_000_000
    start = ts_us // window_us * window_us
    closed = start + window_us <= int(ts_us.max()) - WATERMARK_S * 1_000_000
    return {
        "dir": dst,
        "rows": n,
        "upsert_rows": len(set(zip(start[closed].tolist(), keys[closed].tolist()))),
        "state_rows": len(np.unique(keys)),
        "input_bytes": sum(os.path.getsize(os.path.join(dst, p)) for p in os.listdir(dst)),
    }


# --------------------------------------------------------------------------
# Spark session


def start_spark(tmp: str, cpus: int):
    from laser_hadoop_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')}",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and its workers have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while pids := descendants(os.getpid()):
        if time.time() > deadline:
            for pid in pids:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def hygiene(spark) -> None:
    """Session work between queries, as in a long-lived driver."""
    from laser_hadoop_spark.session import release_persisted, storage_memory_used

    release_persisted(spark)
    if storage_memory_used(spark) > 1_000_000_000:
        spark.sparkContext._jvm.System.gc()


# --------------------------------------------------------------------------
# batch workloads


class BatchWorkload:
    def __init__(self, spark, names: list[str], sf_dir: str, seed: int, log) -> None:
        from laser_hadoop_spark import registry

        specs = registry.specs()
        self.spark = spark
        self.fns = {n: specs[n].fn for n in names}
        self.names = names
        self.sf_dir = sf_dir
        self.seed = seed
        self.log = log
        self.attempted = 0
        self.failed = 0
        self.warmup: dict[str, float] = {}

    def order(self, pass_no: int) -> list[str]:
        names = list(self.names)
        if self.seed:
            random.Random(f"{self.seed}:{pass_no}").shuffle(names)
        return names

    def _failed(self, name: str, exc: BaseException) -> None:
        self.failed += 1
        self.log({"query_error": name, "error": error_text(exc)})

    def check_pass(self, expected: dict) -> None:
        """Warm-up pass: run every query once and check its output."""
        from laser_hadoop_spark import testing

        for name in self.order(0):
            self.attempted += 1
            q0 = time.perf_counter()
            try:
                cols, rows, float_cols = testing._spark_fetch(self.fns[name](self.spark, self.sf_dir))
                want = expected[name]
                ok = len(rows) == want["rows"] and (
                    digest(testing._rows_multiset(cols, rows, float_cols)) == want["hash"]
                )
                if not ok:
                    self.failed += 1
                    self.log({"check_failed": name, "rows": len(rows), "want_rows": want["rows"]})
            except Exception as exc:  # noqa: BLE001 - count it and carry on
                self._failed(name, exc)
            self.warmup[name] = time.perf_counter() - q0
            hygiene(self.spark)

    def timed_pass(self, pass_no: int) -> tuple[float, dict[str, float]]:
        """One pass over the queries: its wall time and each query's latency."""
        ops = {}
        t0 = time.perf_counter()
        for name in self.order(pass_no):
            self.attempted += 1
            q0 = time.perf_counter()
            try:
                self.fns[name](self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
                ops[name] = time.perf_counter() - q0
            except Exception as exc:  # noqa: BLE001 - count it and carry on
                self._failed(name, exc)
            hygiene(self.spark)
        return time.perf_counter() - t0, ops

    def traced_pass(self, pass_no: int, tracer, per_query: dict) -> float:
        """A timed pass with spans, one job group per query phase, and the
        query's stages read back from the status store after it ends."""
        from laser_hadoop_spark.session import release_persisted, storage_memory_used
        from spans import first_job_submit_ms, job_ids_for, stage_ids, stage_metrics

        spark, sc = self.spark, self.spark.sparkContext
        cores = sc.defaultParallelism
        t0 = time.perf_counter()
        for i, name in enumerate(self.order(pass_no)):
            qid = f"p{pass_no}q{i}:{name}"
            tracer.op = qid
            self.attempted += 1
            try:
                with tracer.span("queries.query"):
                    sc.setJobGroup(f"{qid}:build", name)
                    with tracer.span("queries.build"):
                        df = self.fns[name](spark, self.sf_dir)
                    sc.setJobGroup(f"{qid}:action", name)
                    wall0 = time.time()
                    with tracer.span("queries.action"):
                        df.write.format("noop").mode("overwrite").save()
                    action_s = time.time() - wall0
                    storage = storage_memory_used(spark)
                    with tracer.span("session.release_persisted"):
                        release_persisted(spark)
                    residual = storage_memory_used(spark)
                    if residual > 1_000_000_000:
                        sc._jvm.System.gc()
            except Exception as exc:  # noqa: BLE001 - count it and carry on
                self._failed(name, exc)
                hygiene(spark)
                continue
            finally:
                tracer.op = None
            sc.setJobGroup("perfbench", "between queries")
            build_jobs = job_ids_for(spark, f"{qid}:build")
            action_jobs = job_ids_for(spark, f"{qid}:action")
            action_stage_ids = stage_ids(spark, action_jobs)
            stages = stage_metrics(spark, stage_ids(spark, build_jobs) | action_stage_ids)
            submit = first_job_submit_ms(spark, action_jobs)
            plan_s = min(action_s, max(0.0, submit / 1e3 - wall0)) if submit else 0.0
            longest = max(stages, key=lambda s: s["run_s"], default={})
            per_query[name] = {
                "build_jobs": len(build_jobs),
                "plan_s": plan_s,
                "action_s": action_s - plan_s,
                "stages": len(stages),
                "one_task_stages": sum(1 for s in stages if s["tasks"] == 1),
                "tasks": sum(s["tasks"] for s in stages),
                "task_s": sum(s["run_s"] for s in stages),
                "task_cpu_s": sum(s["cpu_s"] for s in stages),
                "gc_s": sum(s["gc_s"] for s in stages),
                "shuffle_write_mb": sum(s["shuffle_write_mb"] for s in stages),
                "shuffle_read_mb": sum(s["shuffle_read_mb"] for s in stages),
                "spill_mb": sum(s["spill_mb"] for s in stages),
                "action_task_s": sum(s["run_s"] for s in stages if s["stage"] in action_stage_ids),
                "action_wall_s": action_s,
                "cores": cores,
                "task_skew": (
                    longest["task_max_s"] / longest["task_median_s"]
                    if longest.get("task_median_s") else 1.0
                ),
                "storage_peak_mb": storage / 1e6,
                "storage_residual_mb": residual / 1e6,
            }
        return time.perf_counter() - t0


# --------------------------------------------------------------------------
# ingest workload


def batches(progress: list) -> list[dict]:
    """Progress entries of triggers that ran a micro-batch."""
    return [p for p in progress if "addBatch" in (p.get("durationMs") or {})]


class IngestWorkload:
    def __init__(self, spark, work: str, log) -> None:
        self.spark = spark
        self.work = work
        self.log = log
        self.attempted = 0
        self.failed = 0
        self.runs = 0

    def _drain(self, name: str, start) -> list:
        self.attempted += 1
        try:
            q = start()
            q.awaitTermination()
            progress = q.recentProgress
            q.stop()
        except Exception as exc:  # noqa: BLE001 - count it and carry on
            self.failed += 1
            self.log({"stream_error": name, "error": error_text(exc)})
            return []
        return progress

    def one_pass(self, events: dict) -> dict:
        """Drain the event files through both pipelines, one after the other,
        then check what they produced (outside the timed part)."""
        from laser_hadoop_spark.streaming import ops

        spark = self.spark
        self.runs += 1
        run_dir = os.path.join(self.work, f"run{self.runs}")
        base_dir = os.path.join(run_dir, "upsert")

        def source():
            return (
                spark.readStream.schema(EVENT_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(events["dir"])
            )

        def upsert():
            agg = ops.tumbling_counts(
                source(), key_col="user_id", width=f"{WINDOW_S} seconds",
                delay=f"{WATERMARK_S} seconds",
            )
            return ops.start_upsert_sink(
                agg, spark, base_dir=base_dir, keys=["window_start", "user_id"],
                checkpoint_dir=os.path.join(run_dir, "ckpt_upsert"),
            )

        def tws():
            return (
                ops.moments_stream_tws(source())
                .writeStream.outputMode("update")
                .format("noop")
                .option("checkpointLocation", os.path.join(run_dir, "ckpt_tws"))
                .trigger(availableNow=True)
                .start()
            )

        t0 = time.perf_counter()
        p_upsert = self._drain("upsert", upsert)
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB)
        try:
            p_tws = self._drain("tws", tws)
        finally:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        pass_s = time.perf_counter() - t0
        self._check(events, p_upsert, p_tws, base_dir)
        return {"pass_s": pass_s, "upsert": p_upsert, "tws": p_tws}

    def _check(self, events: dict, p_upsert: list, p_tws: list, base_dir: str) -> None:
        table_rows = self.spark.read.parquet(base_dir).count() if os.path.isdir(base_dir) else 0
        state_rows = p_tws[-1]["stateOperators"][0]["numRowsTotal"] if p_tws else 0
        checks = {
            "upsert_input_rows": (sum(p["numInputRows"] for p in p_upsert), events["rows"]),
            "tws_input_rows": (sum(p["numInputRows"] for p in p_tws), events["rows"]),
            "upsert_table_rows": (table_rows, events["upsert_rows"]),
            "tws_state_rows": (state_rows, events["state_rows"]),
        }
        for name, (got, want) in checks.items():
            self.attempted += 1
            if got != want:
                self.failed += 1
                self.log({"check_failed": name, "got": got, "want": want})


# --------------------------------------------------------------------------
# per-layer metrics of a traced run


def watch_tables(tracer) -> None:
    """Register ``tables.table`` and its read path, the relation cache's miss."""
    from laser_hadoop_spark import tables

    tracer.watch(tables.table.__code__, "tables.table")
    tracer.watch(tables._read_table.__code__, "tables.read")


def watch_layers(tracer) -> None:
    """Register the engine's public layer functions with the tracer."""
    import importlib
    import pkgutil

    from laser_hadoop_spark import operators, plans, tables
    from laser_hadoop_spark.sources import sinks
    from laser_hadoop_spark.streaming import ops

    for pkg, prefix in ((operators, "operators"), (plans, "plans")):
        for info in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
            tracer.watch_module(mod, f"{prefix}.{info.name}")
    watch_tables(tracer)
    tracer.watch(
        tables.spread_scan.__code__, "tables.spread_scan",
        on_return=lambda frame, ret: tracer.count(
            "tables.spread_scan.applied", ret is not frame.f_locals.get("df")
        ),
    )

    def upsert_written(frame, _ret) -> None:
        base = frame.f_locals["base_dir"]
        files = [os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs if f.endswith(".parquet")]
        tracer.count("sources.files_written", len(files))
        tracer.count("sources.bytes_written", sum(os.path.getsize(f) for f in files))

    tracer.watch(sinks.upsert_parquet.__code__, "sources.upsert_parquet", on_return=upsert_written)
    merge_batch = next(
        c for c in ops.start_upsert_sink.__code__.co_consts
        if getattr(c, "co_name", None) == "merge_batch"
    )
    tracer.watch(merge_batch, "streaming.merge_batch")


def streaming_layers(stream: dict, tracer) -> dict:
    ran = batches(stream.get("progress", []))
    input_bytes = stream.get("input_bytes", 0)

    def total(key: str) -> float:
        return sum((p["durationMs"].get(key) or 0) for p in ran) / 1e3

    trigger_s = total("triggerExecution")
    state = [so for p in ran for so in p.get("stateOperators") or []]
    return {
        "streaming.trigger_s": (trigger_s, "s"),
        "streaming.add_batch_s": (total("addBatch"), "s"),
        "streaming.query_planning_s": (total("queryPlanning"), "s"),
        "streaming.wal_commit_s": (total("walCommit"), "s"),
        "streaming.trigger_overhead_s": (trigger_s - total("addBatch"), "s"),
        "streaming.triggers": (len(ran), "count"),
        # generated rows over pass_s, the fastest untraced pass, in which both pipelines
        # drain every row one after the other
        "streaming.rows_per_s": (
            stream["rows"] / stream["pass_s"] if stream else 0.0, "1/s"
        ),
        "streaming.state_rows": (
            max((so.get("numRowsTotal") or 0 for p in batches(stream.get("state_progress", []))
                 for so in p.get("stateOperators") or []), default=0),
            "count",
        ),
        "streaming.state_commit_s": (sum(so.get("commitTimeMs") or 0 for so in state) / 1e3, "s"),
        "sources.bytes_written_per_input_byte": (
            tracer.counts["sources.bytes_written"] / input_bytes if input_bytes else 0.0, "ratio"
        ),
    }


def per_layer_metrics(tracer, cold, per_query: dict, setup: dict, untraced_s: float,
                      traced_s: float, stream: dict, wl) -> dict:
    self_s, dur, calls = tracer.totals()
    # tables.* cover the warm-up pass (cold relation cache) and the traced pass
    _, cold_dur, cold_calls = cold.totals()
    qs = list(per_query.values())
    m: dict = {"queries.build_s": (dur["queries.build"], "s")}
    for key, unit in QUERY_SUMS[1:]:
        m[f"queries.{key}"] = (sum(q[key] for q in qs), unit)
    wall = sum(q["action_wall_s"] * q["cores"] for q in qs)
    m["queries.core_use"] = (sum(q["action_task_s"] for q in qs) / wall if wall else 0.0, "ratio")
    m["queries.task_skew"] = (max((q["task_skew"] for q in qs), default=0.0), "ratio")
    m["queries.self_s"] = (
        sum(self_s[n] for n in ("queries.query", "queries.build", "queries.action")), "s"
    )
    for prefix, mods in (("operators", OPERATOR_MODULES), ("plans", PLAN_MODULES)):
        for mod in mods:
            names = [n for n in calls if n.startswith(f"{prefix}.{mod}.")]
            m[f"{prefix}.{mod}.calls"] = (sum(calls[n] for n in names), "count")
            m[f"{prefix}.{mod}.self_s"] = (sum(self_s[n] for n in names), "s")
    n_table = calls["tables.table"] + cold_calls["tables.table"]
    n_read = calls["tables.read"] + cold_calls["tables.read"]
    n_spread = calls["tables.spread_scan"]
    m.update(
        {
            "tables.table.calls": (n_table, "count"),
            "tables.table.hit_ratio": (1 - n_read / n_table if n_table else 0.0, "ratio"),
            "tables.read_s": (dur["tables.read"] + cold_dur["tables.read"], "s"),
            "tables.spread_scan.calls": (n_spread, "count"),
            "tables.spread_scan.applied_ratio": (
                tracer.counts["tables.spread_scan.applied"] / n_spread if n_spread else 0.0,
                "ratio",
            ),
            "session.release_s": (dur["session.release_persisted"], "s"),
            "session.storage_peak_mb": (max((q["storage_peak_mb"] for q in qs), default=0.0), "MB"),
            "session.storage_residual_mb": (
                max((q["storage_residual_mb"] for q in qs), default=0.0), "MB"
            ),
            "session.jvm_gc_s": (tracer.counts["session.jvm_gc_s"], "s"),
            "warehouse.build_s": (setup.get("warehouse_s", 0.0), "s"),
        }
    )
    m.update(streaming_layers(stream, tracer))
    m.update(
        {
            "sources.upsert_s": (dur["sources.upsert_parquet"], "s"),
            "sources.files_written": (tracer.counts["sources.files_written"], "count"),
            "trace.untraced_pass_s": (untraced_s, "s"),
            "trace.traced_pass_s": (traced_s, "s"),
            "trace.overhead_s": (traced_s - untraced_s, "s"),
            "failure_rate": (wl.failed / wl.attempted, "fraction"),
        }
    )
    return m


def traced(tracer, spark, one_pass):
    """Run ``one_pass`` with the tracer on; count the JVM GC time it took."""
    from spans import jvm_gc_s

    gc0 = jvm_gc_s(spark)
    tracer.start()
    try:
        return one_pass()
    finally:
        tracer.stop()
        tracer.counts["session.jvm_gc_s"] = jvm_gc_s(spark) - gc0


# --------------------------------------------------------------------------
# main


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["batch", "ingest"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import pyspark

    import laser_hadoop_spark  # noqa: F401 - fail before any set-up work

    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run{os.getpid()}")
    os.makedirs(os.path.join(tmp, "tmp"))
    for var in ("TMPDIR", "TEMP", "TMP"):
        os.environ[var] = os.path.join(tmp, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    # Python workers unpickle UDFs defined in the package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    details: dict = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": cpus,
        "spark_version": pyspark.__version__,
        "events": [],
    }
    # memory is sampled in traced runs only: reading every process's page
    # tables four times a second takes CPU from the timed passes
    pss = PssPeak()
    if args.trace:
        pss.start()
    try:
        result = run(args, tmp, cpus, details, pss)
    finally:
        if args.trace:
            pss.stop()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass
    print(json.dumps(details, default=str))
    print(json.dumps(result))
    return 0


def run(args, tmp: str, cpus: int, details: dict, pss: PssPeak) -> dict:
    log = details["events"].append
    trace_mode = bool(args.trace)
    setup: dict = {}
    t = time.perf_counter()
    data_dir = os.path.join(tmp, "data")
    if args.workload == "ingest":
        events = write_events(args.seed, data_dir, N_FILES)
        details["input"] = {k: v for k, v in events.items() if k != "dir"}
    else:
        copy_corpus(args.seed, data_dir)
        details["corpus_fingerprint"] = fingerprint(
            [os.path.join(CORPUS, n) for n in os.listdir(CORPUS)]
        )
        with open(EXPECTED) as fh:
            expected = json.load(fh)
    setup["inputs_s"] = time.perf_counter() - t
    t = time.perf_counter()
    spark = start_spark(tmp, cpus)
    setup["jvm_s"] = time.perf_counter() - t
    tracer = cold = None
    per_query: dict = {}
    stream: dict = {}
    try:
        if trace_mode:
            from spans import Tracer

            tracer = Tracer()
            watch_layers(tracer)
            # the relation cache is cold only in the warm-up pass
            cold = Tracer()
            watch_tables(cold)
        if args.workload == "ingest":
            wl = IngestWorkload(spark, os.path.join(tmp, "stream"), log)
            t = time.perf_counter()
            # the warm-up pass drains the same files, so every path a timed
            # pass takes (the upsert merges included) has run once
            wl.one_pass(events)
            setup["warmup_s"] = time.perf_counter() - t
            walls, passes = [], []
            for _ in range(TIMED_PASSES):
                res = wl.one_pass(events)
                walls.append(res["pass_s"])
                # an operation is the i-th micro-batch of a pipeline
                passes.append({
                    f"{pipe}:{i}": p["durationMs"]["triggerExecution"] / 1e3
                    for pipe in ("upsert", "tws") for i, p in enumerate(batches(res[pipe]))
                })
            if trace_mode:
                res = traced(tracer, spark, lambda: wl.one_pass(events))
                traced_s = res["pass_s"]
                stream = {"progress": res["upsert"] + res["tws"], "state_progress": res["tws"],
                          "input_bytes": events["input_bytes"], "rows": events["rows"],
                          "pass_s": min(walls)}
        else:
            wl = BatchWorkload(spark, QUERIES, data_dir, args.seed, log)
            from laser_hadoop_spark.warehouse import ensure_bucketed_facts

            t = time.perf_counter()
            ensure_bucketed_facts(spark, data_dir)
            setup["warehouse_s"] = time.perf_counter() - t
            t = time.perf_counter()
            if cold is not None:
                cold.start()
            try:
                wl.check_pass(expected)
            finally:
                if cold is not None:
                    cold.stop()
            setup["warmup_s"] = time.perf_counter() - t
            walls, passes = [], []
            for pass_no in range(1, TIMED_PASSES + 1):
                wall, ops = wl.timed_pass(pass_no)
                walls.append(wall)
                passes.append(ops)
            if trace_mode:
                traced_s = traced(
                    tracer, spark, lambda: wl.traced_pass(TIMED_PASSES + 1, tracer, per_query)
                )
    finally:
        stop_spark(spark)
    pass_s = min(walls)
    op_s = {k: min(p[k] for p in passes if k in p) for k in passes[0]}
    details["setup"] = setup
    details["warmup"] = getattr(wl, "warmup", None)
    details["pass_walls"] = walls
    details["passes"] = passes
    details["attempted"], details["failed"] = wl.attempted, wl.failed
    if trace_mode:
        metrics = per_layer_metrics(tracer, cold, per_query, setup, pass_s, traced_s, stream, wl)
        metrics["op_geomean_s"] = (math.exp(statistics.fmean(math.log(x) for x in op_s.values())), "s")
        metrics["op_max_s"] = (max(op_s.values()), "s")
        metrics["process.pss_peak_mb"] = (pss.peak / 1e6, "MB")
        details["per_query"] = per_query
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
    else:
        metrics = {
            "setup_s": (sum(setup.values()), "s"),
            "pass_s": (pass_s, "s"),
        }
    return {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
