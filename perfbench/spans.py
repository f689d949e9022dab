"""Spans around calls into the engine's public layer functions.

The tracer never edits the package. It registers the code objects of the
public functions it should watch and installs a ``sys.setprofile`` hook
(on this thread and, through ``threading.setprofile``, on every thread
started later, such as the callback threads that run streaming
``foreachBatch`` functions). A call of a watched code object opens a
span; its return closes it. The benchmark opens its own spans around
query builds, planning, actions and session work with ``span()``.

Spans stay in memory; ``write()`` dumps them at exit. A span's self time
is its duration minus the time its child spans cover. Spans carry their
thread: a query that calls operators from a thread pool has spans on
several threads at once, and only the spans of the thread that ran the
query add up to its wall time.
"""

from __future__ import annotations

import inspect
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []  # (id, parent, name, op, thread, t0, t1, self_s)
        self.op: str | None = None  # query execution id; triggers set their own
        self.counts: dict = defaultdict(float)  # counters read at span boundaries
        self._targets: dict = {}  # code object -> span name
        self._on_return: dict = {}  # span name -> fn(frame, return value)
        self._local = threading.local()
        self._next_id = 0
        self._lock = threading.Lock()

    # -- registration -------------------------------------------------
    def watch_module(self, module, prefix: str) -> None:
        """Watch every public function defined in ``module``."""
        for name, fn in vars(module).items():
            if (
                inspect.isfunction(fn)
                and fn.__module__ == module.__name__
                and not name.startswith("_")
            ):
                self._targets[fn.__code__] = f"{prefix}.{name}"

    def watch(self, code, name: str, on_return=None) -> None:
        self._targets[code] = name
        if on_return is not None:
            self._on_return[name] = on_return

    # -- span stack ---------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
            self._local.op = None
        return st

    def _open(self, name: str, frame=None) -> None:
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        st = self._stack()
        if frame is not None and "batch_id" in frame.f_locals:
            # a streaming foreachBatch function: one op id per trigger
            self._local.op = f"trigger:{frame.f_locals['batch_id']}"
        # [id, parent, name, t0, frame, child seconds]
        st.append([sid, st[-1][0] if st else None, name, time.perf_counter(), frame, 0.0])

    def _close(self) -> None:
        st = self._stack()
        sid, parent, name, t0, _frame, child = st.pop()
        t1 = time.perf_counter()
        dur = t1 - t0
        if st:
            st[-1][5] += dur
        op = self._local.op or self.op
        self.spans.append((sid, parent, name, op, threading.get_ident(), t0, t1, dur - child))

    @contextmanager
    def span(self, name: str):
        self._open(name)
        try:
            yield
        finally:
            self._close()

    def _hook(self, frame, event, arg):
        if event != "call" and event != "return":
            return
        name = self._targets.get(frame.f_code)
        if name is None:
            return
        if event == "call":
            self._open(name, frame)
        else:
            st = self._stack()
            if st and st[-1][4] is frame:
                cb = self._on_return.get(name)
                if cb is not None:
                    cb(frame, arg)
                self._close()
                if not st:
                    self._local.op = None

    def start(self) -> None:
        threading.setprofile(self._hook)
        sys.setprofile(self._hook)

    def stop(self) -> None:
        sys.setprofile(None)
        threading.setprofile(None)

    # -- results ------------------------------------------------------
    def count(self, name: str, value: float) -> None:
        with self._lock:
            self.counts[name] += value

    def totals(self) -> tuple[dict, dict, dict]:
        """(self seconds, total seconds, calls) per span name."""
        self_s: dict = defaultdict(float)
        dur: dict = defaultdict(float)
        calls: dict = defaultdict(int)
        for _sid, _parent, name, _op, _thread, t0, t1, s in self.spans:
            self_s[name] += s
            dur[name] += t1 - t0
            calls[name] += 1
        return self_s, dur, calls

    def write(self, path: str) -> None:
        keys = ("id", "parent", "name", "op", "thread", "t0", "t1", "self_s")
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(dict(zip(keys, sp))) + "\n")


def stage_ids(spark, job_ids: list[int]) -> set[int]:
    store = spark.sparkContext._jsc.sc().statusStore()
    out: set[int] = set()
    for j in job_ids:
        ids = store.job(j).stageIds()
        out.update(int(ids.apply(i)) for i in range(ids.size()))
    return out


def stage_metrics(spark, ids: set[int]) -> list[dict]:
    """Per-stage numbers from Spark's AppStatusStore.

    The status store is kept with ``spark.ui.enabled=false``; the stages
    are serialized to JSON inside the JVM, one call for the lot. Skipped
    stages are dropped. Each dict carries the stage's task count, run,
    CPU and GC time, shuffle bytes and spill; the longest stage also
    carries its median and maximum task run time, for task skew.
    """
    if not ids:
        return []
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    mapper = jvm.org.apache.spark.status.api.v1.JacksonMessageWriter().mapper()
    lst = jvm.java.util.ArrayList()
    for sid in sorted(ids):
        lst.add(store.lastStageAttempt(sid))
    out = []
    for st in json.loads(mapper.writeValueAsString(lst)):
        if st["status"] != "COMPLETE":
            continue
        out.append(
            {
                "stage": st["stageId"],
                "attempt": st["attemptId"],
                "tasks": st["numTasks"],
                "run_s": st["executorRunTime"] / 1e3,
                "cpu_s": st["executorCpuTime"] / 1e9,
                "gc_s": st["jvmGcTime"] / 1e3,
                "shuffle_write_mb": st["shuffleWriteBytes"] / 1e6,
                "shuffle_read_mb": st["shuffleReadBytes"] / 1e6,
                "spill_mb": (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / 1e6,
            }
        )
    if out:
        longest = max(out, key=lambda s: s["run_s"])
        q = sc._gateway.new_array(jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = store.taskSummary(longest["stage"], longest["attempt"], q)
        if summary.isDefined():
            run = json.loads(mapper.writeValueAsString(summary.get()))["executorRunTime"]
            longest["task_median_s"], longest["task_max_s"] = run[0] / 1e3, run[1] / 1e3
    return out


def job_ids_for(spark, group: str) -> list[int]:
    """Ids of the jobs run under ``group``, once the listener bus has
    delivered every event to the status store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def first_job_submit_ms(spark, job_ids: list[int]) -> int | None:
    """Epoch milliseconds at which the earliest of ``job_ids`` was submitted."""
    store = spark.sparkContext._jsc.sc().statusStore()
    times = []
    for j in job_ids:
        sub = store.job(j).submissionTime()
        if sub.isDefined():
            times.append(int(sub.get().getTime()))
    return min(times) if times else None


def jvm_gc_s(spark) -> float:
    """Cumulative JVM garbage-collection time, all collectors."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, int(b.getCollectionTime())) for b in beans) / 1e3
