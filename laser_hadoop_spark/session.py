"""SparkSession factory with the engine's physical defaults.

Encodes the physical-execution choices from SURVEY.md §4: AQE on
(runtime re-plan, partition coalescing, skew-join splitting), Arrow for
every Python<->JVM transfer, UTC session time zone (oracle determinism),
and shuffle partitioning sized for the local harness while remaining
AQE-governed at cluster scale.

The reference hard-codes its physical plan (map-only jobs, distributed-
cache broadcast, 1 task per batch file — LASERInputValidator.java:114-126);
here every one of those choices is delegated to Catalyst/AQE.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# Defaults appropriate both for the local[N] harness and, with
# master/memory overridden, for a large cluster: everything here is a
# logical-plan / optimizer setting, not a hard-coded physical choice.
ENGINE_CONF: dict[str, str] = {
    # Adaptive query execution: runtime shuffle-partition coalescing,
    # join-strategy switching, and skew-join splitting. At 100 TB this is
    # what keeps a static shuffle.partitions number from mattering.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Runtime (injected) bloom filters: when one join side is selective,
    # Catalyst builds a bloom from it and prunes the other side's scan —
    # the automatic sibling of operators/bloom.py's explicit form.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Arrow batches for all pandas UDF / toPandas / createDataFrame paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamps vs the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Broadcast threshold: dims (region/nation/part/supplier and the
    # reference-panel site tables) broadcast automatically; AQE can also
    # convert SMJ->BHJ at runtime using observed sizes.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Columnar parquet writes with snappy; vectorized reader on.
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.sql.parquet.enableVectorizedReader": "true",
    # ANSI off: permissive casts match the reference's text-parsing model.
    "spark.sql.ansi.enabled": "false",
}


def ensure_vendored_protobuf() -> bool:
    """Put the repo's vendored pure-Python protobuf on the import path.

    transformWithStateInPandas speaks a protobuf wire protocol between
    the Python worker and the JVM state server; pyspark ships only the
    generated module, not the runtime. This container has no PyPI
    access, so ``vendor/google/protobuf`` carries the public
    BSD-licensed pure-Python runtime (see vendor/.../runtime_version.py
    for the one-line version-gate note). Both sys.path (driver) and
    PYTHONPATH (inherited by executor Python workers — call BEFORE the
    JVM starts) are extended. Returns True when protobuf is importable.
    """
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        pass
    vendor = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "vendor")
    if not os.path.isdir(os.path.join(vendor, "google", "protobuf")):
        return False
    import sys

    if vendor not in sys.path:
        sys.path.insert(0, vendor)
    prior = os.environ.get("PYTHONPATH", "")
    if vendor not in prior.split(os.pathsep):
        os.environ["PYTHONPATH"] = vendor + (os.pathsep + prior if prior else "")
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


class PersistedSnapshot(frozenset):
    """What a session held at one moment: the persisted RDD ids (the set
    itself, so it compares equal to a plain set of ids) and
    ``broadcast_max``, the largest broadcast id then in block storage
    (-1 when none). Broadcast ids only increase, so every broadcast
    created after the snapshot has a larger id."""

    broadcast_max: int

    def __new__(cls, rdd_ids, broadcast_max: int):
        snap = super().__new__(cls, rdd_ids)
        snap.broadcast_max = broadcast_max
        return snap


def _broadcast_ids(spark: SparkSession) -> set[int]:
    """Ids of the broadcasts whose blocks the driver's block manager
    holds. The driver keeps a copy of every broadcast it creates, so in
    local mode and on a cluster alike this lists all of them.

    The listing crosses py4j as one string of ``(name,info)`` pairs, one
    call instead of three per block; broadcast block names are
    ``broadcast_<id>`` and ``broadcast_<id>_piece<n>``."""
    env = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get()
    listing = env.blockManager().blockInfoManager().entries().mkString(",")
    return {int(i) for i in re.findall(r"\(broadcast_(\d+)[,_]", listing)}


def _rdd_ids(rdds) -> set[int]:
    """Ids of a ``SparkContext.getPersistentRDDs`` map, listed in one
    py4j call; walking the Java map view costs round trips per entry."""
    return {int(i) for i in rdds.keys().mkString(",").split(",") if i}


def release_persisted(
    spark: SparkSession,
    blocking: bool = False,
    keep_ids: PersistedSnapshot | None = None,
) -> int:
    """Free the storage a finished query left in the session.

    Frees two kinds of blocks:

    - every persisted RDD, which covers ``persist()``/``cache()`` and
      the ``localCheckpoint`` blocks the operators pin for one query;
    - every broadcast, which covers Spark SQL broadcast-join relations
      and the task binaries of finished stages. The removal reaches
      every executor that holds a copy.

    Scope: with ``keep_ids=None`` everything goes. With a snapshot
    from ``persisted_rdd_ids`` taken before the query, only what was
    created since goes: RDDs whose id is not in the snapshot and
    broadcasts with an id above its ``broadcast_max``. A caller that
    holds a persisted or checkpointed DataFrame across the call keeps
    its blocks.

    Precondition: call it between queries, never while a job (or a
    streaming query) runs, since removing a running stage's task binary
    fails its tasks. A DataFrame collected again after the release
    either recomputes its result or raises; it never returns other
    rows.

    ``blocking`` waits for the block removal to finish. Returns the
    number of RDDs unpersisted.
    """
    rdds = spark.sparkContext._jsc.sc().getPersistentRDDs()
    ids = _rdd_ids(rdds) - (keep_ids or set())
    for rid in ids:
        # RDD.unpersist, not SparkContext.unpersistRDD: it also resets the
        # RDD's storage level, so a cached DataFrame collected again does
        # not re-store blocks that no longer show as persisted.
        rdds.apply(rid).unpersist(blocking)
    floor = -1 if keep_ids is None else keep_ids.broadcast_max
    master = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get().blockManager().master()
    for bid in _broadcast_ids(spark):
        if bid > floor:
            master.removeBroadcast(bid, True, blocking)
    return len(ids)


def persisted_rdd_ids(spark: SparkSession) -> PersistedSnapshot:
    """Snapshot for a scoped ``release_persisted``: the persisted RDD
    ids, plus the largest broadcast id the session holds."""
    rdd_ids = _rdd_ids(spark.sparkContext._jsc.sc().getPersistentRDDs())
    return PersistedSnapshot(rdd_ids, max(_broadcast_ids(spark), default=-1))


def storage_memory_used(spark: SparkSession) -> int:
    """Bytes currently held by this JVM's block-manager memory store.

    Diagnostic hook (local mode: the driver's store IS the executor
    store) used by bench.py and the session-mode tests to prove the
    release_persisted() discipline keeps storage bounded across a
    multi-query session."""
    env = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get()
    return int(env.blockManager().memoryStore().memoryUsed())


# Target kernel input per partition of adaptive_kernel_partitions, and
# its ceiling in partitions per core: 64 GB of kernel input per core.
_TARGET_PARTITION_MB = 64
_MAX_TASKS_PER_CORE = 1024


def adaptive_kernel_partitions(df, *, multiplier: float = 1.0) -> int:
    """Partition count for a compute-bound Arrow-kernel shuffle:
    ``max(defaultParallelism, estimated_input_bytes * multiplier /
    64 MB)`` (``_TARGET_PARTITION_MB``).

    AQE's byte-based coalescing serializes compute-bound mapInPandas
    stages (PERF_NOTES round 12), so those stages pin an explicit
    ``repartition(N)``. But pinning N to defaultParallelism alone ties
    partition COUNT to cores while partition BYTES grow with the data
    (VERDICT_r12 what's-wrong #2): at 100 TB a kernel task would hold
    corpus/cores bytes — a spill/OOM cliff instead of a serialization
    one. This derives N from Catalyst's size estimate of the kernel's
    input relation, floored at defaultParallelism. ``multiplier``
    scales a pre-fan-out estimate to the actual kernel stream (e.g.
    x n_tables when every row is replicated per LSH table, or x24 when
    a text scan explodes into per-character gram rows — Catalyst's
    Generate estimate does not model output multiplicity). At bench
    scale the estimate stays under 64 MB x cores so the floor
    rules and plans are byte-identical to the r12 pinned form; the
    bytes term exists for corpus scale, where partition size — not
    count — is the binding constraint.

    An unknown or absurd estimate (<=0, or the optimizer's
    Long.MaxValue default for unsized relations) falls back to the
    defaultParallelism floor rather than exploding the task count, and
    no estimate yields more than ``_MAX_TASKS_PER_CORE`` partitions per
    core: Catalyst's estimates for joins and generators can be inflated
    by orders of magnitude, and such an estimate then costs at most that
    many waves of tasks, not millions of tasks.
    """
    sc = df.sparkSession.sparkContext
    dp = sc.defaultParallelism
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 - the estimate is a safety valve only
        return dp
    if est <= 0 or est >= (1 << 50):
        return dp
    n = int(est * multiplier) // (_TARGET_PARTITION_MB << 20)
    return max(dp, min(n, dp * _MAX_TASKS_PER_CORE))


def get_spark(
    app_name: str = "laser_hadoop_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[N]`` and ``shuffle_partitions`` to N,
    where N is ``$SPARK_GRAFT_CPUS`` or else the CPUs this process may run
    on. On a real cluster set ``SPARK_MASTER`` and submit through
    spark-submit, which sets master.
    """
    ensure_vendored_protobuf()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    conf = dict(ENGINE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    conf.setdefault("spark.ui.enabled", "false")
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
