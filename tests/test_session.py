"""Session hygiene: what ``session.release_persisted`` frees and keeps,
and the defaults ``session.get_spark`` builds a session with.

Long sessions (bench.py, the oracle sweeps, a driver) run many queries
back to back and call ``release_persisted`` between them, so storage
held by finished queries never depends on when the JVM runs GC.
"""

from __future__ import annotations

import os
from types import SimpleNamespace

from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from laser_hadoop_spark import registry, session
from laser_hadoop_spark.session import (
    _broadcast_ids,
    persisted_rdd_ids,
    release_persisted,
)


def _persistent_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _broadcast_join(spark):
    fact = spark.range(10_000).selectExpr("id", "id % 10 AS k")
    dim = spark.range(10).selectExpr("id AS k", "id * 2 AS v")
    return fact.join(F.broadcast(dim), "k").groupBy("v").count()


def test_release_persisted_frees_checkpoint_blocks(spark):
    release_persisted(spark)  # start clean regardless of test order
    df = spark.range(100_000).selectExpr("id", "id * 2 AS y").localCheckpoint(
        eager=True
    )
    assert df.count() == 100_000
    assert _persistent_count(spark) >= 1
    freed = release_persisted(spark)
    assert freed >= 1
    assert _persistent_count(spark) == 0


def test_compare_query_releases_persisted(spark, sf_dir):
    """compare_query (the pytest-corpus/sweep fetch path) frees each
    query's blocks by construction — even a checkpoint-heavy query
    leaves nothing behind."""
    from laser_hadoop_spark.testing import compare_query

    release_persisted(spark)
    spec = registry.specs()["q_matrix_profile"]  # two eager checkpoints
    res = compare_query(spark, None, spec.name, spec.fn, None, sf_dir)
    assert res.ok
    assert _persistent_count(spark) == 0


def test_release_persisted_keep_ids_scopes_the_release(spark):
    """ADVICE r11: compare_query snapshots persisted_rdd_ids before the
    fetch and releases only blocks created during it — a caller's own
    persisted DataFrame survives a compare_query call intact."""
    from laser_hadoop_spark.session import persisted_rdd_ids, release_persisted

    release_persisted(spark)
    outer = spark.range(100_000).localCheckpoint(eager=True)
    assert outer.count() == 100_000
    pre = persisted_rdd_ids(spark)
    assert pre  # the checkpoint pinned at least one RDD
    inner = spark.range(50_000).localCheckpoint(eager=True)
    assert inner.count() == 50_000
    released = release_persisted(spark, keep_ids=pre)
    assert released >= 1  # inner's blocks went
    assert persisted_rdd_ids(spark) == pre  # outer's stayed
    # outer remains fully actionable after the scoped release —
    # localCheckpoint truncated its lineage, so this count would throw
    # block-not-found if its blocks had been released
    assert outer.count() == 100_000
    release_persisted(spark)
    assert persisted_rdd_ids(spark) == set()


def test_release_frees_broadcast_join_blocks(spark):
    """A broadcast join's relation (and its stages' task binaries) are
    broadcast blocks; the release removes them all, with no JVM GC."""
    release_persisted(spark, blocking=True)
    df = _broadcast_join(spark)
    assert sorted(r["count"] for r in df.collect()) == [1000] * 10
    assert _broadcast_ids(spark)
    release_persisted(spark, blocking=True)
    assert _broadcast_ids(spark) == set()


def test_scoped_release_keeps_broadcasts_created_before_the_snapshot(spark):
    release_persisted(spark, blocking=True)
    kept = spark.sparkContext.broadcast(list(range(1000)))
    kept_id = kept._jbroadcast.id()
    snapshot = persisted_rdd_ids(spark)
    assert snapshot.broadcast_max == kept_id
    _broadcast_join(spark).collect()
    assert _broadcast_ids(spark) - {kept_id}  # the query made its own
    release_persisted(spark, blocking=True, keep_ids=snapshot)
    assert _broadcast_ids(spark) == {kept_id}
    rdd = spark.sparkContext.parallelize([0, 999], 2)
    assert rdd.map(lambda i: kept.value[i]).collect() == [0, 999]
    kept.unpersist(blocking=True)
    release_persisted(spark, blocking=True)


def test_recollect_after_release_is_right_or_raises(spark):
    """A DataFrame whose blocks were released may be collected again: it
    must return its rows or fail loudly, never return other rows."""
    release_persisted(spark, blocking=True)
    frames = {
        "broadcast join": _broadcast_join(spark),
        "checkpointed broadcast join": _broadcast_join(spark).localCheckpoint(eager=True),
    }
    want = {name: sorted(df.collect()) for name, df in frames.items()}
    release_persisted(spark, blocking=True)
    assert _broadcast_ids(spark) == set()
    assert _persistent_count(spark) == 0
    for name, df in frames.items():
        try:
            got = sorted(df.collect())
        except (Py4JJavaError, PySparkException):  # failing loudly is allowed
            continue
        assert got == want[name], name
    release_persisted(spark, blocking=True)


class _RecordingBuilder:
    """Stands in for SparkSession.builder: records the settings get_spark
    makes, so its defaults are checked without starting a second JVM."""

    def __init__(self) -> None:
        self.conf: dict[str, str] = {}

    def appName(self, name):  # noqa: N802 - mirrors the pyspark API
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):  # noqa: N802 - mirrors the pyspark API
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda level: None))


def test_get_spark_sizes_the_session_to_the_host(monkeypatch):
    builder = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    session.get_spark()
    cpus = len(os.sched_getaffinity(0))
    assert builder.conf["master"] == f"local[{cpus}]"
    assert builder.conf["spark.sql.shuffle.partitions"] == str(cpus)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    session.get_spark()
    assert builder.conf["master"] == "local[3]"
    assert builder.conf["spark.sql.shuffle.partitions"] == "3"


def test_cached_frame_collected_after_release_stores_nothing(spark):
    """The release resets each RDD's storage level, so a cached DataFrame
    collected again recomputes its rows without re-storing blocks that
    no later release could see."""
    release_persisted(spark, blocking=True)
    base = session.storage_memory_used(spark)
    df = spark.range(100_000).selectExpr("sha2(cast(id AS string), 256) AS h").cache()
    assert df.count() == 100_000
    assert session.storage_memory_used(spark) - base > 2_000_000
    assert release_persisted(spark, blocking=True) >= 1
    assert df.count() == 100_000
    assert _persistent_count(spark) == 0
    release_persisted(spark, blocking=True)
    assert session.storage_memory_used(spark) - base < 1_000_000


def _sized_frame(est_bytes: int, cores: int = 4):
    """Stands in for a DataFrame whose optimized plan estimates
    ``est_bytes``, on a session with ``cores`` default parallelism."""
    stats = SimpleNamespace(sizeInBytes=lambda: est_bytes)
    plan = SimpleNamespace(stats=lambda: stats)
    qe = SimpleNamespace(optimizedPlan=lambda: plan)
    return SimpleNamespace(
        sparkSession=SimpleNamespace(
            sparkContext=SimpleNamespace(defaultParallelism=cores)
        ),
        _jdf=SimpleNamespace(queryExecution=lambda: qe),
    )


def test_adaptive_kernel_partitions_is_capped():
    akp = session.adaptive_kernel_partitions
    assert akp(_sized_frame(1 << 20)) == 4  # small input: the core floor
    assert akp(_sized_frame(10 << 30)) == 160  # 10 GB / 64 MB
    assert akp(_sized_frame(10 << 30), multiplier=2.0) == 320
    # an estimate just under the 2^50 sanity bound asked for 16M tasks
    cap = 4 * session._MAX_TASKS_PER_CORE
    assert akp(_sized_frame((1 << 50) - 1)) == cap
    assert akp(_sized_frame(1 << 40), multiplier=24.0) == cap
    assert akp(_sized_frame(1 << 50)) == 4  # the unsized-relation default
    assert akp(_sized_frame(0)) == 4
