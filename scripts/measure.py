#!/usr/bin/env python
"""Per-query measurement harness (guide §1).

For each query: best-of-3 noop-sink time (the plan is rebuilt per run,
so no AQE-materialized stage is reused), the job count of one noop
execution (DAGScheduler.nextJobId before/after), and the formatted
physical plan written to plans/<tag>/<name>.txt.

Plan capture sees through checkpoints: localCheckpoint truncates
lineage, so a checkpoint-rooted plan hides every stage upstream of the
pin. During the capture build DataFrame.localCheckpoint is wrapped to
also dump its input's formatted plan; the fragments are appended to the
plan file under '=== pre-checkpoint fragment N ===' headers.

Usage: python scripts/measure.py [tag] [query ...]
  tag      plan directory under plans/ (default "before")
  query    subset of registry names (default: bench.HEADLINE)
  SPARK_GRAFT_SF_DIR selects the corpus (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
try:  # Spark 4: sessions hand out the classic DataFrame subclass —
    # patching the pyspark.sql.DataFrame base would never be hit
    from pyspark.sql.classic.dataframe import DataFrame
except ImportError:  # pragma: no cover - older Spark
    from pyspark.sql import DataFrame
from laser_hadoop_spark import registry
from laser_hadoop_spark.session import get_spark, release_persisted

REPS = 3


def _fmt_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or bench.HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag
    )
    os.makedirs(plans_dir, exist_ok=True)
    spark = get_spark("measure")
    sc = spark.sparkContext
    specs = registry.specs()
    try:
        from laser_hadoop_spark.warehouse import ensure_bucketed_facts

        ensure_bucketed_facts(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001
        print(json.dumps({"warehouse_error": str(exc)}), flush=True)

    def _job_count() -> int:
        # DAGScheduler.nextJobId is the total jobs ever submitted in
        # this context — a monotone counter, so a before/after diff is
        # the number of jobs one execution submitted.
        return int(sc._jsc.sc().dagScheduler().nextJobId())

    total_noop = 0.0
    for name in names:
        fn = specs[name].fn
        sc.setJobDescription(f"measure:{name}")
        # plan capture (fresh build, pre-execution) with checkpoint
        # transparency: every localCheckpoint's INPUT plan is dumped as
        # a fragment alongside the top-level (checkpoint-rooted) plan.
        fragments: list[str] = []
        orig_ckpt = DataFrame.localCheckpoint

        def _capturing_ckpt(self, eager=True):  # noqa: ANN001
            try:
                fragments.append(_fmt_plan(self))
            except Exception:  # noqa: BLE001 - capture must never break the build
                fragments.append("<fragment capture failed>")
            return orig_ckpt(self, eager=eager)

        DataFrame.localCheckpoint = _capturing_ckpt
        try:
            df = fn(spark, sf_dir)
            plan = _fmt_plan(df)
        finally:
            DataFrame.localCheckpoint = orig_ckpt
        with open(os.path.join(plans_dir, f"{name}.txt"), "w") as fh:
            fh.write(plan)
            for i, frag in enumerate(fragments):
                fh.write(f"\n\n=== pre-checkpoint fragment {i} ===\n")
                fh.write(frag)
        release_persisted(spark)
        # warmup (untimed) + job count for one noop execution
        j0 = _job_count()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        n_jobs = _job_count() - j0
        release_persisted(spark)
        best_noop = float("inf")
        for _ in range(REPS):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best_noop = min(best_noop, time.perf_counter() - t0)
            release_persisted(spark)
        total_noop += best_noop
        print(
            json.dumps(
                {
                    "query": name,
                    "noop_sec": round(best_noop, 3),
                    "jobs": n_jobs,
                    "ckpt_fragments": len(fragments),
                }
            ),
            flush=True,
        )
    print(
        json.dumps(
            {
                "summary": True,
                "tag": tag,
                "total_noop_sec": round(total_noop, 3),
                "n_queries": len(names),
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
