#!/usr/bin/env python3
"""Run each workload on several seeds and record how steady its metrics are.

Run from the repository root:

    python3 perfbench/steadiness.py --out perfbench/BASELINE.json

For every workload in BENCHMARK.json it makes ten untraced runs with
seeds 1..10, then one traced run with seed 0, all through
BENCHMARK.json's command. For each end-to-end metric it records the
values, the median, the quartiles (``statistics.quantiles(n=4)``) and the
spread, the distance between the quartiles as a share of the median, and
whether that spread is within a tenth and within a third of the metric's
bound. Traced runs add the per-layer metrics. The file is a baseline that
later changes compare against.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS = 10


def one_run(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{proc.stderr[-2000:]}")
    return {"wall_s": wall, "result": json.loads(lines[-1]), "details": json.loads(lines[-2])}


def summarize(values: list[float], bound: float | None) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / med if med else 0.0
    out = {"median": med, "q1": q1, "q3": q3, "spread": spread,
           "repeats_within_tenth": spread <= 0.1, "values": values}
    if bound is not None:
        out["bound"] = bound
        out["within_third_of_bound"] = spread < bound / 3
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    report: dict = {"run_seconds": bench["run_seconds"], "workloads": {}}
    for wl in (w["name"] for w in bench["workloads"]):
        runs = [one_run(bench, wl, seed, 0) for seed in range(1, RUNS + 1)]
        traced = one_run(bench, wl, 0, 1)
        first = runs[0]["details"]
        entry = {
            "nproc": first["nproc"],
            "spark_version": first["spark_version"],
            "corpus_fingerprint": first.get("corpus_fingerprint"),
            "attempted": sum(r["result"]["attempted"] for r in runs),
            "failed": sum(r["result"]["failed"] for r in runs),
            "wall_s": summarize([r["wall_s"] for r in runs], None),
            "end_to_end": {
                m: summarize([r["result"]["metrics"][m]["value"] for r in runs], bounds[m])
                for m in bounds
            },
            "per_layer": {m: v["value"] for m, v in traced["result"]["metrics"].items()},
            "per_query": traced["details"].get("per_query"),
        }
        report["workloads"][wl] = entry
        print(json.dumps({wl: {m: round(s["spread"], 4) for m, s in entry["end_to_end"].items()}}),
              file=sys.stderr)
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
