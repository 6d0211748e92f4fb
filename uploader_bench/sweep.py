#!/usr/bin/env python3
"""Run the uploader benchmark once per seed and summarise every metric.

From the repository root::

    python3 uploader_bench/sweep.py --seeds 10            # end-to-end metrics
    python3 uploader_bench/sweep.py --seeds 3 --trace 1   # per-layer metrics

Runs every workload of ``BENCHMARK.json`` with seeds 1 to ``--seeds`` and its
``run_seconds``, in sequence, one Spark process at a time. For each workload and
metric it prints the median, the quartiles (``statistics.quantiles(n=4)``)
and their spread, the distance between the quartiles as a share of the
median, next to the metric's bound from ``BENCHMARK.json``; also
``failed_frac`` (failed calls / calls attempted) and the wall time per run.
With ``--trace 1`` it checks that the job and stage counts and the meta
store calls repeat exactly across runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXACT_COUNTS = ("jobs_per_run", "crs.read_jobs", "diff.merge_stats_jobs", "target.stage_jobs",
                "target.stage_stages", "uploader.jobs_outside", "meta.calls")


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    ok = True
    for w in (w["name"] for w in bench["workloads"]):
        results, walls = [], []
        for seed in range(1, args.seeds + 1):
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            )
            walls.append(time.perf_counter() - t0)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {proc.returncode}", file=sys.stderr)
                ok = False
                continue
            results.append(json.loads(lines[-1]))
            print(f"{w} seed {seed}: {walls[-1]:.1f} s wall", file=sys.stderr, flush=True)
        if not results:
            continue
        attempted = sum(r["attempted"] for r in results)
        failed = sum(r["failed"] for r in results)
        ok &= failed == 0 and all(r["correct"] for r in results)
        print(f"\n{w}: {len(results)} runs, wall per run median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s; failed_frac = {failed}/{attempted}")
        print(f"  {'metric':26} {'unit':7} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} bound")
        for name, m in results[0]["metrics"].items():
            vals = [r["metrics"][name]["value"] for r in results]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else float("nan")
            bound = bounds.get(name)
            flag = ""
            if args.trace and name in EXACT_COUNTS and len(set(vals)) > 1:
                flag, ok = " counts differ across runs", False
            print(f"  {name:26} {m['unit']:7} {med:12.6g} {q1:12.6g} {q3:12.6g} "
                  f"{spread:7.3f} {'' if bound is None else bound}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
