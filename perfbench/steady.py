#!/usr/bin/env python3
"""Steadiness check: run one workload N times and summarize each metric.

    python3 perfbench/steady.py --workload htap_mor --runs 10 \
        [--first-seed 1] [--seconds S] [--trace 0|1] [--out runs.jsonl]

Runs ``perfbench/run.py`` sequentially, seed ``first-seed + i`` for run
``i`` (``--seconds`` defaults to ``run_seconds`` of BENCHMARK.json), and
prints per metric the median, the first and third quartiles
(``statistics.quantiles(values, n=4)``) and the spread, (Q3 - Q1) /
median, beside the bound from BENCHMARK.json. A bound is sound when
the spread stays below a third of it. Also prints the wall time of each
run, which sizes the run budget. ``--out`` appends each run's result
line to a file.
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


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    results, walls = [], []
    for i in range(args.runs):
        seed = args.first_seed + i
        cmd = [sys.executable, os.path.join(HERE, "run.py"),
               "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(args.trace)]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                              timeout=600)
        walls.append(time.perf_counter() - t0)
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            print(f"run {i} (seed {seed}) exited {proc.returncode}")
            return 1
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        results.append(res)
        if args.out:
            summary = [json.loads(x[2:]) for x in lines if x.startswith("# {")]
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": seed,
                                    "wall_s": walls[-1], **res,
                                    "summary": summary[-1] if summary else None}) + "\n")
        print(f"run {i} seed {seed}: {walls[-1]:.1f}s correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']}", flush=True)

    print(f"\n{args.workload}: {len(results)} runs, wall median "
          f"{statistics.median(walls):.1f}s max {max(walls):.1f}s")
    print(f"{'metric':34} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(name)
        print(f"{name:34} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f} "
              f"{'' if b is None else b:>6}")
    shares = {r["failed"] / r["attempted"] for r in results}
    print(f"failed share per run: {sorted(shares)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
