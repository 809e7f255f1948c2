#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's median
and quartile spread, (Q3 - Q1) / median with
``statistics.quantiles(n=4)``, the steadiness figure the benchmark's
bounds are checked against.

    python3 perfbench/spread.py --workload sql_analytics --seeds 1-10 --out spread.json
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


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10")
    ap.add_argument("--seconds", type=int, default=None,
                    help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=None, help="write runs and summary as JSON")
    args = ap.parse_args(argv)
    if len(seeds(args.seeds)) < 2:
        ap.error("a spread needs at least two seeds")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = args.seconds or json.load(f)["run_seconds"]

    runs = []
    for seed in seeds(args.seeds):
        t0 = time.monotonic()
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=900,
        )
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(p.stdout.strip().splitlines()[-1])
        runs.append({"seed": seed, "wall_s": time.monotonic() - t0, **result})
        print(seed, f"{runs[-1]['wall_s']:.1f}s", result["correct"],
              {k: round(v["value"], 4) for k, v in result["metrics"].items()}, flush=True)

    summary = {}
    for name in runs[0]["metrics"]:
        xs = [r["metrics"][name]["value"] for r in runs]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        summary[name] = {"median": q2, "spread": (q3 - q1) / q2 if q2 else 0.0,
                         "min": min(xs), "max": max(xs)}
        print(f"{name}: median {q2:.4f} spread {summary[name]['spread']:.3f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seconds": seconds, "runs": runs,
                       "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
