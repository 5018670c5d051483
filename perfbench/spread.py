"""Run one workload over several seeds and report each metric's spread.

Usage (from the root of a checkout):

    python3 perfbench/spread.py --workload read_serve --seeds 1-10 [--trace 0]

For each metric prints the median, the first and third quartiles
(statistics.quantiles, n=4) and the spread (Q3 - Q1) / median, next to
the metric's bound from BENCHMARK.json. Raw results go to --out as JSON
lines when given.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
             "--trace", str(args.trace)],
            capture_output=True, text=True, timeout=900)
        wall = time.monotonic() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
            return 1
        res = json.loads(lines[-1])
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"seed": seed, "wall_s": wall, "detail": json.loads(lines[-2]),
                                    "result": res}) + "\n")
        print(f"seed {seed}: {wall:.1f}s correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']}", flush=True)
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        print(f"{name:32s} median={med:.4g} q1={q1:.4g} q3={q3:.4g} "
              f"spread={spread:.3f} bound={bounds.get(name)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
