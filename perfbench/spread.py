"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload serve --seeds 1-10 [--seconds 10]

Runs the benchmark once per seed, one run at a time, and prints for
each end-to-end metric the median and the quartile spread (Q3 - Q1,
from ``statistics.quantiles(values, n=4)``) as a share of the median,
next to the metric's bound from BENCHMARK.json. The raw results go to
``perfbench/out/spread-<workload>-<first seed>-<last seed>.json``.
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
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    lo, hi = (int(s) for s in args.seeds.split("-"))

    runs = []
    for seed in range(lo, hi + 1):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return 1
        lines = proc.stdout.strip().splitlines()
        run = {"seed": seed, "wall_s": wall,
               "detail": json.loads(lines[-2])["perfbench"],
               "result": json.loads(lines[-1])}
        runs.append(run)
        metrics = {k: round(v["value"], 4)
                   for k, v in run["result"]["metrics"].items()}
        print(f"seed {seed}: wall {wall:.1f}s correct={run['result']['correct']}"
              f" {metrics}", flush=True)

    print(f"{'metric':<24}{'median':>12}{'spread':>10}{'bound':>8}")
    for m in bench["end_to_end"]:
        vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        print(f"{m['name']:<24}{med:>12.4f}{(q3 - q1) / med:>10.3f}"
              f"{m['bound']:>8}")
    out = os.path.join(HERE, "out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"spread-{args.workload}-{lo}-{hi}.json"),
              "w") as f:
        json.dump(runs, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
