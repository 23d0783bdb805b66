"""Smoke check: every workload at tiny sizes, traced and untraced.

    python3 perfbench/smoke.py

Runs ``run.py --profile tiny`` for every workload ``run.py`` knows (the
ones in BENCHMARK.json and ``upsert``) in both trace modes, and fails
unless every run is correct and reports exactly the metric names and
units BENCHMARK.json lists for that mode. The workloads of one mode run
side by side.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve", "upsert", "pipeline")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    expected = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    problems = [f"{w['name']}: not a run.py workload"
                for w in bench["workloads"] if w["name"] not in WORKLOADS]
    for trace in (0, 1):
        procs = {
            name: subprocess.Popen(
                [sys.executable, os.path.join(HERE, "run.py"),
                 "--workload", name, "--seed", "1", "--seconds", "1",
                 "--trace", str(trace), "--profile", "tiny"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                text=True)
            for name in WORKLOADS
        }
        for name, proc in procs.items():
            out, _ = proc.communicate(timeout=600)
            tag = f"{name} --trace {trace}"
            if proc.returncode != 0:
                problems.append(f"{tag}: exit code {proc.returncode}")
                continue
            result = json.loads(out.strip().splitlines()[-1])
            if not result["correct"] or result["failed"]:
                problems.append(f"{tag}: outputs failed their checks")
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != expected[trace]:
                problems.append(f"{tag}: metrics {got} != {expected[trace]}")
            failed = problems and problems[-1].startswith(tag)
            print(f"{'FAIL' if failed else 'ok'} {tag}", flush=True)
    for p in problems:
        print(p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
