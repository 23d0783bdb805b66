"""Engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The library is imported from
that checkout, never from an installed copy; without it the benchmark
exits with code 2 and prints no result. Inputs, indexes and Spark's
scratch space live under ``perfbench/.work/`` and are removed at exit.

Stdout ends with two JSON lines: a detail line (run fingerprint, every
per-call latency with its sample count, recall, space) and the result
line ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json, ``--trace 1`` the
per-layer ones, and also writes the per-call table to
``perfbench/out/trace-<workload>-s<seed>.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB = "cs6300_vectordbs_spark"
PERCENTILES = (50, 90, 95, 99, 99.9)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("serve", "upsert", "pipeline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--profile", default="full",
                    help="input sizes from config.json ('tiny' for the smoke check)")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, LIB, "__init__.py")):
        print(f"perfbench: no {LIB}/ package beside perfbench/ in {ROOT}",
              file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "config.json")) as f:
        config = json.load(f)
    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    _confine_scratch(work)

    import workloads

    try:
        detail, result = run(args, config, work)
    finally:
        workloads.cleanup(work)
    print(json.dumps({"perfbench": detail}))
    print(json.dumps(result))
    return 0


def _confine_scratch(work: str) -> None:
    """Point every scratch location (Python, Spark, JVM) inside the
    checkout, and let Spark's Python workers import the library."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def run(args, config: dict, work: str) -> tuple[dict, dict]:
    import workloads
    from collector import Tracer

    from cs6300_vectordbs_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    cfg = config["profiles"][args.profile][args.workload]
    wl = workloads.WORKLOADS[args.workload](cfg, args.seed, work, config["k"])

    # Set-up is timed once, cold: from session start (which launches the
    # JVM) until the workload is ready to serve.
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(cpus=cores)
        setup_tracer = Tracer(spark, traced=bool(args.trace), cores=cores)
        wl.setup(spark, setup_tracer)
        setup_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")

        tracer = Tracer(spark, traced=bool(args.trace), cores=cores)
        units, error = [], None
        t0 = time.perf_counter()
        while not units or time.perf_counter() - t0 < args.seconds:
            try:
                units.append(wl.unit(tracer))
            except Exception:  # a failed library call fails the run, not the process
                error = traceback.format_exc()
                print(error, file=sys.stderr)
                break
        iso = Tracer(spark, traced=bool(args.trace), cores=cores)
        if args.trace and error is None:
            wl.isolate(iso)
        detail = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "profile": args.profile,
            "fingerprint": fingerprint(spark, cores, args.seed),
            "setup_s": setup_s,
            "units": len(units),
            "unit_throughput_per_s": [
                u.items / sum(w for _, w, _ in u.ops) for u in units],
            "items": sum(u.items for u in units),
            "ops": latency_summary(units),
            "recall_at_5": recall_summary(units),
            "index_bytes_per_vec_byte": wl.space(),
            "error": error,
        }
    finally:
        if spark is not None:
            _stop(spark)

    ops = [op for u in units for op in u.ops]
    attempted = len(ops) + (1 if error else 0)
    failed = sum(not ok for _, _, ok in ops) + (1 if error else 0)
    busy = sum(wall for u in units for _, wall, _ in u.ops)
    if args.trace:
        metrics = per_layer(tracer, len(units), cores)
        detail["trace_collector_s"] = tracer.collector_s
        write_trace(args, detail, setup_tracer, tracer, iso, metrics)
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "throughput_per_s": {
                "value": sum(u.items for u in units) / busy if busy else 0.0,
                "unit": "1/s"},
        }
    return detail, {"correct": failed == 0, "attempted": attempted,
                    "failed": failed, "metrics": metrics}


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def fingerprint(spark, cores: int, seed: int) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean() \
        .getInputArguments()
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = None  # a checkout without git metadata
    src = hashlib.sha256()
    for d, _, files in sorted(os.walk(os.path.join(ROOT, LIB))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    src.update(fh.read())
    return {
        "nproc": cores,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "jit_huge_methods_flag": "-XX:-DontCompileHugeMethods"
        in [str(a) for a in args],
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "seed": seed,
        "git_commit": commit,
        "library_sha256": src.hexdigest(),
    }


def latency_summary(units) -> dict:
    """Per op: sample count, median, and the highest percentile with at
    least ten samples beyond it (None when the sample is too small)."""
    by_op: dict[str, list[float]] = {}
    for u in units:
        for name, wall, _ in u.ops:
            by_op.setdefault(name, []).append(wall)
    out = {}
    for name, walls in by_op.items():
        walls.sort()
        n = len(walls)
        top = [p for p in PERCENTILES if n * (1 - p / 100) >= 10]
        row = {"n": n, "p50_s": statistics.median(walls)}
        if top:
            p = top[-1]
            row[f"p{p:g}_s"] = walls[min(n - 1, int(n * p / 100))]
        out[name] = row
    return out


def recall_summary(units) -> dict:
    """Recall@k of each approximate search against the exact top-k,
    pooled over the run's calls of that operation."""
    sums: dict[str, list[int]] = {}
    for u in units:
        for name, hits, total in u.recall:
            s = sums.setdefault(name, [0, 0])
            s[0] += hits
            s[1] += total
    return {name: hits / total for name, (hits, total) in sums.items()}


def per_layer(tracer, n_units: int, cores: int) -> dict:
    """Spark runtime layers under the timed loop's library calls, per
    unit of work: what the driver did between jobs, what the scheduler
    ran, what executors computed, what moved through shuffles and what
    scans read per row returned."""
    t = tracer.totals()
    per = max(n_units, 1)
    wall = t["wall_s"]
    m = {
        "spark.jobs_per_unit": (t["jobs"] / per, "count"),
        "spark.stages_per_unit": (t["stages"] / per, "count"),
        "spark.tasks_per_unit": (t["tasks"] / per, "count"),
        "spark.failed_tasks": (t["failed_tasks"], "count"),
        "driver.gap_s_per_unit": ((wall - t["job_busy_s"]) / per, "s"),
        "executor.run_s_per_unit": (t["exec_run_s"] / per, "s"),
        "executor.cpu_s_per_unit": (t["exec_cpu_s"] / per, "s"),
        "executor.util": (t["exec_run_s"] / (wall * cores) if wall else 0.0,
                          "fraction"),
        "shuffle.bytes_per_unit": (t["shuffle_bytes"] / per, "bytes"),
        "scan.rows_read_per_result": (
            t["input_rows"] / t["result_rows"] if t["result_rows"] else 0.0,
            "ratio"),
        "trace.collector_s_per_unit": (tracer.collector_s / per, "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def write_trace(args, detail, setup_tracer, tracer, iso, metrics) -> None:
    out = os.path.join(HERE, "out")
    os.makedirs(out, exist_ok=True)
    doc = {
        "detail": detail,
        "per_layer": metrics,
        "calls": tracer.table(),
        "setup_calls": setup_tracer.table(),
        "isolated_calls": iso.table(),
    }
    suffix = "" if args.profile == "full" else f"-{args.profile}"
    path = os.path.join(out, f"trace-{args.workload}-s{args.seed}{suffix}.json")
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    sys.exit(main())
