"""Plan-shape regression ledger: a committed per-query fingerprint of
the physical-plan features that matter at 100 TB, diffed every round.

tools/plan_sweep.py answers "is anything OBVIOUSLY broken" (cartesian,
single-partition exchange, row-Python). This tool answers the quieter
question: "did a plan get WORSE since last round" — an extra shuffle
sneaking into a query, a broadcast join silently degrading to
sort-merge, a Python stage appearing where there was none. Those are
invisible to correctness gates and to plan_sweep's absolute checks,
but each one is a cluster-scale regression.

Fingerprint per query (counts in the formatted physical plan):
    exchanges        Exchange hashpartitioning/rangepartitioning (shuffles)
    single_part      Exchange SinglePartition (always 0 — sweep enforces)
    broadcasts       BroadcastExchange
    smj              SortMergeJoin
    bhj              BroadcastHashJoin
    cartesian        CartesianProduct (always 0)
    arrow_python     ArrowEvalPython + MapInPandas + MapInArrow +
                     FlatMapGroupsInPandas + FlatMapGroupsInArrow
    row_python       BatchEvalPython (always 0)
    wsc              WholeStageCodegen spans (more = wider codegen)
    scans            Scan parquet/orc/csv/text/json

Usage:
    python tools/plan_ledger.py record   # (re)write PLAN_LEDGER.json
    python tools/plan_ledger.py check    # diff live plans vs ledger

`check` exits 1 only on REGRESSIONS — a strictly-worse transition:
more shuffles, more Python stages, a cartesian/single-partition/row-
Python appearing, or a broadcast join lost to sort-merge. Improvements
and new/removed queries are reported informationally (re-run `record`
to accept them), and so is every move of an ungated counter
(broadcasts, bhj, wsc, scans): those never fail the check — WSC and
scan counts move with Spark-version codegen splits, not with our plan
intent — but a plan change shows up in the output.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_PLAN_SF", "/root/testdata/sf0.001")
LEDGER = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "PLAN_LEDGER.json",
)
SKIP = {"ivf_search_stream"}  # drains a stream on construction

# strictly-worse direction: +1 means an increase is a regression
GATED = {
    "exchanges": "shuffle added",
    "single_part": "single-partition exchange appeared",
    "cartesian": "cartesian product appeared",
    "row_python": "row-at-a-time Python UDF appeared",
    "arrow_python": "Python (Arrow) stage added",
    "smj": "sort-merge join added",
}


def fingerprint(plan: str) -> dict[str, int]:
    return {
        "exchanges": len(
            re.findall(r"Exchange (?:hash|range)partitioning", plan)
        ),
        "single_part": plan.count("Exchange SinglePartition"),
        "broadcasts": plan.count("BroadcastExchange"),
        "smj": plan.count("SortMergeJoin"),
        "bhj": plan.count("BroadcastHashJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "arrow_python": (
            plan.count("ArrowEvalPython")
            + plan.count("MapInPandas")
            + plan.count("MapInArrow")
            + plan.count("FlatMapGroupsInPandas")
            + plan.count("FlatMapGroupsInArrow")
        ),
        "row_python": plan.count("BatchEvalPython"),
        "wsc": len(re.findall(r"WholeStageCodegen \(\d+\)", plan)),
        "scans": len(re.findall(r"Scan (?:parquet|orc|csv|text|json)", plan)),
    }


def live_fingerprints() -> dict[str, dict[str, int]]:
    import __spark_entry__ as e
    from cs6300_vectordbs_spark import get_spark

    spark = get_spark(app_name="plan-ledger", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict[str, int]] = {}
    for name, fn in e.queries().items():
        if name.endswith("_stream") or name in SKIP:
            continue
        df = fn(spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out[name] = fingerprint(buf.getvalue())
    return out


def main(mode: str) -> int:
    live = live_fingerprints()
    if mode == "record":
        with open(LEDGER, "w") as f:
            json.dump(live, f, indent=1, sort_keys=True)
        print(f"recorded {len(live)} plan fingerprints -> {LEDGER}")
        return 0

    with open(LEDGER) as f:
        base = json.load(f)
    regressions, infos = [], []
    for name in sorted(set(base) | set(live)):
        if name not in base:
            infos.append(f"NEW {name}: {live[name]}")
            continue
        if name not in live:
            infos.append(f"REMOVED {name}")
            continue
        b, l = base[name], live[name]
        for k, why in GATED.items():
            if l[k] > b[k]:
                regressions.append(
                    f"{name}: {why} ({k} {b[k]} -> {l[k]})"
                )
        if l["bhj"] < b["bhj"] and l["smj"] > b["smj"]:
            regressions.append(
                f"{name}: broadcast join degraded to sort-merge "
                f"(bhj {b['bhj']}->{l['bhj']}, smj {b['smj']}->{l['smj']})"
            )
        better = {k for k in GATED if l[k] < b[k]}
        if better:
            infos.append(
                f"improved {name}: "
                + ", ".join(f"{k} {b[k]}->{l[k]}" for k in sorted(better))
            )
        moved = {k for k in l if k not in GATED and l[k] != b.get(k)}
        if moved:
            infos.append(
                f"moved {name}: "
                + ", ".join(f"{k} {b.get(k)}->{l[k]}" for k in sorted(moved))
            )
    for line in infos:
        print(f"  [info] {line}")
    for line in regressions:
        print(f"  [REGRESSION] {line}")
    print(
        f"plan-ledger: {len(regressions)} regressions, "
        f"{len(infos)} informational, {len(live)} queries checked"
    )
    return 1 if regressions else 0


if __name__ == "__main__":
    if len(sys.argv) != 2 or sys.argv[1] not in ("record", "check"):
        print(__doc__)
        raise SystemExit(2)
    raise SystemExit(main(sys.argv[1]))
