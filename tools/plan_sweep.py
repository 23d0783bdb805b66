"""Mechanical scale-smell sweep over EVERY registered query's physical
plan: flags CartesianProduct, Exchange SinglePartition, and
row-at-a-time Python UDFs (BatchEvalPython) — the three plan shapes
that stay invisible at test scale and break on a cluster.

Run per round before close: python tools/plan_sweep.py
Exit code 1 if anything is flagged. Streaming queries are skipped
(their batch twins cover the transformation plan).
"""

from __future__ import annotations

import contextlib
import io
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

SF = "/root/testdata/sf0.001"
SKIP = {"ivf_search_stream"}  # drains a stream on construction


def main() -> int:
    import __spark_entry__ as e
    from cs6300_vectordbs_spark import get_spark

    spark = get_spark(app_name="plan-sweep", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    flagged = 0
    for name, fn in e.queries().items():
        if name.endswith("_stream") or name in SKIP:
            continue
        try:
            df = fn(spark, SF)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as ex:  # noqa: BLE001
            print(f"{name}: ERROR {type(ex).__name__}: {str(ex)[:100]}")
            flagged += 1
            continue
        flags = []
        if "CartesianProduct" in plan:
            flags.append("CARTESIAN")
        n = plan.count("Exchange SinglePartition")
        if n:
            flags.append(f"SINGLE_PARTITION x{n}")
        if "BatchEvalPython" in plan:
            flags.append("ROW_PYTHON_UDF")
        if flags:
            print(f"{name}: {', '.join(flags)}")
            flagged += 1
    print(f"sweep: {flagged} flagged")
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
