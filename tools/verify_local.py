"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet files, then
compares row count, sorted column names, and an order-insensitive
value hash (columns sorted by name, rows sorted, floats kept exact).

Usage: python tools/verify_local.py [name ...]
"""

from __future__ import annotations

import hashlib
import math
import sys
import time
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import os

# Default matches the driver's gate (sf0.01); override to cross-check
# other scales: SPARK_GRAFT_VERIFY_SF=/root/testdata/sf0.001 python ...
SF_DIR = os.environ.get("SPARK_GRAFT_VERIFY_SF", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def frame_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> None:
    import __spark_entry__ as entrymod
    from cs6300_vectordbs_spark import get_spark

    only = set(sys.argv[1:])
    spark = get_spark(cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    # Driver-environment simulation: the gate hands queries a session
    # whose tz we don't control. SPARK_GRAFT_VERIFY_TZ=America/New_York
    # reproduces a non-UTC gate; queries must pass regardless (io.py
    # read_events re-pins UTC per call).
    tz = os.environ.get("SPARK_GRAFT_VERIFY_TZ")
    if tz:
        spark.conf.set("spark.sql.session.timeZone", tz)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    spark_s = duck_s = 0.0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        if tz:
            # re-set before every query — read_events re-pins UTC, so a
            # single set at startup would only test the first query.
            spark.conf.set("spark.sql.session.timeZone", tz)
        try:
            df = fn(spark, SF_DIR)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            n_fail += 1
            continue
        dt = time.time() - t0
        spark_s += dt
        if name not in oracles:
            print(f"ROWS {name}: {len(rows)} rows (rows-only, {dt:.1f}s)")
            n_rows_only += 1
            continue
        t0 = time.time()
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            n_fail += 1
            continue
        ddt = time.time() - t0
        duck_s += ddt
        took = f"({dt:.1f}s spark, {ddt:.1f}s duckdb)"
        problems = []
        if len(rows) != len(orows):
            problems.append(f"rows {len(rows)} vs {len(orows)}")
        if sorted(cols) != sorted(ocols):
            problems.append(f"schema {sorted(cols)} vs {sorted(ocols)}")
        if not problems and frame_hash(cols, rows) != frame_hash(ocols, orows):
            problems.append("hash mismatch")
            # show a few differing rows for debugging
            order_s = sorted(range(len(cols)), key=lambda i: cols[i])
            order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
            s_set = sorted("\x1f".join(norm_cell(r[i]) for i in order_s) for r in rows)
            o_set = sorted("\x1f".join(norm_cell(r[i]) for i in order_o) for r in orows)
            s_only = [x for x in s_set if x not in set(o_set)][:3]
            o_only = [x for x in o_set if x not in set(s_set)][:3]
            for x in s_only:
                print(f"   spark-only: {x[:220]}")
            for x in o_only:
                print(f"   duck-only:  {x[:220]}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)} {took}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(rows)} rows {took}")
            n_pass += 1
    print(
        f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only"
        f" ({spark_s:.0f}s spark, {duck_s:.0f}s duckdb)"
    )


if __name__ == "__main__":
    main()
