"""Where does the broadcast graph serve stop beating the joins serve?

Times ``hnsw_search`` in the benchmark's call shape (dim=None, 16
queries, k=5) with ``serve="joins"`` and with the default ``"auto"``
forced onto the broadcast kernel, at each corpus size given, on a
clustered 64-d corpus from ``perfbench/gen.py``. The graph is random
with the builder's degrees (8 per node on layer 0, 4 on each upper
layer, levels from ``hnsw_levels``): per-hop work depends on beam and
degree, not on graph quality, and the exact-kNN builder is quadratic
in the corpus. Each size runs both serves ``--reps`` times, alternating
which goes first; rows are checked equal. One JSON line per size.

    python tools/serve_crossover.py 10000 50000 100000 150000 --work /tmp/xo

Measured numbers and the resulting ``ann.AUTO_BROADCAST_ELEMENTS`` are
in SCALING.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import gen  # noqa: E402
import numpy as np  # noqa: E402

from cs6300_vectordbs_spark import get_spark  # noqa: E402
from cs6300_vectordbs_spark.operators import ann  # noqa: E402
from cs6300_vectordbs_spark.operators.hnsw import hnsw_levels, hnsw_search  # noqa: E402

DIM, K, NQ = 64, 5, 16


def _edges(spark, r, nodes, degree):
    a = np.repeat(nodes, degree)
    b = nodes[r.integers(0, len(nodes), size=len(a))]
    a, b = a[a != b], b[a != b]
    pairs = np.unique(np.stack([np.minimum(a, b), np.maximum(a, b)], 1), axis=0)
    return spark.createDataFrame(
        [(int(x), int(y)) for x, y in pairs], "a bigint, b bigint"
    ).localCheckpoint(eager=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sizes", type=int, nargs="+")
    ap.add_argument("--work", required=True)
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()
    # Time the broadcast kernel past the cap this tool measures.
    ann.AUTO_BROADCAST_ELEMENTS = sys.maxsize
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    for n in args.sizes:
        work, r, ids = f"{args.work}/{n}", gen.rng(7, n), np.arange(n)
        corpus = gen.clustered_corpus(r, n, DIM, 64, 0.3)
        gen.write_parquet(gen.vectors_table(ids, corpus, "vec_id", "embedding"),
                          f"{work}/corpus", 4)
        q = gen.perturbed_queries(r, corpus, NQ, 0.05)
        gen.write_parquet(gen.vectors_table(10**9 + np.arange(NQ), q,
                                            "query_id", "query_vec"),
                          f"{work}/queries", 1)
        emb = spark.read.parquet(f"{work}/corpus")
        queries = spark.read.parquet(f"{work}/queries")
        levels = hnsw_levels(emb, branch=4, max_level=3).localCheckpoint(eager=True)
        lvl = dict(levels.collect())
        lvl = np.array([lvl[i] for i in ids])
        graph = dict(
            edges0=_edges(spark, r, ids, 8), levels=levels,
            layer_edges={L: _edges(spark, r, ids[lvl >= L], 4)
                         for L in (1, 2, 3) if (lvl >= L).sum() > 1},
        )
        out, rows = {"n": n, "dim": DIM}, {}
        for rep in range(args.reps):
            for serve in ("joins", "auto")[:: 1 if rep % 2 == 0 else -1]:
                t = time.perf_counter()
                got = hnsw_search(emb, queries, K, serve=serve, **graph).collect()
                out.setdefault(serve, []).append(round(time.perf_counter() - t, 2))
                rows[serve] = sorted(map(tuple, got))
        out["same_rows"] = rows["joins"] == rows["auto"]
        print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
