"""The NSW arm of the auto index-family dispatch, driven by the
deterministic clustered fixture (r08 task #2): on the iid-shaped
testdata the probe honestly picks IVF, so the graph branch needed its
own corpus. Pins: the probe crosses the structure threshold by a wide
margin, dispatch picks 'nsw', the probe runs EXACTLY once per search,
and the dispatched result is byte-identical to the pure NSW path.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import cs6300_vectordbs_spark.operators.search as search_mod
from cs6300_vectordbs_spark.operators.search import (
    auto_index_search,
    choose_index_strategy,
    pair_structure_stat,
)

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def clustered(spark):
    return entry._clustered_corpus(spark, SF_DIR).localCheckpoint(eager=True)


def test_probe_crosses_threshold_and_dispatches_nsw(clustered):
    row = pair_structure_stat(clustered, dim=entry._CLUST_DIM).collect()[0]
    assert row["n_pairs"] == 8128  # full 128-vector sample
    # 16 sample vectors per cluster -> ~12% of pairs near cosine 1;
    # require a wide margin over the 0.001 dispatch floor
    assert row["frac_high"] > 0.05
    assert choose_index_strategy(row["n_high"], row["n_pairs"]) == "nsw"


def test_iid_testdata_still_dispatches_ivf(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    row = pair_structure_stat(emb, dim=entry.EMB_DIM).collect()[0]
    assert choose_index_strategy(row["n_high"], row["n_pairs"]) == "ivf"


def test_probe_runs_exactly_once_and_nsw_branch_serves(
    spark, clustered, monkeypatch
):
    calls = []
    real = search_mod.pair_structure_stat

    def counting(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(search_mod, "pair_structure_stat", counting)

    queries = clustered.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    got = auto_index_search(
        clustered, queries, 5, dim=entry._CLUST_DIM, exclude_self=True,
        beam_width=entry._NSW_BEAM, n_iters=entry._NSW_HOPS,
        n_entries=entry._NSW_ENTRIES, nsw_k=entry._NSW_K,
    )
    rows = sorted(map(tuple, got.collect()))
    assert len(calls) == 1  # one bounded probe per search, never more
    assert len(rows) == 50  # 10 queries x top-5

    # the dispatched result IS the pure NSW result (branch proof)
    from cs6300_vectordbs_spark.operators.ann import nsw_beam_search, nsw_edges

    edges = nsw_edges(clustered, entry._NSW_K)
    want = nsw_beam_search(
        clustered, queries, 5, edges=edges, beam_width=entry._NSW_BEAM,
        n_iters=entry._NSW_HOPS, n_entries=entry._NSW_ENTRIES,
        dim=entry._CLUST_DIM, exclude_self=True,
    ).select("query_id", "rank", "vec_id", "sim")
    assert rows == sorted(map(tuple, want.collect()))
