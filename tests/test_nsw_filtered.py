"""Metadata-filtered graph serving (operators/ann.nsw_filtered_search):
filter correctness, full-graph routing (selective filters can't
strand the walk), the visited-set quality guarantee, determinism."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from cs6300_vectordbs_spark.operators.ann import (
    nsw_beam_search,
    nsw_edges,
    nsw_filtered_search,
)


def _corpus(spark, n=100, dim=8, seed=11):
    rng = random.Random(seed)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)], i % 5)
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    )


def _edges(corpus, k=8):
    return nsw_edges(corpus, k).localCheckpoint(eager=True)


def _q(corpus, n=5):
    return corpus.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )


def _rows(corpus, q, k, serve="auto", **kw):
    out = nsw_filtered_search(corpus, q, k, serve=serve, **kw)
    plan = out._jdf.queryExecution().executedPlan().toString()
    return sorted(map(tuple, out.collect())), "MapInPandas" in plan


def _three(corpus, q, k, **kw):
    """joins rows; broadcast and the default serve='auto' (which must
    take broadcast) return exactly them."""
    j, _ = _rows(corpus, q, k, serve="joins", **kw)
    assert _rows(corpus, q, k, serve="broadcast", **kw)[0] == j
    assert _rows(corpus, q, k, **kw) == (j, True)
    return j


def test_results_pass_filter_and_are_deterministic(spark):
    corpus = _corpus(spark)
    edges = _edges(corpus)
    allowed = corpus.filter(F.col("label") == 2).select("vec_id")
    allowed_ids = {r["vec_id"] for r in allowed.collect()}
    kw = dict(
        edges=edges, allowed=allowed, beam_width=12, n_iters=4,
        n_entries=4, dim=8, exclude_self=True,
    )
    r1 = nsw_filtered_search(corpus, _q(corpus), 4, **kw).collect()
    r2 = nsw_filtered_search(corpus, _q(corpus), 4, **kw).collect()
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))
    assert all(r["vec_id"] in allowed_ids for r in r1)
    per_q = {}
    for r in r1:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    # 20% selectivity over a well-connected walk: every query fills k
    assert all(sorted(v) == [1, 2, 3, 4] for v in per_q.values())


def test_selective_filter_does_not_strand_routing(spark):
    """Even when the filter keeps only 1-in-5 nodes, the walk routes
    through non-matching nodes — each query still ranks real visited
    matches rather than coming back empty (the pre-filtering failure
    mode on a graph whose matching nodes are sparse)."""
    corpus = _corpus(spark, n=150)
    edges = _edges(corpus)
    allowed = corpus.filter(F.col("label") == 3).select("vec_id")
    out = nsw_filtered_search(
        corpus, _q(corpus, 6), 3, edges=edges, allowed=allowed,
        beam_width=10, n_iters=4, n_entries=4, dim=8, exclude_self=True,
    )
    counts = {
        r["query_id"]: r["c"]
        for r in out.groupBy("query_id").agg(F.count("*").alias("c")).collect()
    }
    assert len(counts) == 6 and all(c == 3 for c in counts.values())


def test_unfiltered_allow_list_at_least_as_good_as_beam(spark):
    """allowed = everything: the filtered search ranks over the whole
    visited set (hnswlib's candidate queue), so its top-k sims are
    elementwise >= the plain beam's (which ranks only the surviving
    final beam)."""
    corpus = _corpus(spark, n=120)
    edges = _edges(corpus)
    q = _q(corpus, 8)
    kw = dict(beam_width=10, n_iters=3, n_entries=4, dim=8,
              exclude_self=True)
    filt = nsw_filtered_search(
        corpus, q, 4, edges=edges, allowed=corpus.select("vec_id"), **kw
    ).collect()
    beam = nsw_beam_search(corpus, q, 4, edges=edges, **kw).collect()
    f = {(r["query_id"], r["rank"]): r["sim"] for r in filt}
    b = {(r["query_id"], r["rank"]): r["sim"] for r in beam}
    assert set(f) == set(b)
    assert all(f[key] >= b[key] - 1e-12 for key in b)


def test_broadcast_filtered_bit_identity(spark):
    corpus = _corpus(spark, n=110)
    edges = _edges(corpus)
    allowed = corpus.filter(F.col("label").isin(1, 3)).select("vec_id")
    kw = dict(
        edges=edges, allowed=allowed, beam_width=10, n_iters=3,
        n_entries=4, dim=8, exclude_self=True,
    )
    assert len(_three(corpus, _q(corpus, 7), 4, **kw)) == 28


def test_broadcast_filtered_null_vectors_bit_identity(spark):
    import random

    rng = random.Random(23)
    rows = []
    for i in range(80):
        vec = None if i < 4 else [rng.uniform(-1, 1) for _ in range(8)]
        rows.append((i, vec, i % 4))
    corpus = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    )
    edges = _edges(corpus)
    allowed = corpus.filter(F.col("label") == 1).select("vec_id")
    kw = dict(
        edges=edges, allowed=allowed, beam_width=8, n_iters=3,
        n_entries=4, dim=8, exclude_self=True,
    )
    _three(corpus, _q(corpus, 6), 3, **kw)  # includes NULL-vector queries


def test_layered_plus_allowed_fails_loud(spark):
    import pytest

    from cs6300_vectordbs_spark.operators.ann import nsw_broadcast_server

    corpus = _corpus(spark, n=30)
    edges = _edges(corpus)
    allowed = corpus.select("vec_id")
    levels = corpus.select(
        F.col("vec_id").alias("node"), F.lit(1).alias("lvl")
    )
    with pytest.raises(ValueError, match="layered"):
        nsw_broadcast_server(
            corpus, edges=edges, k=3, dim=8,
            layer_edges={1: edges}, levels=levels, allowed=allowed,
        )


def test_auto_dim_none_matches_joins(spark):
    """dim=None with queries of other lengths: 'auto' infers d, takes
    broadcast and returns the joins rows."""
    corpus = _corpus(spark, n=90)
    odd = spark.createDataFrame(
        [(300, [0.5] * 4), (301, [0.5] * 9)],
        "query_id bigint, query_vec array<double>",
    )
    q = _q(corpus, 4).unionByName(odd)
    kw = dict(
        edges=_edges(corpus), allowed=corpus.filter(F.col("label") < 3),
        beam_width=8, n_iters=2, n_entries=4, dim=None, exclude_self=True,
    )
    j, _ = _rows(corpus, q, 3, serve="joins", **kw)
    assert _rows(corpus, q, 3, **kw) == (j, True)
