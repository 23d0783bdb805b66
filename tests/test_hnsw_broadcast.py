"""Bit-identity of the layered (HNSW) broadcast serve vs the
distributed joins descent (operators/hnsw.hnsw_search serve switch,
operators/ann.nsw_broadcast_server layered mode) — the same contract
test_nsw_broadcast.py pins for the flat path, over the hostile corpus
shapes: NULL vectors, zero norms, empty layers, no promotions."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from cs6300_vectordbs_spark.operators.hnsw import (
    hnsw_layer_edges,
    hnsw_levels,
    hnsw_search,
)


def _corpus(spark, n=90, dim=8, seed=5, nulls=0, zeros=0):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        vec = [rng.uniform(-1, 1) for _ in range(dim)]
        if i < nulls:
            vec = None
        elif i < nulls + zeros:
            vec = [0.0] * dim
        rows.append((i, vec))
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )


def _edges0(corpus, k=6):
    from cs6300_vectordbs_spark.operators.ann import nsw_edges

    return nsw_edges(corpus, k).localCheckpoint(eager=True)


def _graph(corpus, branch=2, max_level=2):
    levels = hnsw_levels(
        corpus, branch=branch, max_level=max_level
    ).localCheckpoint(eager=True)
    layer_edges = {
        lay: hnsw_layer_edges(
            corpus, levels, lay, k_upper=3
        ).localCheckpoint(eager=True)
        for lay in range(1, max_level + 1)
    }
    return dict(
        edges0=_edges0(corpus), layer_edges=layer_edges, levels=levels,
        beam_width=10, n_iters=3, descent_beam=3, descent_iters=2,
        dim=8, exclude_self=True,
    )


def _rows(corpus, q, k, serve="auto", **kw):
    out = hnsw_search(corpus, q, k, serve=serve, **kw)
    plan = out._jdf.queryExecution().executedPlan().toString()
    return sorted(map(tuple, out.collect())), "MapInPandas" in plan


def _both(spark, corpus, q, k=4, branch=2, max_level=2, **kw):
    """joins and broadcast rows; the default serve='auto' must return
    the joins rows (on broadcast unless a budget is overrun)."""
    base = _graph(corpus, branch, max_level)
    base.update(kw)
    j, _ = _rows(corpus, q, k, serve="joins", **base)
    on_budget = "max_broadcast_edges" not in kw
    assert _rows(corpus, q, k, **base) == (j, on_budget)
    b, _ = _rows(corpus, q, k, serve="broadcast", **base)
    return j, b


def _q(corpus, lo=0, hi=6):
    return corpus.filter(
        (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )


def test_bit_identity_clean(spark):
    corpus = _corpus(spark)
    j, b = _both(spark, corpus, _q(corpus))
    assert j and j == b


def test_bit_identity_null_and_zero_vectors(spark):
    corpus = _corpus(spark, nulls=4, zeros=4)
    # queries include a NULL-vector query (id 0..3 are NULL)
    j, b = _both(spark, corpus, _q(corpus, 0, 8))
    assert j == b


def test_bit_identity_empty_upper_layer(spark):
    corpus = _corpus(spark, n=40)
    edges0 = _edges0(corpus)
    levels = corpus.select(
        F.col("vec_id").alias("node"), F.lit(0).alias("lvl")
    ).localCheckpoint(eager=True)
    empty = spark.createDataFrame([], "a bigint, b bigint")
    kw = dict(
        edges0=edges0, layer_edges={1: empty}, levels=levels,
        beam_width=8, n_iters=3, descent_beam=2, descent_iters=1,
        dim=8, exclude_self=True,
    )
    q = _q(corpus, 3, 7)
    j = hnsw_search(corpus, q, 3, serve="joins", **kw).collect()
    b = hnsw_search(corpus, q, 3, serve="broadcast", **kw).collect()
    assert sorted(map(tuple, j)) == sorted(map(tuple, b))
    assert len(j) == 12


def test_broadcast_guard_names_fallback(spark):
    corpus = _corpus(spark, n=30)
    import pytest

    with pytest.raises(ValueError, match="joins"):
        _both(spark, corpus, _q(corpus), max_broadcast_edges=2)


def test_auto_dim_none_matches_joins(spark):
    """The benchmark's call shape (dim=None): 'auto' infers d on a
    uniform corpus and takes broadcast, mirroring the HOF sims for
    queries shorter and longer than d; a mixed-length corpus takes
    joins. Rows equal the joins path's in both cases."""
    corpus = _corpus(spark, nulls=3, zeros=3)
    odd = spark.createDataFrame(
        [(200, [0.5] * 3), (201, [0.25] * 12)],
        "query_id bigint, query_vec array<double>",
    )
    q = _q(corpus, 0, 8).unionByName(odd)
    kw = {**_graph(corpus), "dim": None, "n_iters": 2, "descent_iters": 1}
    j, _ = _rows(corpus, q, 4, serve="joins", **kw)
    assert j and _rows(corpus, q, 4, **kw) == (j, True)
    mixed = corpus.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 50, F.slice("embedding", 1, 6))
        .otherwise(F.col("embedding")),
    )
    j, _ = _rows(mixed, q, 4, serve="joins", **kw)
    assert _rows(mixed, q, 4, **kw) == (j, False)
