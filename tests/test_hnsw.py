"""Hierarchical NSW (operators/hnsw.py + sources/hnsw_index.py):
layer assignment, layer nesting, descent determinism, the entries=
seam on the layer-0 beam, recall vs exact, and the persisted store's
fingerprint lifecycle."""

from __future__ import annotations

import random
import shutil

import pytest
from pyspark.sql import functions as F

from cs6300_vectordbs_spark.operators.ann import (
    nsw_beam_search,
    nsw_edges,
)
from cs6300_vectordbs_spark.operators.hnsw import (
    hnsw_layer_edges,
    hnsw_levels,
    hnsw_search,
)
from cs6300_vectordbs_spark.operators.similarity import similarity_topk


def _corpus(spark, n=80, dim=8, seed=3):
    rng = random.Random(seed)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )


def _edges0(corpus, k=6):
    return nsw_edges(corpus, k).localCheckpoint(eager=True)


def _search_args(spark, corpus, branch=2, max_level=3):
    levels = hnsw_levels(
        corpus, branch=branch, max_level=max_level
    ).localCheckpoint(eager=True)
    layer_edges = {
        lay: hnsw_layer_edges(
            corpus, levels, lay, k_upper=4
        ).localCheckpoint(eager=True)
        for lay in range(1, max_level + 1)
    }
    return levels, layer_edges


def test_levels_deterministic_and_geometric(spark):
    corpus = _corpus(spark, n=400)
    lv = hnsw_levels(corpus, branch=2, max_level=4)
    counts = {r["lvl"]: r["count"] for r in lv.groupBy("lvl").count().collect()}
    # P(lvl >= L) = 2^-L: each promoted tier should be a strict,
    # roughly halving subset. Loose bounds — the split is a fixed
    # deterministic hash, not a random draw per run.
    n_ge1 = sum(v for k, v in counts.items() if k >= 1)
    assert 400 * 0.3 < n_ge1 < 400 * 0.7
    assert lv.collect() == hnsw_levels(corpus, branch=2, max_level=4).collect()
    # changing the salt changes the split
    lv2 = hnsw_levels(corpus, branch=2, max_level=4, salt="other")
    assert sorted(map(tuple, lv.collect())) != sorted(
        map(tuple, lv2.collect())
    )


def test_layers_nest(spark):
    corpus = _corpus(spark, n=200)
    levels = hnsw_levels(corpus, branch=2, max_level=3).localCheckpoint(
        eager=True
    )
    members = {
        lay: {
            r["node"]
            for r in levels.filter(F.col("lvl") >= lay).collect()
        }
        for lay in (1, 2, 3)
    }
    assert members[3] <= members[2] <= members[1]
    # layer edges only connect members of that layer
    e2 = hnsw_layer_edges(corpus, levels, 2, k_upper=3).collect()
    for r in e2:
        assert r["a"] in members[2] and r["b"] in members[2]


def test_search_deterministic_and_entries_seam(spark):
    corpus = _corpus(spark, n=80)
    edges0 = _edges0(corpus)
    levels, layer_edges = _search_args(spark, corpus)
    q = corpus.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    kw = dict(
        edges0=edges0, layer_edges=layer_edges, levels=levels,
        beam_width=12, n_iters=3, descent_beam=3, descent_iters=2,
        dim=8, exclude_self=True,
    )
    r1 = sorted(map(tuple, hnsw_search(corpus, q, 4, **kw).collect()))
    r2 = sorted(map(tuple, hnsw_search(corpus, q, 4, **kw).collect()))
    assert r1 == r2
    # 4 rows per query, ranks 1..4
    per_q = {}
    for qid, rank, vid, sim in r1:
        per_q.setdefault(qid, []).append(rank)
    assert all(sorted(v) == [1, 2, 3, 4] for v in per_q.values())
    # self excluded at layer 0
    assert all(qid != vid for qid, _, vid, _ in r1)


def test_entries_requires_joins_serve(spark):
    corpus = _corpus(spark, n=20)
    edges0 = _edges0(corpus, k=3)
    q = corpus.limit(2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    ent = q.select("query_id", F.lit(0).alias("node"))
    with pytest.raises(ValueError, match="entries="):
        nsw_beam_search(
            corpus, q, 2, edges=edges0, dim=8, serve="broadcast",
            entries=ent,
        )


def test_no_promotions_falls_back_to_min_id(spark):
    # With max_level=1 and a salt/branch chosen so nobody promotes,
    # the entry point must fall back to the corpus min id and the
    # search must stay total. Force it: branch so large no hash
    # divides it (2**40 > any 15-hex-digit md5 residue class hit on
    # 12 ids is astronomically unlikely but not certain — so instead
    # verify via an explicitly empty upper layer).
    corpus = _corpus(spark, n=12)
    edges0 = _edges0(corpus, k=3)
    levels = corpus.select(
        F.col("vec_id").alias("node"), F.lit(0).alias("lvl")
    )
    empty_edges = spark.createDataFrame([], "a bigint, b bigint")
    q = corpus.filter(
        (F.col("vec_id") >= 5) & (F.col("vec_id") < 8)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    kw = dict(
        edges0=edges0, layer_edges={1: empty_edges}, levels=levels,
        beam_width=8, n_iters=3, descent_beam=2, descent_iters=1,
        dim=8, exclude_self=True,
    )
    rows = hnsw_search(corpus, q, 3, **kw).collect()
    assert len(rows) == 9  # 3 queries x top-3: total despite no layers
    # Documented corner (the oracle mirrors it): with NO populated
    # layers the descent collapses to the lone entry node, so the
    # query that IS the entry starts its layer-0 beam empty under
    # exclude_self and returns no rows.
    q0 = corpus.filter(F.col("vec_id") < 1).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    assert hnsw_search(corpus, q0, 3, **kw).count() == 0


def test_recall_vs_exact(spark):
    corpus = _corpus(spark, n=150)
    edges0 = _edges0(corpus, k=8)
    levels, layer_edges = _search_args(spark, corpus)
    q = corpus.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    got = hnsw_search(
        corpus, q, 5, edges0=edges0, layer_edges=layer_edges,
        levels=levels, beam_width=24, n_iters=4, descent_beam=4,
        descent_iters=2, dim=8, exclude_self=True,
    ).collect()
    exact = similarity_topk(corpus, q, 5, exclude_self=True).collect()
    a = {(r["query_id"], r["vec_id"]) for r in got}
    b = {(r["query_id"], r["vec_id"]) for r in exact}
    assert len(a & b) / len(b) >= 0.8


def test_persisted_store_lifecycle(spark, tmp_path):
    from cs6300_vectordbs_spark.sources.hnsw_index import (
        ensure_hnsw_graph,
        hnsw_graph_exists,
    )
    from cs6300_vectordbs_spark.sources.index_common import read_fingerprint

    corpus = _corpus(spark, n=60).localCheckpoint(eager=True)
    path = str(tmp_path / "hnsw")
    kw = dict(k=6, branch=2, max_level=2, k_upper=3)
    e0, lay, lv = ensure_hnsw_graph(spark, corpus, path, **kw)
    assert hnsw_graph_exists(path)
    fp1 = read_fingerprint(path)
    stored = sorted(map(tuple, e0.collect()))
    # unchanged inputs: reused byte-for-byte (fingerprint stable)
    e0b, _, _ = ensure_hnsw_graph(spark, corpus, path, **kw)
    assert read_fingerprint(path) == fp1
    assert sorted(map(tuple, e0b.collect())) == stored
    # any build parameter change rebuilds
    ensure_hnsw_graph(spark, corpus, path, k=6, branch=2, max_level=2,
                      k_upper=4)
    assert read_fingerprint(path) != fp1
    # corpus change rebuilds
    fp2 = read_fingerprint(path)
    corpus2 = _corpus(spark, n=61).localCheckpoint(eager=True)
    ensure_hnsw_graph(spark, corpus2, path, k=6, branch=2, max_level=2,
                      k_upper=4)
    assert read_fingerprint(path) != fp2
    shutil.rmtree(path, ignore_errors=True)


def test_flat_nsw_hub_path_unchanged(spark):
    """entries=None must keep the flat hub behavior: same results as
    before the parameter existed (regression pin for the seam)."""
    corpus = _corpus(spark, n=50)
    edges0 = _edges0(corpus, k=5)
    q = corpus.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    base = nsw_beam_search(
        corpus, q, 3, edges=edges0, beam_width=8, n_iters=3,
        n_entries=4, dim=8, exclude_self=True,
    ).collect()
    # feeding the hubs in explicitly as per-query entries reproduces
    # the same final ranking (the hub fan-out IS an entries table)
    dirs = edges0.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        edges0.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    hubs = (
        dirs.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        .orderBy(F.col("d").desc(), F.col("src").asc())
        .limit(4)
        .select(F.col("src").alias("node"))
    )
    ent = q.select("query_id").crossJoin(hubs)
    seeded = nsw_beam_search(
        corpus, q, 3, edges=edges0, beam_width=8, n_iters=3,
        dim=8, exclude_self=True, entries=ent,
    ).collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, seeded))


def test_layered_tombstone_lifecycle(spark, tmp_path):
    from cs6300_vectordbs_spark.sources.graph_index import (
        delete_from_nsw_graph,
        read_nsw_tombstones,
    )
    from cs6300_vectordbs_spark.sources.hnsw_index import (
        apply_hnsw_tombstones,
        compact_hnsw_tombstones,
        ensure_hnsw_graph,
    )
    from cs6300_vectordbs_spark.sources.index_common import read_fingerprint

    corpus = _corpus(spark, n=70).localCheckpoint(eager=True)
    path = str(tmp_path / "hnsw_tomb")
    kw = dict(k=6, branch=2, max_level=2, k_upper=3)
    ensure_hnsw_graph(spark, corpus, path, **kw)
    fp_before = read_fingerprint(path)

    dels = corpus.filter(F.col("vec_id") % 10 == 3).select("vec_id")
    del_ids = {r["vec_id"] for r in dels.collect()}
    delete_from_nsw_graph(spark, dels, path)
    # idempotent: replaying the delete doesn't grow the table
    delete_from_nsw_graph(spark, dels, path)
    assert read_nsw_tombstones(
        spark, path, like=corpus
    ).count() == len(del_ids)

    live, e0, lay, lv = apply_hnsw_tombstones(spark, corpus, path,
                                              max_level=2)
    assert not {r["vec_id"] for r in live.select("vec_id").collect()} & del_ids
    for df in [e0, *lay.values()]:
        for r in df.collect():
            assert r["a"] not in del_ids and r["b"] not in del_ids
    assert not {r["node"] for r in lv.collect()} & del_ids
    # serve over the survivor views: no deleted id ranks
    q = corpus.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    out = hnsw_search(
        live, q, 3, edges0=e0, layer_edges=lay, levels=lv,
        beam_width=8, n_iters=3, descent_beam=2, descent_iters=1,
        dim=8, exclude_self=True,
    ).collect()
    assert out and all(r["vec_id"] not in del_ids for r in out)

    # 10% tombstoned: below the 0.2 threshold -> no-op
    assert not compact_hnsw_tombstones(spark, corpus, path,
                                       threshold=0.2, **kw)
    assert read_fingerprint(path) == fp_before
    # at threshold 0.05 -> rebuild over survivors, tombstones cleared
    assert compact_hnsw_tombstones(spark, corpus, path,
                                   threshold=0.05, **kw)
    assert read_fingerprint(path) != fp_before
    assert read_nsw_tombstones(spark, path, like=corpus).count() == 0


def test_layered_insert_and_append_lifecycle(spark, tmp_path):
    from cs6300_vectordbs_spark.operators.hnsw import hnsw_insert
    from cs6300_vectordbs_spark.sources.hnsw_index import append_hnsw_graph
    from cs6300_vectordbs_spark.sources.index_common import read_fingerprint

    corpus = _corpus(spark, n=90).localCheckpoint(eager=True)
    old = corpus.filter(F.col("vec_id") < 70).localCheckpoint(eager=True)
    new = corpus.filter(F.col("vec_id") >= 70).localCheckpoint(eager=True)
    path = str(tmp_path / "hnsw_app")
    kw = dict(k=6, branch=2, max_level=2, k_upper=3, beam_width=10,
              n_iters=3, dim=8)
    e0, lay, lv = append_hnsw_graph(spark, old, new, path, **kw)
    # every new node present in the merged levels; its layer links
    # respect its promotion level
    lv_rows = {r["node"]: r["lvl"] for r in lv.collect()}
    assert set(lv_rows) == {r["vec_id"] for r in corpus.collect()}
    for layer, e in lay.items():
        for r in e.collect():
            for end in (r["a"], r["b"]):
                if end >= 70:
                    assert lv_rows[end] >= layer
    # new nodes are connected at layer 0
    linked = {r["a"] for r in e0.collect()} | {r["b"] for r in e0.collect()}
    assert all(i in linked for i in range(70, 90))
    # unchanged inputs: both fingerprints stable (stored serve)
    fp_b = read_fingerprint(f"{path}/base")
    fp_m = read_fingerprint(f"{path}/merged")
    append_hnsw_graph(spark, old, new, path, **kw)
    assert read_fingerprint(f"{path}/base") == fp_b
    assert read_fingerprint(f"{path}/merged") == fp_m
    # changed batch: merged rebuilds, base reused
    new2 = corpus.filter(F.col("vec_id") >= 68).localCheckpoint(eager=True)
    with pytest.raises(ValueError, match="already exists"):
        # ids 68,69 collide with the indexed corpus -> loud
        hnsw_insert(
            old, new2,
            edges0=spark.createDataFrame([], "a bigint, b bigint"),
            layer_edges={}, levels=old.select(
                F.col("vec_id").alias("node"), F.lit(0).alias("lvl")),
            dim=8,
        )
    new3 = _corpus(spark, n=95, seed=9).filter(
        F.col("vec_id") >= 90
    ).localCheckpoint(eager=True)
    append_hnsw_graph(spark, old.unionByName(
        corpus.filter(F.col("vec_id") >= 70)).localCheckpoint(eager=True),
        new3, path, **kw)
    assert read_fingerprint(f"{path}/merged") != fp_m


def test_layered_insert_served_recall(spark):
    from cs6300_vectordbs_spark.operators.hnsw import hnsw_insert

    corpus = _corpus(spark, n=120).localCheckpoint(eager=True)
    old = corpus.filter(F.col("vec_id") % 5 != 2).localCheckpoint(eager=True)
    new = corpus.filter(F.col("vec_id") % 5 == 2).localCheckpoint(eager=True)
    edges0 = _edges0(old)
    levels, layer_edges = _search_args(spark, old)
    me0, mlay, mlv = hnsw_insert(
        old, new, edges0=edges0, layer_edges=layer_edges, levels=levels,
        k=6, k_upper=3, branch=2, max_level=3, beam_width=12, n_iters=3,
        dim=8,
    )
    q = corpus.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    got = hnsw_search(
        corpus, q, 4, edges0=me0.localCheckpoint(eager=True),
        layer_edges={L: d.localCheckpoint(eager=True) for L, d in mlay.items()},
        levels=mlv.localCheckpoint(eager=True), beam_width=16, n_iters=4,
        descent_beam=2, descent_iters=1, dim=8, exclude_self=True,
    ).collect()
    exact = similarity_topk(corpus, q, 4, exclude_self=True).collect()
    a = {(r["query_id"], r["vec_id"]) for r in got}
    b = {(r["query_id"], r["vec_id"]) for r in exact}
    assert len(a & b) / len(b) >= 0.8
    # inserted nodes are findable
    assert any(v % 5 == 2 for _, v in a)
