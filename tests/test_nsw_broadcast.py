"""Bit-identity of the broadcast-graph NSW serving path vs the
distributed join path (operators/ann.nsw_beam_search serve switch).

The two strategies are physical plans for one logical search; every
test here collects both and asserts EXACT tuple equality — including
float bit-equality of sims — across the adversarial corpus shapes the
hostile/nulls testdata tiers inject (NULL vectors, zero norms, short
arrays, 64-bit ids, edges pointing at absent ids)."""

from __future__ import annotations

import random
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from cs6300_vectordbs_spark.operators.ann import (
    nsw_beam_search,
    nsw_edges,
)


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def _corpus(spark, n=60, dim=8, seed=7, nulls=0, zeros=0, short=0):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        vec = [rng.uniform(-1, 1) for _ in range(dim)]
        if i < nulls:
            vec = None
        elif i < nulls + zeros:
            vec = [0.0] * dim
        elif i < nulls + zeros + short:
            vec = vec[: dim - 3]
        rows.append((i, vec))
    return _df(spark, rows, "vec_id bigint, embedding array<double>")


def _edges_for(spark, corpus, k=4, dim=8):
    return nsw_edges(corpus, k).localCheckpoint(eager=True)


def _queries_from(corpus, n=10):
    return (
        corpus.filter(F.col("vec_id") < n)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    )


def _rows(corpus, queries, edges, k=5, dim=8, serve="auto", **kw):
    out = nsw_beam_search(
        corpus, queries, k, edges=edges, dim=dim, serve=serve, **kw
    )
    return sorted(map(tuple, out.collect())), _on_broadcast(out)


def _on_broadcast(df):
    return "MapInPandas" in df._jdf.queryExecution().executedPlan().toString()


def _run_both(corpus, queries, edges, k=5, dim=8, **kw):
    """joins and broadcast rows; the default serve='auto' must take
    broadcast here and return the joins rows."""
    ta, _ = _rows(corpus, queries, edges, k, dim, serve="joins", **kw)
    tb, _ = _rows(corpus, queries, edges, k, dim, serve="broadcast", **kw)
    assert _rows(corpus, queries, edges, k, dim, **kw) == (ta, True)
    return ta, tb


def test_broadcast_matches_joins_clean(spark):
    corpus = _corpus(spark, n=80)
    edges = _edges_for(spark, corpus)
    q = _queries_from(corpus)
    ta, tb = _run_both(
        corpus, q, edges, exclude_self=True, beam_width=6, n_iters=4,
        n_entries=5,
    )
    assert ta == tb and len(ta) == 10 * 5


def test_broadcast_matches_joins_adversarial(spark):
    """NULL vectors and zero norms rank identically (NULL sim last,
    zero norm 0.0) on both paths."""
    corpus = _corpus(spark, n=60, nulls=3, zeros=3)
    # the exact-kNN edge BUILD runs on the quarantined corpus (the
    # vectorized grid kernel's contract); serving still scores every
    # row, so wire the degenerate nodes in by hand
    wellformed = corpus.filter(F.size("embedding") == 8)
    edges = _edges_for(spark, wellformed)
    extra = [(i, 20 + i) for i in range(6)]  # null/zero-vec nodes
    # plus edges pointing at ids absent from the corpus: the scoring
    # equi-join must drop them on both paths
    extra += [(2, 9999), (9998, 9999)]
    ghost = spark.createDataFrame(extra, "a long, b long")
    edges = edges.unionByName(ghost).distinct()
    q = _queries_from(corpus, n=9)  # includes NULL/zero-vec queries
    ta, tb = _run_both(
        corpus, q, edges, exclude_self=False, beam_width=7, n_iters=3,
        n_entries=4,
    )
    assert ta == tb
    assert len(ta) > 0


def test_short_arrays_raise_on_both_paths(spark):
    """ANSI mode makes a mis-dimensioned array an ERROR on the join
    path (INVALID_ARRAY_INDEX from the unrolled chain); the broadcast
    kernel raises its own legible error rather than silently scoring
    NULL — fixed-dim corruption must fail loud on every path."""
    corpus = _corpus(spark, n=30, short=2)
    wellformed = corpus.filter(F.size("embedding") == 8)
    edges = _edges_for(spark, wellformed).unionByName(
        spark.createDataFrame([(0, 10), (1, 11)], "a long, b long")
    ).distinct().localCheckpoint(eager=True)
    q = _queries_from(wellformed.filter(F.col("vec_id") >= 2), n=6)
    with pytest.raises(Exception, match="INVALID_ARRAY_INDEX"):
        nsw_beam_search(
            corpus, q, 3, edges=edges, dim=8, serve="joins", n_entries=30
        ).collect()
    # the broadcast raise is LAZY like the ANSI one — it fires only
    # when the beam scores the poisoned row, so make it a hub
    with pytest.raises(Exception, match="fixed-dim contract"):
        nsw_beam_search(
            corpus, q, 3, edges=edges, dim=8, serve="broadcast",
            n_entries=30,
        ).collect()


def test_broadcast_matches_joins_float32_and_64bit_ids(spark):
    rng = random.Random(3)
    base = 3_000_000_000  # beyond int32
    rows = [
        (base + i, [rng.uniform(-1, 1) for _ in range(8)])
        for i in range(50)
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    )
    edges = _edges_for(spark, corpus)
    q = corpus.filter(F.col("vec_id") < base + 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    ta, tb = _run_both(
        corpus, q, edges, exclude_self=True, beam_width=6, n_iters=3,
        n_entries=6,
    )
    assert ta == tb
    assert all(isinstance(t[2], int) and t[2] >= base for t in ta)


def test_broadcast_k_wider_than_beam(spark):
    """The ef >= k widening applies identically on both paths."""
    corpus = _corpus(spark, n=40)
    edges = _edges_for(spark, corpus)
    q = _queries_from(corpus, n=4)
    ta, tb = _run_both(
        corpus, q, edges, k=9, exclude_self=True, beam_width=3,
        n_iters=3, n_entries=4,
    )
    assert ta == tb and len(ta) == 4 * 9


@pytest.mark.parametrize(
    "seed,bw,iters,entries,excl",
    [(11, 4, 2, 3, True), (12, 9, 5, 8, False), (13, 5, 1, 1, True)],
)
def test_broadcast_matches_joins_fuzz(spark, seed, bw, iters, entries, excl):
    """Seeded sweep over beam/hop/entry configs: exact agreement."""
    corpus = _corpus(spark, n=45, dim=8, seed=seed)
    edges = _edges_for(spark, corpus, k=3)
    q = _queries_from(corpus, n=6)
    ta, tb = _run_both(
        corpus, q, edges, k=4, exclude_self=excl, beam_width=bw,
        n_iters=iters, n_entries=entries,
    )
    assert ta == tb and len(ta) == 6 * 4


def test_null_element_and_null_ids_match_joins(spark):
    """Review-fix pins: a NULL ELEMENT inside a vector quarantines the
    row to sim NULL (the join path's cast chain); a NULL corpus id is
    unreachable on both paths; a NULL query id emits ZERO rows on both
    paths (for either exclude_self) and must not poison the Arrow
    batch's int64 id dtype (64-bit ids stay exact)."""
    rng = random.Random(5)
    big = (1 << 60) + 1  # far beyond float64's 2^53 integer range
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)
    ]
    rows[7] = (7, rows[7][1][:3] + [None] + rows[7][1][4:])  # NULL elem
    rows.append((None, [0.5] * 8))  # NULL corpus id
    rows.append((big, [rng.uniform(-1, 1) for _ in range(8)]))
    corpus = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    wellformed = corpus.filter(
        F.col("vec_id").isNotNull()
        & ~F.exists("embedding", lambda x: x.isNull())
    )
    edges = _edges_for(spark, wellformed).unionByName(
        spark.createDataFrame([(2, 7), (3, big)], "a long, b long")
    ).distinct().localCheckpoint(eager=True)
    q = corpus.filter(
        F.col("vec_id").isNull() | (F.col("vec_id") < 6)
        | (F.col("vec_id") == big)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    for excl in (True, False):
        ta, tb = _run_both(
            corpus, q, edges, exclude_self=excl, beam_width=7,
            n_iters=3, n_entries=5,
        )
        assert ta == tb
        qids = {t[0] for t in ta}
        assert None not in qids  # NULL query id -> zero rows
        assert big in qids  # 64-bit id served, exactly
        assert all(t[2] is None or isinstance(t[2], int) for t in ta)


def test_null_element_zero_tail_is_null(spark):
    """r09-ADVICE pin: a NULL-element vector whose LAST in-dim element
    is 0.0 must quarantine to sim NULL on the JOINS path too. The r09
    norm fallback substituted the raw vec[dim-1] value (here 0.0) as
    the norm, so the denominator became 0.0 and cosine_from_parts'
    zero-guard returned sim 0.0 — which outranks every negative-sim
    candidate and poisons the beam, diverging from the broadcast
    kernel's pinned 'NULL element -> sim NULL' contract."""
    rows = [(0, [1.0, 0.0, 0.0, 0.0])]
    rng = random.Random(3)
    for i in range(1, 7):
        rows.append(
            (i, [-1.0] + [rng.uniform(-0.1, 0.1) for _ in range(3)])
        )
    rows.append((7, [None, 1.0, 2.0, 0.0]))  # NULL elem, 0.0 in-dim tail
    corpus = _df(spark, rows, "vec_id bigint, embedding array<double>")
    edges = _df(
        spark,
        [(a, b) for a in range(8) for b in range(a + 1, 8)],
        "a bigint, b bigint",
    )
    q = corpus.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    ta, tb = _run_both(
        corpus, q, edges, k=3, dim=4, exclude_self=True, beam_width=8,
        n_iters=2, n_entries=8,
    )
    assert ta == tb
    assert all(t[2] != 7 for t in ta)  # poisoned row never ranks
    assert all(t[3] is not None and t[3] < 0.0 for t in ta)


def test_short_row_outside_graph_serves_fine(spark):
    """A quarantined short-array row that the beam never reaches must
    not fail broadcast serving (the join path's ANSI error only fires
    on SCORED rows) — and results still match the join path."""
    corpus = _corpus(spark, n=30, short=2)  # ids 0,1 short, unreachable
    wellformed = corpus.filter(F.size("embedding") == 8)
    edges = _edges_for(spark, wellformed).localCheckpoint(eager=True)
    q = _queries_from(wellformed.filter(F.col("vec_id") >= 2), n=6)
    ta, tb = _run_both(
        corpus, q, edges, exclude_self=True, beam_width=5, n_iters=2,
        n_entries=4,
    )
    assert ta == tb and len(ta) > 0


def test_short_query_raises_lazily(spark):
    """A short QUERY vector raises only when it reaches a scoreable
    candidate — over an empty graph both paths return zero rows for
    it (the join path's ANSI error fires only on evaluated sims)."""
    corpus = _corpus(spark, n=20)
    empty_edges = spark.createDataFrame([], "a long, b long")
    shortq = spark.createDataFrame(
        [(0, [1.0, 2.0])], "query_id long, query_vec array<double>"
    )
    for serve in ("joins", "broadcast"):
        got = nsw_beam_search(
            corpus, shortq, 3, edges=empty_edges, dim=8, serve=serve
        ).collect()
        assert got == []
    # wired into a real graph, the same query raises on both paths
    edges = _edges_for(spark, corpus)
    with pytest.raises(Exception, match="INVALID_ARRAY_INDEX"):
        nsw_beam_search(
            corpus, shortq, 3, edges=edges, dim=8, serve="joins"
        ).collect()
    with pytest.raises(Exception, match="fixed-dim contract"):
        nsw_beam_search(
            corpus, shortq, 3, edges=edges, dim=8, serve="broadcast"
        ).collect()


def test_insert_oracle_degenerates_to_beam_oracle():
    """Anti-drift pins for the graph oracle generators: on a corpus with
    no insert batch (no id % 7 in (3, 5)) and no tombstone (no
    id % 9 == 4), the insert, chain and tombstone twins must return
    exactly _oracle_nsw_beam's rows, and the layered insert and
    tombstone twins exactly _oracle_hnsw()'s — a tie-order or build
    change that reaches one composition and not the other breaks this
    without needing the Spark engine."""
    import importlib.util

    import duckdb

    spec = importlib.util.spec_from_file_location(
        "entry", Path(__file__).resolve().parent.parent / "__spark_entry__.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    rng = random.Random(11)
    ids = [i for i in range(80) if i % 7 not in (3, 5) and i % 9 != 4][:24]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE embeddings AS SELECT * FROM (VALUES "
        + ",".join(
            f"({i}, {[round(rng.uniform(-1, 1), 6) for _ in range(8)]}"
            "::DOUBLE[])"
            for i in ids
        )
        + ") t(vec_id, embedding)"
    )

    def rows(sql):
        return sorted(con.execute(sql).fetchall())

    beam = rows(m._oracle_nsw_beam())
    assert len(beam) > 0
    assert rows(m._oracle_nsw_insert()) == beam
    assert rows(m._oracle_nsw_chain()) == beam
    assert rows(m._oracle_nsw_tomb()) == beam
    hnsw = rows(m._oracle_hnsw())
    assert len(hnsw) > 0
    assert rows(m._oracle_hnsw(tomb=True)) == hnsw
    assert rows(m._oracle_hnsw_insert()) == hnsw


def test_broadcast_guards(spark):
    corpus = _corpus(spark, n=20)
    edges = _edges_for(spark, corpus)
    q = _queries_from(corpus, n=2)
    with pytest.raises(ValueError, match="max_broadcast_nodes"):
        nsw_beam_search(
            corpus, q, 3, edges=edges, dim=8, serve="broadcast",
            max_broadcast_nodes=5,
        ).collect()
    with pytest.raises(ValueError, match="max_broadcast_edges"):
        nsw_beam_search(
            corpus, q, 3, edges=edges, dim=8, serve="broadcast",
            max_broadcast_edges=2,
        ).collect()
    # over budget, the default serve='auto' returns the joins rows
    joins, _ = _rows(corpus, q, edges, 3, serve="joins")
    assert _rows(corpus, q, edges, 3, max_broadcast_edges=2) == (joins, False)
    with pytest.raises(ValueError, match="dim"):
        nsw_beam_search(
            corpus, q, 3, edges=edges, dim=None, serve="broadcast"
        ).collect()
    with pytest.raises(ValueError, match="serve"):
        nsw_beam_search(corpus, q, 3, edges=edges, dim=8, serve="nope")
    dup = corpus.unionByName(corpus.limit(1))
    with pytest.raises(ValueError, match="duplicate corpus id"):
        nsw_beam_search(
            dup, q, 3, edges=edges, dim=8, serve="broadcast"
        ).collect()


def test_insert_edges_links_new_nodes(spark):
    """nsw_insert_edges: every new node gains 1..k symmetric links to
    EXISTING nodes, old edges are preserved, and the result is the
    same whichever serve strategy runs the insert beam."""
    from cs6300_vectordbs_spark.operators.ann import nsw_insert_edges

    corpus = _corpus(spark, n=70, dim=8, seed=21)
    old = corpus.filter(F.col("vec_id") < 60)
    new = corpus.filter(F.col("vec_id") >= 60)
    edges = _edges_for(spark, old)
    old_set = {(r.a, r.b) for r in edges.collect()}
    merged = {}
    for serve in ("joins", "broadcast"):
        m = nsw_insert_edges(
            old, new, edges=edges, k=4, beam_width=6, n_iters=3,
            n_entries=5, dim=8, serve=serve,
        ).collect()
        merged[serve] = {(r.a, r.b) for r in m}
    assert merged["joins"] == merged["broadcast"]
    got = merged["joins"]
    assert old_set <= got
    new_links = got - old_set
    # every new link touches exactly one new node and one old node
    for a, b in new_links:
        assert (a >= 60) != (b >= 60)
    for nid in range(60, 70):
        cnt = sum(1 for a, b in new_links if a == nid or b == nid)
        assert 1 <= cnt <= 4


def test_insert_makes_new_nodes_findable(spark):
    """Serving over the merged graph must reach inserted nodes: a query
    at a new node's own vector returns that node at rank 1."""
    from cs6300_vectordbs_spark.operators.ann import nsw_insert_edges

    corpus = _corpus(spark, n=50, dim=8, seed=33)
    old = corpus.filter(F.col("vec_id") < 44)
    new = corpus.filter(F.col("vec_id") >= 44)
    edges = _edges_for(spark, old)
    merged = nsw_insert_edges(
        old, new, edges=edges, k=4, beam_width=8, n_iters=3,
        n_entries=6, dim=8, serve="broadcast",
    ).localCheckpoint(eager=True)
    q = new.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    out = nsw_beam_search(
        corpus, q, 1, edges=merged, beam_width=8, n_iters=3,
        n_entries=6, dim=8, exclude_self=False, serve="broadcast",
    ).collect()
    top1 = {r.query_id: r.vec_id for r in out if r.rank == 1}
    assert top1 == {i: i for i in range(44, 50)}


def test_broadcast_plan_is_one_stage(spark):
    """The serving plan must contain no shuffle: one mapInPandas over
    the query stream — the zero-barrier property is the point."""
    corpus = _corpus(spark, n=30)
    edges = _edges_for(spark, corpus)
    q = _queries_from(corpus, n=3).localCheckpoint(eager=True)
    out = nsw_beam_search(
        corpus, q, 3, edges=edges, dim=8, serve="broadcast"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_auto_infers_dim_and_mirrors_hof_sims(spark):
    """dim=None on a uniform corpus: 'auto' infers d from the collected
    corpus and matches the joins path's HOF cosine_sim, including
    queries shorter and longer than d (NULL sim, or 0.0 where a norm
    is zero) and the empty query."""
    corpus = _corpus(spark, n=50, nulls=2, zeros=2)
    edges = _edges_for(spark, corpus)
    odd = spark.createDataFrame(
        [(100, [0.5] * 5), (101, [0.5] * 11), (102, [0.0] * 3), (103, [])],
        "query_id bigint, query_vec array<double>",
    )
    q = _queries_from(corpus, n=6).unionByName(odd)
    kw = dict(k=4, dim=None, exclude_self=True, beam_width=6, n_iters=2)
    joins, _ = _rows(corpus, q, edges, serve="joins", **kw)
    assert _rows(corpus, q, edges, **kw) == (joins, True)
    assert {r[3] for r in joins if r[0] in (102, 103)} == {0.0}
    assert None in {r[3] for r in joins if r[0] in (100, 101)}


def test_auto_takes_joins_on_mixed_lengths_and_entries(spark):
    """A mixed-length corpus under dim=None, and any entries= table,
    send 'auto' to joins (same rows, no mapInPandas)."""
    corpus = _corpus(spark, n=40, short=3)
    edges = _edges_for(spark, corpus.filter(F.size("embedding") == 8))
    q = _queries_from(corpus.filter(F.col("vec_id") >= 3), n=8)
    kw = dict(n_iters=2, dim=None)
    joins = _rows(corpus, q, edges, serve="joins", **kw)[0]
    assert _rows(corpus, q, edges, **kw) == (joins, False)
    ent = q.select("query_id", F.lit(5).cast("bigint").alias("node"))
    kw = dict(n_iters=2, entries=ent)
    joins = _rows(corpus, q, edges, serve="joins", **kw)[0]
    assert _rows(corpus, q, edges, **kw) == (joins, False)


def test_auto_dim_none_keeps_the_hof_zero_sign(spark):
    """Every product -0.0: the unrolled chain (dim given) scores -0.0,
    the HOF fold (dim=None) starts at 0.0 and scores 0.0. 'auto' must
    match joins in both modes; repr tells the signs apart, == cannot."""
    corpus = _df(
        spark,
        [(0, [-0.0, -1.0, -1.0]), (1, [1.0, 1.0, 1.0]), (2, [0.5, -1.0, 2.0])],
        "vec_id bigint, embedding array<double>",
    )
    edges = _df(spark, [(0, 1), (1, 2), (0, 2)], "a bigint, b bigint")
    q = _df(spark, [(10, [1.0, 0.0, 0.0])], "query_id bigint, query_vec array<double>")
    for dim, zero in ((3, "-0.0"), (None, "0.0")):
        kw = dict(k=3, dim=dim, n_iters=1)
        joins, _ = _rows(corpus, q, edges, serve="joins", **kw)
        auto, on_broadcast = _rows(corpus, q, edges, **kw)
        signed = [(r[:3], repr(r[3])) for r in auto]
        assert on_broadcast and signed == [(r[:3], repr(r[3])) for r in joins]
        assert [s for (_, _, node), s in signed if node == 0] == [zero]


def test_auto_falls_back_before_collecting_vectors(spark, monkeypatch):
    """Over the node, edge or element budget, or on a mixed-length corpus
    under dim=None, 'auto' decides joins from lengths and ids only: no
    vector reaches the driver."""
    from pyspark.sql.types import ArrayType

    from cs6300_vectordbs_spark.operators import ann

    corpus = _corpus(spark, n=20, short=2)
    edges = _edges_for(spark, corpus.filter(F.size("embedding") == 8))
    q = _queries_from(corpus.filter(F.col("vec_id") >= 2), n=2)
    cls, vectors = type(corpus), []
    collect = cls.collect

    def spy(df):
        vectors.append(any(isinstance(f.dataType, ArrayType) for f in df.schema))
        return collect(df)

    monkeypatch.setattr(cls, "collect", spy)
    for kw in ({"max_broadcast_nodes": 5}, {"max_broadcast_edges": 2}, {"dim": None}):
        out = nsw_beam_search(corpus, q, 3, edges=edges, **{"dim": 8, **kw})
        assert not _on_broadcast(out) and not any(vectors)
    clean = corpus.filter(F.col("vec_id") >= 2)  # 18 vectors, 144 elements
    monkeypatch.setattr(ann, "AUTO_BROADCAST_ELEMENTS", 143)
    assert not _on_broadcast(nsw_beam_search(clean, q, 3, edges=edges, dim=8))
    assert not any(vectors)
    monkeypatch.setattr(ann, "AUTO_BROADCAST_ELEMENTS", 144)
    assert _on_broadcast(nsw_beam_search(clean, q, 3, edges=edges, dim=8))
    assert any(vectors)  # in budget, the vectors do collect
