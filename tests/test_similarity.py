"""Similarity search: exact top-k semantics, tie-breaks, LSH recall."""

import math

import pytest
from pyspark.sql import functions as F

from cs6300_vectordbs_spark.functions.vector import cosine_sim, l2_norm
from cs6300_vectordbs_spark.operators.ann import brp_lsh_pairs, srp_lsh_topk
from cs6300_vectordbs_spark.operators.similarity import (
    _jvm_pairs,
    _jvm_topk,
    pairwise_similarity,
    similarity_topk,
)


def test_cosine_sim_matches_numpy(spark):
    import numpy as np

    a = [1.0, 2.0, 3.0, -1.5]
    b = [0.5, -1.0, 2.0, 4.0]
    df = spark.createDataFrame([(a, b)], ["a", "b"])
    got = df.select(cosine_sim("a", "b").alias("s")).first().s
    want = float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
    assert got == pytest.approx(want, rel=1e-12)


def test_cosine_sim_zero_vector_is_zero(spark):
    df = spark.createDataFrame([([0.0, 0.0], [1.0, 2.0])], ["a", "b"])
    assert df.select(cosine_sim("a", "b").alias("s")).first().s == 0.0


def test_topk_rank_and_self_exclusion(emb):
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = similarity_topk(emb, q, 5, exclude_self=True).collect()
    assert len(out) == 15
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
        assert r.vec_id != r.query_id  # self excluded
    for rows in by_q.values():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
        sims = [r.sim for r in rows]
        assert sims == sorted(sims, reverse=True)


def test_topk_ties_break_by_id_ascending(spark):
    # corpus of identical vectors → all sims equal → ids decide
    corpus = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in (5, 3, 9, 1)], ["vec_id", "embedding"]
    )
    q = spark.createDataFrame([(100, [1.0, 0.0])], ["query_id", "query_vec"])
    out = similarity_topk(corpus, q, 3).orderBy("rank").collect()
    assert [r.vec_id for r in out] == [1, 3, 5]


def test_topk_metadata_filter(emb):
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = similarity_topk(
        emb, q, 5, filter_expr=F.col("label") == 3, exclude_self=True
    )
    labels = {r.label for r in out.join(emb, "vec_id").select("label").collect()}
    assert labels == {3}


def test_pairwise_upper_triangle(emb):
    sub = emb.filter(F.col("vec_id") < 20)
    out = pairwise_similarity(sub, sub, min_sim=-2.0).collect()
    assert len(out) == 20 * 19 // 2
    assert all(r.id_a < r.id_b for r in out)


def test_srp_lsh_recall_vs_exact(emb):
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    dim = len(emb.first().embedding)
    exact = similarity_topk(emb, q, 5, exclude_self=True).collect()
    approx = srp_lsh_topk(
        emb, q, 5, dim=dim, n_bits=16, bands=8, exclude_self=True
    ).collect()
    exact_set = {(r.query_id, r.vec_id) for r in exact}
    approx_set = {(r.query_id, r.vec_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"LSH recall {recall} too low"


def test_ivf_topk_recall_and_determinism(emb):
    from cs6300_vectordbs_spark.operators.ann import ivf_topk

    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    dim = len(emb.first().embedding)
    exact = similarity_topk(emb, q, 5, exclude_self=True).collect()
    approx = ivf_topk(
        emb, q, 5, dim=dim, n_cells=16, n_probe=4, exclude_self=True
    ).collect()
    exact_set = {(r.query_id, r.vec_id) for r in exact}
    approx_set = {(r.query_id, r.vec_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.4, f"IVF recall {recall} too low at n_probe=4/16"
    # deterministic quantizer: a second run is IDENTICAL, not just similar
    again = ivf_topk(
        emb, q, 5, dim=dim, n_cells=16, n_probe=4, exclude_self=True
    ).collect()
    assert sorted(map(tuple, approx)) == sorted(map(tuple, again))
    # every reported sim is a genuine cosine and ranks are 1..k dense
    for r in approx:
        assert 1 <= r.rank <= 5
        assert -1.0001 <= r.sim <= 1.0001


def test_brp_lsh_sims_match_exact_cosine(spark, emb):
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = brp_lsh_pairs(emb, q, min_sim=0.2).collect()
    assert len(out) > 0
    # spot-check: reported sim equals exact cosine for each pair
    vecs = {r.vec_id: r.embedding for r in emb.collect()}
    for r in out[:20]:
        a, b = vecs[r.query_id], vecs[r.vec_id]
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        assert r.sim == pytest.approx(dot / (na * nb), abs=1e-6)


def test_grid_pairwise_bit_identical_to_jvm(emb):
    dim = len(emb.first().embedding)
    grid = sorted(
        repr(tuple(r))
        for r in pairwise_similarity(emb, emb, min_sim=0.3).collect()
    )
    # not approx-equal: the kernel reproduces the JVM expression's exact
    # IEEE addition order, so the doubles must be IDENTICAL, to the HOF
    # form and (above the threshold, where no -0.0 dot shows) to the
    # unrolled one
    for d in (None, dim):
        jvm = _jvm_pairs(emb, emb, min_sim=0.3, dim=d).collect()
        assert sorted(repr(tuple(r)) for r in jvm) == grid
    assert grid


def test_l2_norm(spark):
    df = spark.createDataFrame([([3.0, 4.0],)], ["v"])
    assert df.select(l2_norm("v").alias("n")).first().n == pytest.approx(5.0)


def test_ivf_kmeans_recall_and_seed_determinism(emb):
    from cs6300_vectordbs_spark.operators.ann import ivf_topk_kmeans

    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    dim = len(emb.first().embedding)
    exact = similarity_topk(emb, q, 5, exclude_self=True).collect()
    approx = ivf_topk_kmeans(
        emb, q, 5, dim=dim, n_cells=16, n_probe=4, exclude_self=True
    ).collect()
    exact_set = {(r.query_id, r.vec_id) for r in exact}
    approx_set = {(r.query_id, r.vec_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # trained cells are balanced, so recall should be at least as good
    # as the sampled quantizer's floor
    assert recall >= 0.4, f"KMeans-IVF recall {recall} too low"
    again = ivf_topk_kmeans(
        emb, q, 5, dim=dim, n_cells=16, n_probe=4, exclude_self=True
    ).collect()
    assert {(r.query_id, r.rank, r.vec_id) for r in again} == {
        (r.query_id, r.rank, r.vec_id) for r in approx
    }  # seeded training -> bitwise-repeatable results within Spark


def test_ivf_kmeans_det_recall_and_convergence(emb):
    """The deterministic-Lloyd quantizer (the oracle-able trained
    index) must behave like an ANN index: decent recall vs exact, and
    training must actually move the centroids off the init (otherwise
    it would silently degenerate to the sampled quantizer)."""
    from cs6300_vectordbs_spark.operators.ann import (
        ivf_topk_kmeans_det,
        kmeans_centroids_det,
    )

    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    dim = len(emb.first().embedding)
    exact = similarity_topk(emb, q, 5, exclude_self=True).collect()
    approx = ivf_topk_kmeans_det(
        emb, q, 5, dim=dim, n_cells=16, n_probe=4, exclude_self=True
    ).collect()
    exact_set = {(r.query_id, r.vec_id) for r in exact}
    approx_set = {(r.query_id, r.vec_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.4, f"det-KMeans-IVF recall {recall} too low"
    cents = kmeans_centroids_det(emb, dim=dim, n_cells=16, n_iters=1).collect()
    init = {r.vec_id: [float(x) for x in r.embedding]
            for r in emb.orderBy("vec_id").limit(16).collect()}
    moved = sum(
        1 for r in cents
        if [float(x) for x in r["__cvec"]] != list(init.values())[r["__cid"]]
    )
    assert moved > 0, "Lloyd iteration left every centroid at its init"


def test_kmeans_short_row_fails_loud_above_unroll_cap(spark):
    """r09 ADVICE pin: above UNROLL_MAX_DIM the HOF norm does not raise
    for a mis-dimensioned training row, and the exploded mean would
    silently aggregate over differing per-dimension counts (or die in
    the driver reassembly with a bare KeyError). The posexplode guard
    must fail with a legible fixed-dim-contract error instead."""
    import pytest

    from cs6300_vectordbs_spark.functions.vector import UNROLL_MAX_DIM
    from cs6300_vectordbs_spark.operators.ann import kmeans_centroids_det

    dim = UNROLL_MAX_DIM + 4
    rows = [(i, [float(i + j) / dim for j in range(dim)]) for i in range(6)]
    rows[4] = (4, rows[4][1][: dim - 7])  # short row, HOF norm won't raise
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    with pytest.raises(Exception, match="fixed-dim contract"):
        kmeans_centroids_det(
            emb, dim=dim, n_cells=2, n_iters=1, train_n=None
        )


def test_brp_det_matches_cosine_and_threshold(spark, emb):
    """Literal-projection BRP: every reported pair's sim is the exact
    cosine, every sim clears the 0.2 floor, and the candidate set is
    identical across runs (pure function of the plan literals)."""
    from cs6300_vectordbs_spark.operators.ann import brp_lsh_pairs_det

    dim = len(emb.first().embedding)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = brp_lsh_pairs_det(emb, q, dim=dim).collect()
    assert len(out) > 0
    vecs = {r.vec_id: r.embedding for r in emb.collect()}
    for r in out:
        assert r.sim >= 0.2
    for r in out[:20]:
        a, b = vecs[r.query_id], vecs[r.vec_id]
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        assert r.sim == pytest.approx(dot / (na * nb), abs=1e-6)
    again = brp_lsh_pairs_det(emb, q, dim=dim).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_ivf_neardup_subset_and_recall(spark, emb):
    """IVF-cell-blocked near-dup (the semantic-dedup scale path) must
    be a strict SUBSET of the exact all-pairs result (same threshold,
    identical sims on shared pairs) with usable recall — blocking
    changes the candidate set, never a reported value."""
    from cs6300_vectordbs_spark.operators.ann import ivf_neardup_pairs
    from cs6300_vectordbs_spark.operators.similarity import (
        pairwise_similarity,
    )

    dim = len(emb.first().embedding)
    exact = {
        (r.id_a, r.id_b): r.sim
        for r in pairwise_similarity(emb, emb, min_sim=0.35).collect()
    }
    blocked = ivf_neardup_pairs(
        emb, dim=dim, n_cells=16, min_sim=0.35
    ).collect()
    assert len(blocked) > 0
    for r in blocked:
        assert (r.id_a, r.id_b) in exact
        assert exact[(r.id_a, r.id_b)] == r.sim  # bit-identical cosine
    recall = len(blocked) / len(exact)
    # same-cell blocking at 16 cells on this corpus keeps a usable
    # fraction of the 0.35-threshold pairs; at production thresholds
    # (~0.9, true near-dups) recall approaches 1 because near-identical
    # vectors quantize together.
    assert recall >= 0.2, recall


def test_label_centroids_golden(spark):
    from cs6300_vectordbs_spark.operators.similarity import label_centroids

    df = spark.createDataFrame(
        [
            (0, [1.0, 3.0]),
            (0, [3.0, 5.0]),
            (1, [10.0, -2.0]),
        ],
        "label int, embedding array<double>",
    )
    got = {
        (r.label, r.dim): (r.centroid, r.n_vectors)
        for r in label_centroids(df).collect()
    }
    assert got == {
        (0, 0): (2.0, 2),
        (0, 1): (4.0, 2),
        (1, 0): (10.0, 1),
        (1, 1): (-2.0, 1),
    }


def test_kernel_paths_quarantine_null_and_zero_vectors(spark, monkeypatch):
    """r08 kernel review: NULL vectors used to TypeError the numpy
    kernels (object array) while the JVM path filtered them; zero-NORM
    vectors score 0.0 on every path (they are scorable by contract).
    The broadcast and grid plans of the exact top-k and the JVM
    reference, and the pairwise grid against the JVM pairwise plan,
    must agree on a corpus containing NULL, zero, negative-sim and
    NULL-element vectors, string ids and a NULL id."""
    import cs6300_vectordbs_spark.operators.similarity as sim_mod

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (3, [0.9, 0.1]), (4, None), (5, [0.0, 0.0]),
         (6, [-0.5, 0.2])],
        "vec_id long, embedding array<double>",
    )
    qs = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, None)],
        "query_id long, query_vec array<double>",
    )
    a = sorted(map(tuple, _jvm_topk(corpus, qs, 5).collect()))
    b = sorted(map(tuple, similarity_topk(corpus, qs, 5).collect()))
    with monkeypatch.context() as m:
        m.setattr(sim_mod, "BROADCAST_MAX_QUERIES", 0)
        g = sorted(map(tuple, similarity_topk(corpus, qs, 5).collect()))
    assert a == b == g
    # the NULL query contributed no rows; zero vector ranks with 0.0
    assert {r[0] for r in a} == {10}
    assert any(r[2] == 5 and r[3] == 0.0 for r in a)
    p1 = sorted(
        map(tuple, _jvm_pairs(corpus, corpus, min_sim=-1.0).collect())
    )
    p2 = sorted(
        map(tuple, pairwise_similarity(corpus, corpus, min_sim=-1.0).collect())
    )
    assert p1 == p2
    # 4 scorable vectors -> C(4,2) upper-triangle pairs
    assert len(p1) == 6
    # String ids, a NULL id (no upper-triangle pair, and with
    # upper_triangle=False every pair) and a NULL element (no pair).
    hostile = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.9, 0.1]), ("c", [None, 1.0]),
         ("d", [0.0, 0.0]), (None, [-0.5, 0.2])],
        "vec_id string, embedding array<double>",
    )
    for upper in (True, False):
        p1, p2 = (
            sorted(map(repr, f(
                hostile, hostile, min_sim=-1.0, upper_triangle=upper
            ).collect()))
            for f in (_jvm_pairs, pairwise_similarity)
        )
        assert p1 == p2 and len(p1) == (3 if upper else 16)


def test_band_count_validation(spark):
    """bands must divide n_bits: silent truncation changes effective
    recall, and bands > n_bits degenerates every band key to the band
    index (full cross product)."""
    import pytest

    from cs6300_vectordbs_spark.operators.ann import _band_keys_from_vec

    with pytest.raises(ValueError, match="must divide"):
        _band_keys_from_vec("v", 4, 16, 5, 42)
    with pytest.raises(ValueError, match="must divide"):
        _band_keys_from_vec("v", 4, 16, 20, 42)
    _band_keys_from_vec("v", 4, 16, 4, 42)  # divides: fine


_CSCHEMA = "vec_id bigint, embedding array<float>"
_QSCHEMA = "query_id bigint, query_vec array<float>"


def _vec(emb, vid):
    return emb.filter(F.col("vec_id") == vid).first().embedding


def _search_case(spark, emb, case):
    """(corpus, queries, dim) for one hostile parity case: a clean
    200-row slice of the sf0.001 corpus and 4 of its rows as queries,
    plus the rows the case is about."""
    base = emb.filter(F.col("vec_id") < 200).select("vec_id", "embedding")
    qs = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    v3, v6 = _vec(emb, 3), _vec(emb, 6)
    nan, c_rows, q_rows = float("nan"), [], []
    if case == "null_element":
        c_rows = [(900, v3[:10] + [None] + v3[11:]), (901, None)]
        q_rows = [(910, v6[:5] + [None] + v6[6:]), (911, v6)]
    elif case == "nan_element":
        c_rows = [(900, v3[:7] + [nan] + v3[8:])]
        q_rows = [(910, v6[:5] + [nan] + v6[6:])]
    elif case == "zero_norm":
        # A 5-row corpus, so every sim is in the top 5, and
        # [1, -0.0, ...] . [-0.0, 1, ...] sums -0.0 products only.
        base = base.filter(F.col("vec_id").isin(3, 6))
        c_rows = [(900, [0.0] * 64), (901, [-0.0] * 64),
                  (902, [-0.0] + [1.0] * 63)]
        q_rows = [(910, [0.0] * 64), (911, [1.0] + [-0.0] * 63)]
    elif case == "longer":
        c_rows = [(900, v3 + [0.5] * 8), (901, v6 + [None, 1e30])]
        q_rows = [(910, v3 + [None]), (911, v6 + [2.0] * 3)]
    elif case == "query_ids":
        q_rows = [(2, v6), (None, v3), (None, v6), (911, v3), (911, v3)]
    elif case in ("id_ties", "null_corpus_ids"):
        # 49 ties on query 3's top sim over 8 spread partitions: kernel
        # blocks hold more than k of them, so the id order decides the cut.
        c_rows = [(900 + i, v3) for i in range(48)] + [(901, v3)]
        if case == "null_corpus_ids":
            c_rows += [(None, v3)] * 3 + [(None, v6), (None, None)]
            q_rows = [(None, v3)]
    elif case == "empty":
        qs = qs.limit(0)
    # One input partition: spread() then deals the rows round-robin,
    # so the case's rows share a kernel block with clean rows and the
    # local top-k cut decides whether they survive.
    corpus = base.unionByName(
        spark.createDataFrame(c_rows, _CSCHEMA)
    ).coalesce(1)
    queries = qs.unionByName(spark.createDataFrame(q_rows, _QSCHEMA))
    if case == "string_ids":
        corpus = corpus.withColumn("vec_id", F.concat(F.lit("v"), "vec_id"))
        queries = queries.withColumn(
            "query_id", F.concat(F.lit("v"), "query_id")
        )
    dim = 64
    if case.startswith("hof"):
        import numpy as np

        dim = 300
        rng = np.random.default_rng(7)
        vecs = [[float(x) for x in rng.standard_normal(dim)] for _ in range(7)]
        vecs[5] = [1.0] + [-0.0] * (dim - 1)
        vecs[6] = [-0.0] + [1.0] * (dim - 1)
        # 5 corpus rows: every scorable sim is in the top 5, so the
        # HOF fold's 0.0 for the all -0.0 products of 5 . 6 shows
        # (unless a longer query pads them with a 0.0 product).
        corpus = spark.createDataFrame(
            [(i, vecs[i]) for i in (0, 1, 2, 5, 6)], _CSCHEMA
        )
        q_rows = [(0, vecs[0]), (5, vecs[5]), (6, vecs[6])]
        if case == "hof_other_length":
            q_rows += [(1, vecs[1][: dim - 6]), (2, vecs[2] + [0.25]),
                       (3, [0.0] * (dim - 1)), (4, [])]
        queries = spark.createDataFrame(q_rows, _QSCHEMA)
    return corpus, queries, dim


@pytest.mark.parametrize("exclude_self", [False, True])
@pytest.mark.parametrize(
    "case",
    ["clean", "null_element", "nan_element", "zero_norm", "longer",
     "query_ids", "null_corpus_ids", "id_ties", "string_ids", "empty",
     "hof_zero_sign", "hof_other_length"],
)
def test_search_strategies_return_identical_rows(
    spark, emb, monkeypatch, case, exclude_self
):
    """search() (auto), similarity_topk's broadcast ('blocked') and
    grid plans and the JVM parity reference ('exact') return
    repr-identical rows — sims and dists bit for bit — on the NULL,
    NaN, zero-norm, length, id and empty cases."""
    import cs6300_vectordbs_spark.operators.similarity as sim_mod
    from cs6300_vectordbs_spark.operators.search import search

    corpus, queries, dim = _search_case(spark, emb, case)
    kw = dict(dim=dim, exclude_self=exclude_self)

    def rows(df):
        return sorted(
            repr((r.query_id, r.rank, r.vec_id, r.sim, r.dist))
            for r in df.collect()
        )

    got = {
        "auto": rows(search(corpus, queries, 5, **kw)),
        "blocked": rows(similarity_topk(corpus, queries, 5, **kw)),
        "exact": rows(_jvm_topk(corpus, queries, 5, **kw)),
    }
    with monkeypatch.context() as m:
        # Every batch, the empty one too, is over the bound.
        m.setattr(sim_mod, "BROADCAST_MAX_QUERIES", -1)
        got["grid"] = rows(similarity_topk(corpus, queries, 5, **kw))
    assert got["auto"] == got["exact"]
    assert got["blocked"] == got["exact"]
    assert got["grid"] == got["exact"]
    assert (len(got["exact"]) == 0) == (case == "empty")


def test_knn_and_nsw_edges_match_the_recipe(spark, emb):
    """knn_edges and nsw_edges return the edges of the hand-built
    recipe they replace: each vector's exact top-k with exclude_self
    (here from the JVM parity reference), folded to (least, greatest), plus the
    hash shortcuts for NSW, deduplicated — on a corpus of 49 tied
    vectors and a duplicate id."""
    from cs6300_vectordbs_spark.operators.ann import (
        nsw_edges,
        nsw_shortcut_edges,
    )
    from cs6300_vectordbs_spark.operators.similarity import knn_edges

    corpus, _, _ = _search_case(spark, emb, "id_ties")
    allq = corpus.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    knn = _jvm_topk(corpus, allq, 6, exclude_self=True, dim=64).select(
        F.least("query_id", "vec_id").alias("a"),
        F.greatest("query_id", "vec_id").alias("b"),
    )
    nsw = knn.unionByName(nsw_shortcut_edges(corpus))
    want = [sorted(map(tuple, e.distinct().collect())) for e in (knn, nsw)]
    got = [sorted(map(tuple, e.collect()))
           for e in (knn_edges(corpus, 6), nsw_edges(corpus, 6))]
    assert got == want
    assert len(want[1]) > len(want[0]) > 0


def test_search_short_vector_raises_on_both_paths(spark, emb):
    """A vector shorter than dim (<= UNROLL_MAX_DIM) raises the ANSI
    INVALID_ARRAY_INDEX through search() and on the JVM parity
    reference, as a query and as a corpus row."""
    from cs6300_vectordbs_spark.operators.search import search

    corpus = emb.select("vec_id", "embedding")
    short_q = spark.createDataFrame([(900, _vec(emb, 3)[:40])], _QSCHEMA)
    short_c = corpus.unionByName(
        spark.createDataFrame([(900, _vec(emb, 3)[:40])], _CSCHEMA)
    )
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    for c, qs in ((corpus, short_q), (short_c, q)):
        for topk in (search, _jvm_topk):
            with pytest.raises(Exception, match="INVALID_ARRAY_INDEX"):
                topk(c, qs, 5, dim=64).collect()
