"""Persistent IVF index: lifecycle, pruning, and parity with ivf_topk."""

import os

import pytest
from pyspark.sql import functions as F

from cs6300_vectordbs_spark.operators.ann import ivf_topk
from cs6300_vectordbs_spark.sources.vector_index import (
    ensure_ivf_index,
    ivf_index_exists,
    search_ivf_index,
)
from tests.conftest import SF_DIR


def _queries(emb, n=10):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


@pytest.fixture(scope="module")
def ivf16(spark, emb, tmp_path_factory):
    """The sf0.001 corpus indexed once at 16 cells (dim 64)."""
    path = str(tmp_path_factory.mktemp("ivf16") / "ivf")
    ensure_ivf_index(spark, emb, path, dim=64, n_cells=16)
    return path


def _rows(df, id_col):
    """Result rows as sorted reprs: sims and dists compared bit for bit,
    NULL query ids included."""
    return sorted(
        repr((r.query_id, r.rank, r[id_col], r.sim, r.dist))
        for r in df.collect()
    )


def _assert_parity(spark, corpus, path, queries, *, dim, n_cells, n_probe,
                   exclude_self=False):
    stored = search_ivf_index(
        spark, path, queries, 5, dim=dim, n_probe=n_probe,
        exclude_self=exclude_self,
    )
    direct = ivf_topk(
        corpus, queries, 5, dim=dim, n_cells=n_cells, n_probe=n_probe,
        exclude_self=exclude_self,
    )
    got, want = _rows(stored, "id"), _rows(direct, "vec_id")
    assert got == want
    return got


_QSCHEMA = "query_id bigint, query_vec array<float>"


def test_persisted_search_equals_in_memory_ivf(spark, emb, ivf16):
    got = _assert_parity(
        spark, emb, ivf16, _queries(emb), dim=64, n_cells=16, n_probe=4,
        exclude_self=True,
    )
    assert len(got) == 50


def _vec(emb, vid):
    return emb.filter(F.col("vec_id") == vid).first().embedding


@pytest.mark.parametrize(
    "case",
    ["null_vector", "zero_norm", "null_qid", "duplicate_qid", "longer",
     "full_probe", "empty"],
)
def test_persisted_search_equals_in_memory_ivf_cases(spark, emb, ivf16, case):
    """The driver-side probe step against ivf_topk's Spark probe plan
    on the rows where NULL, NaN, zero-norm, grouping and length rules
    decide the probed cells."""
    v3, v6 = _vec(emb, 3), _vec(emb, 6)
    extra = {
        # Each pooled with a clean row of the same id, so NULLS LAST
        # and NaN-greatest decide which row's cells are probed.
        "null_vector": [(900, None), (900, v3),
                        (901, v3[:10] + [None] + v3[11:]), (901, v6),
                        (902, v6[:5] + [float("nan")] + v6[6:]), (902, v3)],
        "zero_norm": [(900, [0.0] * 64), (901, [-0.0] * 64)],
        "null_qid": [(None, v3), (None, v6)],
        "duplicate_qid": [(5, v6), (5, v3)],
        "longer": [(900, v3 + [0.5] * 8), (901, v6 + [None, 1e30])],
        "full_probe": [],
        "empty": [],
    }[case]
    if case == "empty":
        queries = spark.createDataFrame([], _QSCHEMA)
    else:
        queries = _queries(emb, 4).unionByName(
            spark.createDataFrame(extra, _QSCHEMA)
        )
    got = _assert_parity(
        spark, emb, ivf16, queries, dim=64, n_cells=16,
        n_probe=20 if case == "full_probe" else 4,
    )
    assert (len(got) == 0) == (case == "empty")


def test_shorter_query_raises_on_both_paths(spark, emb, ivf16):
    queries = spark.createDataFrame([(900, _vec(emb, 3)[:40])], _QSCHEMA)
    with pytest.raises(Exception, match="INVALID_ARRAY_INDEX"):
        search_ivf_index(spark, ivf16, queries, 5, dim=64).collect()
    with pytest.raises(Exception, match="INVALID_ARRAY_INDEX"):
        ivf_topk(emb, queries, 5, dim=64, n_cells=16).collect()


def test_persisted_search_hof_dim_with_other_length_queries(spark, tmp_path):
    """Above UNROLL_MAX_DIM both paths take the HOF forms: whole arrays,
    and a query of another length has a NULL dot (sim NULL, or 0.0 on a
    zero norm product)."""
    import numpy as np

    from cs6300_vectordbs_spark.functions.vector import UNROLL_MAX_DIM

    d = UNROLL_MAX_DIM + 4
    rng = np.random.default_rng(7)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(d)]) for i in range(40)],
        "vec_id bigint, embedding array<float>",
    )
    vecs = {r.vec_id: r.embedding for r in corpus.collect()}
    queries = spark.createDataFrame(
        [(0, vecs[0]), (1, vecs[1][: d - 6]), (2, vecs[2] + [0.25]),
         (3, [0.0] * (d - 1)), (4, [])],
        _QSCHEMA,
    )
    path = str(tmp_path / "ivf")
    ensure_ivf_index(spark, corpus, path, dim=d, n_cells=4)
    got = _assert_parity(
        spark, corpus, path, queries, dim=d, n_cells=4, n_probe=2
    )
    assert any("None, None)" in r for r in got)  # NULL sims served


def test_quantizer_equals_sql_ivf_cells(spark):
    """Anti-drift pin for the IVF quantizer: ann.assign_cells (unrolled
    and HOF forms) and ann.probe_cells return exactly the cells and
    probe ranks of the oracles' shared _sql_ivf_cells(probes=True) on
    DuckDB over the same rows. The rows hold a tie (centroids 3 and 12
    are one vector: the lower cid wins), a zero-norm row, a zero-norm
    centroid (7: every cosine against it is 0.0 on both sides, so it
    ranks among the probes' positive and negative sims), a NaN element
    and a NULL vector that is both a centroid and a query.
    DuckDB's list math refuses a NULL element, so that row is checked
    on the Spark side alone: its sims are all NULL, so it lands in the
    lowest cid."""
    import importlib.util
    import random

    import duckdb
    import pyarrow as pa

    from cs6300_vectordbs_spark.operators.ann import (
        assign_cells,
        ivf_centroids,
        probe_cells,
    )

    spec = importlib.util.spec_from_file_location(
        "entry",
        os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py"),
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    rng = random.Random(5)
    tie = [0.5, -0.25, 1.0, 0.125]
    vecs = {i: [round(rng.uniform(-1, 1), 3) for _ in range(4)]
            for i in range(30)}
    vecs.update({3: tie, 12: tie, 22: [2 * x for x in tie], 5: None,
                 7: [0.0] * 4, 20: [0.0] * 4,
                 21: [float("nan"), 0.5, -1.0, 2.0]})
    con = duckdb.connect()
    con.register("embeddings", pa.table(
        {"vec_id": list(vecs), "embedding": list(vecs.values())}
    ))
    ctes = f"WITH {m._sql_ivf_cells(probes=True)} "
    cells = sorted(con.execute(ctes + "SELECT vec_id, cell FROM cells").fetchall())
    probes = sorted(con.execute(ctes + "SELECT query_id, cell, rn FROM probes").fetchall())
    assert (22, 3) in cells and len(probes) == m.N_QUERIES * m._IVF_CELLS

    emb = spark.createDataFrame(
        [*vecs.items(), (30, [1.0, None, 0.5, 0.25])],
        "vec_id bigint, embedding array<double>",
    )
    cent = ivf_centroids(emb, m._IVF_CELLS)
    for dim in (4, None):
        got = assign_cells(emb, cent, dim=dim).collect()
        assert sorted(map(tuple, got)) == sorted(cells + [(30, 0)])
    q = _queries(emb, m.N_QUERIES)
    got = probe_cells(q, cent, dim=4, n_probe=m._IVF_CELLS)
    assert sorted(map(tuple, got.select("__qid", "cell", "__rn").collect())) == probes


def test_ensure_index_is_create_if_absent(spark, emb, tmp_path):
    path = str(tmp_path / "ivf")
    assert not ivf_index_exists(path)
    ensure_ivf_index(spark, emb, path, dim=64)
    assert ivf_index_exists(path)
    marker = f"{path}/cells/_SUCCESS"
    before = os.path.getmtime(marker)
    ensure_ivf_index(spark, emb, path, dim=64)  # must reuse, not rebuild
    assert os.path.getmtime(marker) == before


def test_probed_search_prunes_cell_partitions(spark, emb, tmp_path):
    """The stored-cells scan must carry the literal cell IN filter as a
    partition filter — unprobed cell directories are never listed."""
    from tests.test_plans import plan_of

    path = str(tmp_path / "ivf")
    ensure_ivf_index(spark, emb, path, dim=64)
    out = search_ivf_index(spark, path, _queries(emb, 3), 5, dim=64, n_probe=2)
    plan = plan_of(out)
    assert "PartitionFilters" in plan and "cell#" in plan
    # and the results are still k-deep per query
    assert out.groupBy("query_id").count().agg(F.min("count")).first()[0] == 5


def test_incremental_upsert_then_search_and_compact(spark, emb, tmp_path):
    """Build on 90% of the corpus, upsert the held-out 10% + an updated
    version of one existing id; serving sees the union with latest-wins,
    and compaction restores one row per id."""
    from cs6300_vectordbs_spark.sources.vector_index import (
        compact_ivf_index,
        upsert_ivf_index,
    )

    path = str(tmp_path / "ivf")
    base = emb.filter(F.col("vec_id") % 10 != 9)
    held = emb.filter(F.col("vec_id") % 10 == 9)
    ensure_ivf_index(spark, base, path, dim=64)
    upsert_ivf_index(spark, held, path, dim=64, gen=1)
    # re-upsert one existing id with a sentinel vector
    sentinel = emb.filter(F.col("vec_id") == 20).select(
        "vec_id", F.expr("transform(embedding, x -> float(0.5))").alias("embedding")
    )
    upsert_ivf_index(spark, sentinel, path, dim=64, gen=2)

    cells = spark.read.parquet(f"{path}/cells")
    n_ids = emb.count()
    assert cells.count() == n_ids + 1  # one duplicated id pre-compaction

    out = search_ivf_index(spark, path, _queries(emb), 5, dim=64, n_probe=16)
    # full probe (all 16 cells) -> latest-wins must serve the sentinel,
    # and every indexed id must be visible exactly once
    assert out.groupBy("query_id").count().agg(F.min("count")).first()[0] == 5

    compact_ivf_index(spark, path)
    after = spark.read.parquet(f"{path}/cells")
    assert after.count() == n_ids
    assert after.select("id").distinct().count() == n_ids
    # the compacted row for id 20 is the gen-2 sentinel
    v = after.filter(F.col("id") == 20).select("vec").first()[0]
    assert abs(v[0] - 0.5) < 1e-6


def _has_id_window(spark, path, queries):
    """Does the serve plan carry the latest-wins window keyed by id?"""
    import re

    from tests.test_plans import plan_of

    out = search_ivf_index(spark, path, queries, 5, dim=64)
    return re.search(r"windowspecdefinition\(id#", plan_of(out)) is not None


def test_serve_jobs_collects_and_dedup_window_follow_the_marker(
    spark, emb, tmp_path, monkeypatch
):
    """A fresh index serves in at most 7 jobs, no eager collect reads a
    cells file, and the id-keyed dedup window exists only while upsert
    generations do (after upsert, not after build or compaction)."""
    from cs6300_vectordbs_spark.sources.vector_index import (
        build_ivf_index,
        compact_ivf_index,
        upsert_ivf_index,
    )

    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, dim=64)
    queries = _queries(emb, 4)

    cls, collected = type(emb), []
    for name in ("collect", "toArrow", "toPandas"):
        def spy(self, *a, _orig=getattr(cls, name), **kw):
            collected.extend(self.inputFiles())
            return _orig(self, *a, **kw)

        monkeypatch.setattr(cls, name, spy)
    sc = spark.sparkContext
    sc.setJobGroup("ivf-serve-jobs", "search_ivf_index on a fresh index")
    try:
        out = search_ivf_index(spark, path, queries, 5, dim=64)
        monkeypatch.undo()
        assert len(out.collect()) == 20
    finally:
        sc.setJobGroup("", "")
    assert collected, "the probe step collects the query batch"
    assert not [f for f in collected if "/cells/" in f], collected
    assert len(sc.statusTracker().getJobIdsForGroup("ivf-serve-jobs")) <= 7

    assert not _has_id_window(spark, path, queries)
    upsert_ivf_index(
        spark, emb.filter(F.col("vec_id") < 3), path, dim=64, gen=1
    )
    assert _has_id_window(spark, path, queries)
    compact_ivf_index(spark, path)
    assert not _has_id_window(spark, path, queries)


def test_upsert_sets_marker_before_append(spark, emb, tmp_path, monkeypatch):
    """A crash after the appended files land must leave HAS_UPSERTS, or
    the serve would skip the latest-wins dedup over stale rows."""
    from pyspark.sql.readwriter import DataFrameWriter

    from cs6300_vectordbs_spark.sources.vector_index import (
        build_ivf_index,
        upsert_ivf_index,
    )

    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, dim=64)
    assert not os.path.exists(f"{path}/HAS_UPSERTS")
    write = DataFrameWriter.parquet

    def land_then_crash(self, *a, **kw):
        write(self, *a, **kw)
        raise RuntimeError("crash after the append landed")

    monkeypatch.setattr(DataFrameWriter, "parquet", land_then_crash)
    with pytest.raises(RuntimeError, match="append landed"):
        upsert_ivf_index(
            spark, emb.filter(F.col("vec_id") < 3), path, dim=64, gen=1
        )
    assert os.path.exists(f"{path}/HAS_UPSERTS")
