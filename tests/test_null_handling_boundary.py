"""NULL-vector quarantine at the engine boundaries (serving + index
lifecycle): a NULL embedding is out-of-contract for vector math — even
DuckDB's list_inner_product refuses one, so no oracle differential can
cover it. The contract is drop-at-boundary, measured by
operators.quality.null_audit; these tests pin that every entry point
drops (never crashes on, never ranks) a NULL vector."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cs6300_vectordbs_spark.operators.search import search
from cs6300_vectordbs_spark.operators.quality import null_audit
from cs6300_vectordbs_spark.sources.vector_index import (
    build_ivf_index,
    search_ivf_index,
    upsert_ivf_index,
)


@pytest.fixture(scope="module")
def dirty_emb(spark):
    rows = [(i, [float(i % 7 + 1), float(i % 3), 1.0, 0.5]) for i in range(40)]
    rows += [(100, None), (101, None)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


@pytest.fixture(scope="module")
def qbatch(spark):
    return spark.createDataFrame(
        [(0, [1.0, 0.0, 1.0, 0.5]), (1, None)],
        "query_id long, query_vec array<float>",
    )


@pytest.mark.parametrize("strategy", ["exact", "blocked", "grid", "ivf"])
def test_search_boundary_drops_null_vectors_every_strategy(
    dirty_emb, qbatch, strategy, monkeypatch
):
    """Each arm is reached the way the engine reaches it: the broadcast
    and grid plans of the exact top-k by the query-batch bound, ivf by
    the corpus count, and 'exact' is the JVM parity reference."""
    import cs6300_vectordbs_spark.operators.similarity as sim_mod
    from cs6300_vectordbs_spark.operators.search import BLOCKED_MAX_PAIRS

    if strategy == "grid":
        monkeypatch.setattr(sim_mod, "BROADCAST_MAX_QUERIES", 0)
    nc = BLOCKED_MAX_PAIRS + 1 if strategy == "ivf" else None
    if strategy == "exact":
        out = sim_mod._jvm_topk(dirty_emb, qbatch, 3, dim=4)
    else:
        out = search(
            dirty_emb, qbatch, 3, dim=4, corpus_count=nc, n_cells=2,
            n_probe=2,
        )
    got = out.collect()
    assert {r.query_id for r in got} == {0}          # null query dropped
    assert all(r.vec_id < 100 for r in got)          # null corpus rows dropped
    assert len(got) == 3


def test_ivf_lifecycle_quarantines_null_vectors(spark, dirty_emb, tmp_path):
    path = str(tmp_path / "ivf")
    build_ivf_index(dirty_emb, path, dim=4, n_cells=2)
    cells = spark.read.parquet(f"{path}/cells")
    assert cells.filter(F.col("vec").isNull()).count() == 0
    assert cells.count() == 40
    # upsert a batch containing another null vector: appended cells
    # must stay null-free and the search must still answer
    delta = spark.createDataFrame(
        [(200, [9.0, 0.0, 0.0, 0.0]), (201, None)],
        "vec_id long, embedding array<float>",
    )
    upsert_ivf_index(spark, delta, path, dim=4, gen=1)
    cells = spark.read.parquet(f"{path}/cells")
    assert cells.filter(F.col("vec").isNull()).count() == 0
    assert cells.count() == 41
    q = spark.createDataFrame(
        [(0, [9.0, 0.0, 0.0, 0.0])], "query_id long, query_vec array<float>"
    )
    got = search_ivf_index(spark, path, q, 1, dim=4, n_probe=2).collect()
    assert [r.id for r in got] == [200]


def test_null_audit_counts_by_column(spark):
    df = spark.createDataFrame(
        [(1, "x", None), (2, None, None), (3, "  ", "y")],
        "id long, text string, extra string",
    )
    got = {
        r.column: (r.n_null, r.n_blank, r.n_rows)
        for r in null_audit(df, "t").collect()
    }
    assert got["id"] == (0, 0, 3)
    assert got["text"] == (1, 1, 3)      # one NULL, one whitespace-blank
    assert got["extra"] == (2, 0, 3)
