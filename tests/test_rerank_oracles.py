"""Oracle differential for the exact re-rank family.

One registered query per caller of operators/similarity's shared
re-rank (``_rank_topk``, ``_rerank``, ``_shortlist``) runs on Spark and
its DuckDB twin runs over the same sf0.001 parquet files; the two must
agree on row count, column names and tools/verify_local.frame_hash (an
order-insensitive hash of the exact values). A drift in a re-rank rule
(tie order, NULL handling, norm factoring) fails here, in tier-1,
rather than only in the full verify_local run.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pytest

from tests.conftest import SF_DIR
from tools.verify_local import TABLES, frame_hash

KEYS = [
    "topk_cosine_exact",  # similarity_topk
    "srp_lsh_topk",
    "ivf_topk",  # ann._ivf_from_centroids
    "ivf_persisted_topk",  # sources/vector_index.search_ivf_index
    "sq8_topk",
    "pq_topk",
    "ivfpq_topk",
    "bq_topk",
    "bq_persisted_topk",  # sources/bq_index.search_bq_index
    "matryoshka_topk",
    "ann_tuning_report",  # the driver's recall sweep
]


@pytest.fixture(scope="module")
def entry():
    spec = importlib.util.spec_from_file_location(
        "entry",
        os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py"),
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("key", KEYS)
def test_rerank_query_matches_oracle(spark, entry, duck, key):
    df = entry.queries()[key](spark, SF_DIR)
    rows = [tuple(r) for r in df.collect()]
    cur = duck.execute(entry.oracle_sql()[key])
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    assert rows, key
    assert len(rows) == len(orows)
    assert sorted(df.columns) == sorted(ocols)
    assert frame_hash(df.columns, rows) == frame_hash(ocols, orows)
