"""Persistent binary-quantization index (sources/bq_index.py):
lifecycle, serving parity with the in-memory twin, and the
words-only first-pass plan shape."""

import contextlib
import io
import os

from pyspark.sql import functions as F

from cs6300_vectordbs_spark.operators.twostage import bq_topk
from cs6300_vectordbs_spark.sources.bq_index import (
    bq_index_exists,
    ensure_bq_index,
    search_bq_index,
)


def _queries(emb, n=10):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_persisted_search_equals_in_memory_bq(spark, emb, tmp_path):
    path = str(tmp_path / "bq")
    ensure_bq_index(spark, emb, path, dim=64)
    stored = search_bq_index(
        spark, path, emb, _queries(emb), 5, dim=64, refine=4,
        exclude_self=True,
    )
    direct = bq_topk(
        emb, _queries(emb), 5, dim=64, refine=4, exclude_self=True
    )
    got = {
        (r.query_id, r.rank, r.vec_id, r.hamming, r.sim) for r in stored.collect()
    }
    want = {
        (r.query_id, r.rank, r.vec_id, r.hamming, r.sim)
        for r in direct.collect()
    }
    assert got == want and len(want) == 50  # bit-identical serving parity


def test_ensure_is_create_if_absent_and_param_addressed(spark, emb, tmp_path):
    path = str(tmp_path / "bq")
    assert not bq_index_exists(path)
    ensure_bq_index(spark, emb, path, dim=64)
    assert bq_index_exists(path)
    marker = f"{path}/words/_SUCCESS"
    before = os.path.getmtime(marker)
    ensure_bq_index(spark, emb, path, dim=64)  # unchanged -> reuse
    assert os.path.getmtime(marker) == before
    # A packing-parameter change over the SAME corpus must rebuild:
    # stored words under a different dim would produce wrong Hamming.
    ensure_bq_index(spark, emb, path, dim=40)
    assert os.path.getmtime(marker) > before


def test_ensure_rebuilds_on_corpus_change(spark, emb, tmp_path):
    path = str(tmp_path / "bq")
    half = emb.filter(F.col("vec_id") % 2 == 0)
    ensure_bq_index(spark, half, path, dim=64)
    marker = f"{path}/words/_SUCCESS"
    before = os.path.getmtime(marker)
    ensure_bq_index(spark, emb, path, dim=64)  # content changed
    assert os.path.getmtime(marker) > before
    # Serving after the rebuild sees the full corpus.
    out = search_bq_index(
        spark, path, emb, _queries(emb, 1), 5, dim=64, refine=1000
    ).collect()
    assert {r.vec_id for r in out} <= {r.vec_id for r in emb.collect()}


def test_null_vectors_quarantined_at_build(spark, emb, tmp_path):
    path = str(tmp_path / "bq")
    emb_d = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    withnull = emb_d.union(
        spark.range(1).select(
            F.lit(999999).alias("vec_id"),
            F.lit(None).cast("array<double>").alias("embedding"),
        )
    )
    ensure_bq_index(spark, withnull, path, dim=64)
    words = spark.read.parquet(f"{path}/words")
    assert words.filter(F.col("id") == 999999).count() == 0


def test_fetch_prunes_to_candidate_ids_and_reuses_coarse_pass(spark, emb, tmp_path):
    """The serving plan's scan story: the coarse Hamming pass runs
    ONCE (materialized — the words parquet never appears in the final
    plan, only the checkpointed candidate RDD), and the float fetch is
    candidate-ids-only — the corpus parquet scan carries a literal
    In(vec_id, ...) pushed filter (row-group pruning at scale) and
    reads just (id, vector)."""
    path = str(tmp_path / "bq")
    ensure_bq_index(spark, emb, path, dim=64)
    df = search_bq_index(spark, path, emb, _queries(emb), 5, dim=64)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    reads = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    # Exactly one parquet scan — the corpus fetch; the words table is
    # consumed inside the materialized coarse pass, not re-scanned.
    assert len(reads) == 1 and "embedding" in reads[0]
    assert "w0" not in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "In(vec_id," in pushed[0]
    assert "Scan ExistingRDD" in plan  # checkpointed candidates
    assert "WindowGroupLimit" in plan  # the exact-rerank partial top-k


def test_words_table_stores_packed_longs_only(spark, emb, tmp_path):
    """The persisted first-pass artifact carries no float column —
    the 16-bytes-per-vector scan claim (plus the generation column
    the upsert lifecycle resolves on)."""
    path = str(tmp_path / "bq")
    ensure_bq_index(spark, emb, path, dim=64)
    words = spark.read.parquet(f"{path}/words")
    assert all(
        f.dataType.simpleString() == "bigint" for f in words.schema.fields
    )
    assert set(words.columns) == {"id", "w0", "w1", "gen"}


# ---------------------------------------------------------------------------
# maintenance lifecycle: upsert / delete / compact
# ---------------------------------------------------------------------------

def _flip_first_coord(emb, pred):
    return emb.filter(pred).select(
        "vec_id",
        F.concat(
            F.array(-F.col("embedding")[0]),
            F.slice(F.col("embedding"), 2, 63),
        ).alias("embedding"),
    )


def _modified_corpus(emb):
    """Corpus with vec_id % 10 == 7 first-coordinate-flipped."""
    base = emb.select("vec_id", "embedding")
    flipped = _flip_first_coord(emb, F.col("vec_id") % 10 == 7)
    return base.filter(F.col("vec_id") % 10 != 7).unionByName(flipped)


def test_upsert_then_serve_matches_in_memory_over_modified_corpus(
    spark, emb, tmp_path
):
    from cs6300_vectordbs_spark.sources.bq_index import (
        build_bq_index,
        upsert_bq_index,
    )

    path = str(tmp_path / "bq")
    build_bq_index(emb, path, dim=64)
    upsert_bq_index(
        spark, _flip_first_coord(emb, F.col("vec_id") % 10 == 7), path,
        dim=64, gen=1,
    )
    mod = _modified_corpus(emb)
    # PRE-compaction: latest-wins dedup must already serve exactly.
    stored = search_bq_index(
        spark, path, mod, _queries(emb), 5, dim=64, refine=4,
        exclude_self=True,
    )
    direct = bq_topk(mod, _queries(emb), 5, dim=64, refine=4,
                     exclude_self=True)
    got = {(r.query_id, r.rank, r.vec_id, r.hamming, r.sim)
           for r in stored.collect()}
    want = {(r.query_id, r.rank, r.vec_id, r.hamming, r.sim)
            for r in direct.collect()}
    assert got == want and len(want) == 50


def test_delete_tombstones_then_compact(spark, emb, tmp_path):
    import os

    from cs6300_vectordbs_spark.sources.bq_index import (
        build_bq_index,
        compact_bq_index,
        delete_from_bq_index,
    )

    path = str(tmp_path / "bq")
    build_bq_index(emb, path, dim=64)
    doomed = emb.filter(F.col("vec_id") % 10 == 3).select("vec_id")
    delete_from_bq_index(spark, doomed, path)
    survivors = emb.filter(F.col("vec_id") % 10 != 3)
    # Tombstoned serve == in-memory search over the survivor corpus.
    stored = search_bq_index(
        spark, path, survivors, _queries(emb), 5, dim=64, refine=4,
        exclude_self=True,
    )
    direct = bq_topk(survivors, _queries(emb), 5, dim=64, refine=4,
                     exclude_self=True)
    got = {(r.query_id, r.rank, r.vec_id, r.sim) for r in stored.collect()}
    want = {(r.query_id, r.rank, r.vec_id, r.sim) for r in direct.collect()}
    assert got == want
    assert not any(r[2] % 10 == 3 for r in got)
    # Compaction physically removes tombstoned rows and clears state.
    compact_bq_index(spark, path)
    words = spark.read.parquet(f"{path}/words")
    assert words.filter(F.col("id") % 10 == 3).count() == 0
    assert not os.path.exists(f"{path}/tombstones")
    after = search_bq_index(
        spark, path, survivors, _queries(emb), 5, dim=64, refine=4,
        exclude_self=True,
    )
    got2 = {(r.query_id, r.rank, r.vec_id, r.sim) for r in after.collect()}
    assert got2 == want


def test_compact_resolves_generations_and_clears_marker(spark, emb, tmp_path):
    import os

    from cs6300_vectordbs_spark.sources.bq_index import (
        build_bq_index,
        compact_bq_index,
        upsert_bq_index,
    )

    path = str(tmp_path / "bq")
    build_bq_index(emb, path, dim=64)
    n = emb.count()
    upsert_bq_index(
        spark, _flip_first_coord(emb, F.col("vec_id") % 10 == 7), path,
        dim=64, gen=1,
    )
    assert os.path.exists(f"{path}/HAS_UPSERTS")
    assert spark.read.parquet(f"{path}/words").count() > n
    compact_bq_index(spark, path)
    assert not os.path.exists(f"{path}/HAS_UPSERTS")
    words = spark.read.parquet(f"{path}/words")
    assert words.count() == n  # one row per id again
    assert words.select(F.max("gen")).collect()[0][0] == 0
    # Post-compact serve still reflects the upserted vectors.
    mod = _modified_corpus(emb)
    stored = search_bq_index(
        spark, path, mod, _queries(emb), 5, dim=64, refine=4,
        exclude_self=True,
    )
    direct = bq_topk(mod, _queries(emb), 5, dim=64, refine=4,
                     exclude_self=True)
    got = {(r.query_id, r.rank, r.vec_id, r.hamming, r.sim)
           for r in stored.collect()}
    want = {(r.query_id, r.rank, r.vec_id, r.hamming, r.sim)
            for r in direct.collect()}
    assert got == want


def test_upsert_sets_marker_before_append(spark, emb, tmp_path, monkeypatch):
    """A crash after the appended words land must leave HAS_UPSERTS, or
    search_bq_index would skip the latest-wins dedup and serve stale
    duplicates."""
    import pytest
    from pyspark.sql.readwriter import DataFrameWriter

    from cs6300_vectordbs_spark.sources.bq_index import (
        build_bq_index,
        upsert_bq_index,
    )

    path = str(tmp_path / "bq")
    build_bq_index(emb, path, dim=64)
    assert not os.path.exists(f"{path}/HAS_UPSERTS")
    write = DataFrameWriter.parquet

    def land_then_crash(self, *a, **kw):
        write(self, *a, **kw)
        raise RuntimeError("crash after the append landed")

    monkeypatch.setattr(DataFrameWriter, "parquet", land_then_crash)
    with pytest.raises(RuntimeError, match="append landed"):
        upsert_bq_index(
            spark, _flip_first_coord(emb, F.col("vec_id") % 10 == 7), path,
            dim=64, gen=1,
        )
    assert os.path.exists(f"{path}/HAS_UPSERTS")
