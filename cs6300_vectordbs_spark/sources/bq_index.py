"""Persistent binary-quantization index: build -> store -> serve.

The packed sign-bit words of operators/twostage.bq_topk are exactly
the artifact worth PERSISTING: ceil(dim/32) BIGINTs per vector — at
64-d, 16 bytes against the 512 bytes of the double math the coarse
pass would otherwise read, and at the reference's real 384-d, 96
bytes against 3 KB.  This module gives those words the same
content-addressed lifecycle as the IVF/BM25/dedup stores
(index_common: flock-serialized builders, invalidate-first rebuild,
fingerprint committed last):

  build_bq_index    pack every corpus vector and WRITE (id, w0..wN)
                    as parquet — the index IS the packed column.
  ensure_bq_index   create-if-absent (S9); fingerprint covers the
                    corpus identity columns AND the packing
                    parameters (dim, word_bits).
  search_bq_index   serve top-k from the STORED words: the Hamming
                    first pass scans ONLY the packed table (longs at
                    memory bandwidth, integer codegen), and the full
                    vectors are fetched for the k*refine candidates
                    per query via one broadcast semi-join-shaped hash
                    join against the corpus — the row-fetch of a real
                    deployment.

Serving parity: the same two stages as operators/twostage.bq_topk
(operators/similarity's ``_shortlist`` by Hamming asc, then
``_rerank``), so the stored-serving query shares bq_topk's full value-hash
oracle — the same oracle relationship nsw_persisted_topk and
ivf_persisted_topk have with their in-memory twins.

Reference lifecycle parity: Chroma PersistentClient
(/root/reference/src/chroma.py:69-70) / Pinecone serverless index
(/root/reference/src/pineconeDB.py:84-95) — build once, reuse across
sessions, invalidate on corpus change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vector import l2_norm
from ..operators.similarity import _rerank, _shortlist
from ..operators.twostage import (
    WORD_BITS,
    bq_hamming,
    bq_pack_words,
    n_words_for,
)
from ..operators.util import spread
from .index_common import (
    build_lock,
    clear_marker,
    corpus_fingerprint,
    has_marker,
    invalidate_fingerprint,
    latest_generation,
    read_fingerprint,
    set_marker,
    write_fingerprint,
)

#: Largest candidate-id set collected for the parquet-pushdown row
#: fetch (queries x k x refine ids — bounded by the same broadcast-
#: sized-query-batch contract as search_ivf_index's probed cells).
#: Past it the fetch falls back to the broadcast hash join: still
#: candidates-only compute, but a full (id, embedding) scan.
MAX_FETCH_IDS = 100_000


def build_bq_index(
    corpus: DataFrame,
    path: str,
    *,
    dim: int,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> None:
    """Write ``{path}/words``: one row per corpus vector, the id plus
    ``ceil(dim/32)`` packed BIGINT words and a generation column
    (``gen=0``; upserts append higher generations). Map-only over the
    corpus — no shuffle; the table inherits the corpus partitioning.
    NULL vectors are quarantined at build (they cannot be ranked;
    DuckDB's list math refuses them too), mirroring the IVF build."""
    corpus = corpus.filter(F.col(corpus_vec).isNotNull())
    words = corpus.select(
        F.col(corpus_id).alias("id"),
        *[
            c.alias(f"w{i}")
            for i, c in enumerate(bq_pack_words(corpus_vec, dim))
        ],
        F.lit(0).cast("bigint").alias("gen"),
    )
    words.write.mode("overwrite").parquet(f"{path}/words")
    clear_marker(path, "HAS_UPSERTS")
    _clear_tombstones(path)


def _tombstones_path(path: str) -> str:
    return f"{path}/tombstones"


def _clear_tombstones(path: str) -> None:
    import shutil

    shutil.rmtree(_tombstones_path(path), ignore_errors=True)


def upsert_bq_index(
    spark: SparkSession,
    new_vectors: DataFrame,
    path: str,
    *,
    dim: int,
    gen: int = 1,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> None:
    """Incremental maintenance (V5 against the stored words): pack
    ONLY the new/changed vectors and append them at a higher
    generation — no rebuild, no touch of unaffected rows. Re-upserted
    ids resolve at read time by search_bq_index's latest-wins dedup
    (the same plain-parquet MERGE pattern as upsert_ivf_index); the
    ``HAS_UPSERTS`` marker tells the serve to pay that dedup window
    only while generations actually exist — compaction clears it.
    Like the IVF lifecycle, upsert mutates the index WITHOUT updating
    the content fingerprint: a later ensure_ over the updated corpus
    rebuilds from scratch (content-addressed), while explicit
    maintenance callers use this path."""
    new_vectors = new_vectors.filter(F.col(corpus_vec).isNotNull())
    # Marker BEFORE the append: a crash after the files land must still
    # leave the serve deduplicating (index_common STATE MARKERS).
    set_marker(path, "HAS_UPSERTS")
    words = new_vectors.select(
        F.col(corpus_id).alias("id"),
        *[
            c.alias(f"w{i}")
            for i, c in enumerate(bq_pack_words(corpus_vec, dim))
        ],
        F.lit(gen).cast("bigint").alias("gen"),
    )
    words.write.mode("append").parquet(f"{path}/words")


def delete_from_bq_index(
    spark: SparkSession,
    ids: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
) -> None:
    """Delete verb: append the ids to ``{path}/tombstones``; serving
    anti-joins them (broadcast — the table is output-of-deletes-sized)
    before the Hamming ranking, so deleted vectors can neither rank
    nor displace candidates. Physical removal happens at
    compact_bq_index, the same tombstone-then-compact contract as the
    graph indexes."""
    ids.select(F.col(id_col).cast("bigint").alias("id")).write.mode(
        "append"
    ).parquet(_tombstones_path(path))


def compact_bq_index(spark: SparkSession, path: str) -> None:
    """Resolve all generations (latest wins per id), drop tombstoned
    rows, rewrite the words table at gen 0, clear the tombstones and
    the upsert marker — restoring the one-row-per-id, dedup-free
    serving shape. Same swap discipline as compact_ivf_index: the
    replacement is fully materialized BESIDE the live table before the
    rename pair, so a mid-write failure leaves the old index serving."""
    import shutil

    latest = latest_generation(spark.read.parquet(f"{path}/words")).withColumn(
        "gen", F.lit(0).cast("bigint")
    )
    if os.path.exists(f"{_tombstones_path(path)}/_SUCCESS"):
        tombs = spark.read.parquet(_tombstones_path(path)).distinct()
        latest = latest.join(F.broadcast(tombs), on="id", how="left_anti")
    tmp = f"{path}/words.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    latest.write.mode("overwrite").parquet(tmp)
    old = f"{path}/words.old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(f"{path}/words", old)
    os.rename(tmp, f"{path}/words")
    shutil.rmtree(old, ignore_errors=True)
    _clear_tombstones(path)
    clear_marker(path, "HAS_UPSERTS")


def bq_index_exists(path: str) -> bool:
    return os.path.exists(f"{path}/words/_SUCCESS")


def ensure_bq_index(
    spark: SparkSession,
    corpus: DataFrame,
    path: str,
    *,
    dim: int,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> None:
    """S9 create-if-absent with the family's crash/concurrency
    contract: lock-free reuse when the stored fingerprint matches,
    flock + double-check + invalidate-first + fingerprint-last on a
    miss. The fingerprint encodes (dim, word_bits): a packing-width
    change over an unchanged corpus must rebuild — stored words under
    a different layout would silently produce wrong Hamming."""
    fp = corpus_fingerprint(
        corpus, [corpus_id, corpus_vec],
        {"dim": dim, "word_bits": WORD_BITS},
    )
    if bq_index_exists(path) and read_fingerprint(path) == fp:
        return
    with build_lock(path):
        if bq_index_exists(path) and read_fingerprint(path) == fp:
            return
        invalidate_fingerprint(path)
        build_bq_index(
            corpus, path, dim=dim, corpus_id=corpus_id, corpus_vec=corpus_vec
        )
        write_fingerprint(path, fp)


def search_bq_index(
    spark: SparkSession,
    path: str,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    dim: int,
    refine: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    exclude_self: bool = False,
) -> DataFrame:
    """Top-k cosine from the stored packed words.

    Pass 1 never touches a float: the words table (longs only) streams
    partition-parallel against the broadcast query words, and the
    per-query top ``k * refine`` by (hamming asc, id asc)
    (similarity._shortlist) — O(queries x candidates x partitions) rows
    move. Pass 2 fetches full vectors for the candidate ids only: the
    distinct candidate ids (queries x k x refine — bounded by the same
    broadcast-sized-query-batch contract as search_ivf_index's probed
    cells) are collected and pushed as a literal IN filter into the
    corpus scan, so parquet row-group pruning confines the float read
    to candidate rows, and the exact re-rank (similarity._rerank)
    reads a norm computed once per fetched row below the fetch join.
    Past ``MAX_FETCH_IDS`` ids the fetch degrades gracefully to the
    broadcast hash join (full (id, vector) scan, one norm per scanned
    row, dots for candidates only).

    Column names, candidate rule, and every tie rule match
    operators/twostage.bq_topk (the id column comes back under
    ``corpus_id``), so this serving path shares its full value-hash
    oracle — the distance/candidate expressions are literally the
    shared bq_hamming/bq_pack_words code.

    Maintenance state is honored at serve time: upsert generations
    resolve latest-wins (only while the HAS_UPSERTS marker exists —
    compaction restores the dedup-free shape), and tombstoned ids are
    anti-joined out BEFORE the ranking, so a deleted vector can
    neither rank nor displace a candidate. ``corpus`` must reflect the
    CURRENT vector values (it is the row-fetch side); the packed words
    carry the index's own upsert history.
    """
    n_words = n_words_for(dim)
    raw = spark.read.parquet(f"{path}/words")
    if has_marker(path, "HAS_UPSERTS"):
        # Paid ONLY while generations exist (over the 16-byte packed
        # rows); compact_bq_index restores the dedup-free shape and
        # clears the marker.
        raw = latest_generation(raw)
    if os.path.exists(f"{_tombstones_path(path)}/_SUCCESS"):
        tombs = spark.read.parquet(_tombstones_path(path)).distinct()
        raw = raw.join(F.broadcast(tombs), on="id", how="left_anti")
    words = spread(raw).select(
        F.col("id").alias(corpus_id),
        *[F.col(f"w{i}").alias(f"__cw{i}") for i in range(n_words)],
    )

    q = queries.select(
        F.col(query_id).alias("__qid"),
        F.col(query_vec).alias("__qvec"),
        l2_norm(query_vec, dim).alias("__qn"),
        *[
            c.alias(f"__qw{i}")
            for i, c in enumerate(bq_pack_words(query_vec, dim))
        ],
    )

    joined = words.join(F.broadcast(q), how="cross")
    if exclude_self:
        joined = joined.filter(F.col(corpus_id) != F.col("__qid"))

    cand = (
        _shortlist(
            joined.withColumn("hamming", bq_hamming(n_words)),
            k * refine, score="hamming", id_col=corpus_id, desc=False,
        )
        .select("__qid", "__qvec", "__qn", corpus_id, "hamming")
        # Materialized once: both the candidate-id collect below and
        # the row-fetch join reuse it — the Hamming pass never re-runs.
        .localCheckpoint(eager=True)
    )

    # The norm the re-rank reads, once per fetched row below the fetch
    # join (the IN filter below is pushed under this projection).
    vecs = corpus.filter(F.col(corpus_vec).isNotNull()).select(
        F.col(corpus_id), F.col(corpus_vec),
        l2_norm(corpus_vec, dim).alias("__vn"),
    )
    cand_ids = sorted(
        r[0]
        for r in cand.select(corpus_id).distinct().limit(
            MAX_FETCH_IDS + 1
        ).collect()
    )
    if len(cand_ids) <= MAX_FETCH_IDS:
        # Literal IN filter -> parquet row-group pruning: the float
        # bytes read are candidates-only, the module's scan story.
        vecs = vecs.filter(F.col(corpus_id).isin(cand_ids))
    # Candidates broadcast into the (pruned) corpus scan.
    fetched = vecs.join(F.broadcast(cand), on=corpus_id)
    return _rerank(
        fetched, k, dim=dim, id_col=corpus_id, vec_col=corpus_vec,
        carry=("hamming",), drop_null=True,
    )
