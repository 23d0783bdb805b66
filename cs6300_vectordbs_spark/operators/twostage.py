"""Two-stage coarse-filter / exact-rerank serving strategies.

The reference's stores expose one serving strategy per index (HNSW in
Chroma, /root/reference/src/chroma.py:77; Pinecone's managed index,
/root/reference/src/pineconeDB.py:89).  Modern vector engines add a
family of *compressed first pass + exact second pass* strategies that
matter precisely at the 100 TB scale this engine targets, because the
first pass reads a fraction of the bytes:

- :func:`bq_topk` — binary quantization.  Each embedding collapses to
  its per-dimension sign bits packed into BIGINT words (64 doubles ->
  2 longs at 32 bits/word: a 32x scan-byte reduction when the packed
  words are materialized as their own column/store).  The first pass
  ranks the WHOLE corpus by Hamming distance — pure codegen
  ``bit_count(xor)`` over longs, no floating point at all — and keeps
  ``k * refine`` candidates per query; only those pay the exact cosine.
- :func:`matryoshka_topk` — prefix-dimension (Matryoshka / MRL-style)
  search.  Embeddings trained with matryoshka loss concentrate
  information in the leading dimensions, so the first pass scores only
  the first ``prefix_dim`` components (a ``dim/prefix_dim``-fold flop
  and byte reduction on a column-pruned store) and the exact full-dim
  cosine re-ranks the survivors.

Both are EXACT over their candidate set and fully deterministic, so
unlike the LSH buckets they carry full value-hash DuckDB oracles: the
coarse score (integer Hamming, or the prefix cosine with the shared
left-fold accumulation order) is bit-identical across engines, and
both stages break ties by ascending corpus id, so the candidate SET —
not just the final ranking — is engine-independent. The two stages
are operators/similarity's ``_shortlist`` and ``_rerank``, shared with
every other candidate-generating search.

Scale shape (both operators): queries broadcast, corpus never
shuffles; each stage's per-query top-N compiles to WindowGroupLimit,
so the shuffle carries O(queries x candidates x partitions) rows
regardless of corpus size, and the exact cosine touches candidates
only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vector import cosine_from_parts, dot, l2_norm
from .similarity import _rerank, _shortlist
from .util import spread

#: Sign bits packed per BIGINT word.  32 (not 64) so the left-fold
#: ``acc * 2 + bit`` can never overflow a signed BIGINT — Spark 4 runs
#: ANSI mode, where silent wraparound is an error, and a 2^63 sign-bit
#: surprise is exactly the kind of thing that must fail loud.
WORD_BITS = 32


def n_words_for(dim: int, word_bits: int = WORD_BITS) -> int:
    """Packed BIGINT words needed for ``dim`` sign bits — the ONE home
    for the layout arithmetic both the in-memory and persisted paths
    (sources/bq_index.py) must agree on."""
    return (dim + word_bits - 1) // word_bits


def bq_hamming(
    n_words: int, corpus_prefix: str = "__cw", query_prefix: str = "__qw"
) -> Column:
    """Hamming distance between two packed-word column families:
    ``sum_w bit_count(corpus_w XOR query_w)`` as BIGINT.  Shared by
    bq_topk and sources/bq_index.search_bq_index so the candidate rule
    the two paths' oracle parity depends on lives in exactly one
    place — a layout or distance change cannot drift them apart."""
    return sum(
        [
            F.bit_count(
                F.col(f"{corpus_prefix}{i}").bitwiseXOR(
                    F.col(f"{query_prefix}{i}")
                )
            ).cast("bigint")
            for i in range(n_words)
        ],
        F.lit(0).cast("bigint"),
    )


def bq_pack_words(vec_col: str, dim: int, word_bits: int = WORD_BITS) -> list[Column]:
    """Sign-bit packing: word ``w`` left-folds dims ``[w*word_bits,
    (w+1)*word_bits)`` as ``acc*2 + (v[i] > 0 ? 1 : 0)`` — first
    dimension in the word lands in the most-significant bit.

    The exact bit layout is irrelevant to Hamming distance (XOR +
    popcount counts mismatched POSITIONS under any fixed bijective
    layout); what matters is that corpus and query sides share this
    expression, and that the DuckDB oracle can reproduce the same
    distance without packing at all — the per-pair Hamming equals the
    count of dimensions whose ``> 0`` signs differ, which the oracle
    computes directly (verified bit-for-bit on every (query, corpus)
    pair at sf0.001).

    One parsed ``F.expr`` per word, HOF fold: same construction-cost
    and codegen rationale as srp_bits (operators/ann.py) — a 32-term
    py4j-composed tree costs driver round-trips to build, while the
    fold stays shallow and Arrow-friendly.  NULL elements fold as 0
    bits (``IF(NULL > 0)`` takes the else branch in both engines);
    NULL VECTORS yield NULL words and are dropped from the ranking,
    mirroring similarity_topk's null-sim filter.
    """
    words = []
    for w in range(0, dim, word_bits):
        n = min(word_bits, dim - w)
        words.append(
            F.expr(
                f"aggregate(slice(`{vec_col}`, {w + 1}, {n}), 0L, "
                f"(acc, x) -> acc * 2L + IF(CAST(x AS DOUBLE) > 0.0D, 1L, 0L))"
            )
        )
    return words


def bq_topk(
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
    """Binary-quantized two-stage top-k cosine search.

    Stage 1 ranks every corpus row by Hamming distance between packed
    sign-bit words — ``ceil(dim/32)`` BIGINTs per side, compared with
    ``bit_count(xor)`` entirely inside whole-stage codegen — and keeps
    the ``k * refine`` nearest per query (ties by id ascending, so the
    candidate set is exact and engine-independent).  Stage 2 re-ranks
    the candidates by exact full-precision cosine.

    Returns (query_id, rank, <corpus_id>, hamming, sim, dist), ranked
    by the shared re-rank (similarity._rank_topk).

    At 100 TB the packed words are the column you PERSIST (32x smaller
    than the float32 vectors, 64x smaller than double); the first pass
    then scans longs at memory bandwidth and the full vectors are
    fetched for O(queries x k x refine) rows only.  Here the packing is
    scan-fused (computed in the same projection that reads the vector)
    so the demonstrated plan shape — coarse WindowGroupLimit, exact
    cosine on candidates only — is the one that survives the scale-up.
    """
    n_words = n_words_for(dim)

    c = spread(corpus).select(
        F.col(corpus_id),
        F.col(corpus_vec),
        l2_norm(corpus_vec, dim).alias("__vn"),
        *[
            col.alias(f"__cw{i}")
            for i, col in enumerate(bq_pack_words(corpus_vec, dim))
        ],
    )
    q = queries.select(
        F.col(query_id).alias("__qid"),
        F.col(query_vec).alias("__qvec"),
        l2_norm(query_vec, dim).alias("__qn"),
        *[
            col.alias(f"__qw{i}")
            for i, col in enumerate(bq_pack_words(query_vec, dim))
        ],
    )

    joined = c.join(F.broadcast(q), how="cross")
    if exclude_self:
        joined = joined.filter(F.col(corpus_id) != F.col("__qid"))

    coarse = joined.withColumn("hamming", bq_hamming(n_words)).filter(
        F.col("hamming").isNotNull()  # NULL vectors never enter the ranking
    )
    cand = _shortlist(
        coarse, k * refine, score="hamming", id_col=corpus_id, desc=False
    )
    return _rerank(
        cand, k, dim=dim, id_col=corpus_id, vec_col=corpus_vec,
        carry=("hamming",), drop_null=True,
    )


def matryoshka_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    dim: int,
    prefix_dim: int = 16,
    refine: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    exclude_self: bool = False,
) -> DataFrame:
    """Prefix-dimension (Matryoshka) two-stage top-k cosine search.

    Stage 1 scores the cosine of the FIRST ``prefix_dim`` components
    only — the unrolled dot/norm expressions simply stop early, so no
    array slicing is materialized and the stage reads ``prefix_dim/dim``
    of the float work (on a store with the prefix persisted as its own
    column, that fraction of the bytes).  The ``k * refine`` best per
    query (ties by id ascending) are re-ranked by the exact full-dim
    cosine.

    Returns (query_id, rank, <corpus_id>, sim_coarse, sim, dist),
    ranked by the shared re-rank (similarity._rank_topk);
    ``sim_coarse`` is the stage-1 prefix cosine that selected the row.

    Both stages use the shared left-fold accumulation order, so the
    prefix cosine is bit-identical to DuckDB's ``list_dot_product`` on
    the sliced list and the candidate set is engine-exact — this is a
    full value-hash oracle, not a recall-tested approximation.
    """
    if not 1 <= prefix_dim <= dim:
        raise ValueError(f"prefix_dim={prefix_dim} must be in [1, dim={dim}]")

    # Above UNROLL_MAX_DIM the dim=N early-stop is unavailable (dot/
    # l2_norm silently fall back to a WHOLE-ARRAY fold — which here
    # would make sim_coarse the exact full-dim cosine, not the prefix
    # score). In that regime the prefix is materialized as an explicit
    # slice so the HOF fold sees ONLY the leading components; the left
    # fold over a slice is bit-identical to the unrolled early-stop.
    from ..functions.vector import UNROLL_MAX_DIM

    hof_prefix = prefix_dim > UNROLL_MAX_DIM

    def _pnorm(col_name: str) -> Column:
        if hof_prefix:
            return l2_norm(F.slice(F.col(col_name), 1, prefix_dim))
        return l2_norm(col_name, prefix_dim)

    c = spread(corpus).select(
        F.col(corpus_id),
        F.col(corpus_vec),
        l2_norm(corpus_vec, dim).alias("__vn"),
        _pnorm(corpus_vec).alias("__cnorm_p"),
    )
    q = queries.select(
        F.col(query_id).alias("__qid"),
        F.col(query_vec).alias("__qvec"),
        l2_norm(query_vec, dim).alias("__qn"),
        _pnorm(query_vec).alias("__qnorm_p"),
    )

    joined = c.join(F.broadcast(q), how="cross")
    if exclude_self:
        joined = joined.filter(F.col(corpus_id) != F.col("__qid"))

    if hof_prefix:
        dot_p = dot(
            F.slice(F.col("__qvec"), 1, prefix_dim),
            F.slice(F.col(corpus_vec), 1, prefix_dim),
        )
    else:
        dot_p = dot("__qvec", corpus_vec, prefix_dim)
    sim_p = cosine_from_parts(
        dot_p,
        F.col("__qnorm_p"),
        F.col("__cnorm_p"),
    )
    coarse = joined.withColumn("sim_coarse", sim_p).filter(
        F.col("sim_coarse").isNotNull()
    )
    cand = _shortlist(
        coarse, k * refine, score="sim_coarse", id_col=corpus_id
    )
    return _rerank(
        cand, k, dim=dim, id_col=corpus_id, vec_col=corpus_vec,
        carry=("sim_coarse",), drop_null=True,
    )
