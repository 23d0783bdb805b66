"""One-call similarity search with automatic physical-strategy dispatch.

The reference exposes exactly one search call and lets the store pick
the physical plan (`collection.query(...)`, /root/reference/src/
chroma.py:95-100 — HNSW under the hood). This facade is the engine's
equivalent "the library does the planning" entry point (SURVEY.md §4.3
item 2): the caller says WHAT (corpus, queries, k, optional filter);
the facade picks HOW from corpus/query row counts:

  exact  |corpus| x |queries| <= BLOCKED_MAX_PAIRS, or a query batch
         too big for ivf to broadcast: the plan of
         :func:`.similarity.similarity_topk`, which picks it by batch
         size (broadcast, or a grid over both sides).
  ivf    beyond that: approximate cell-probed search
         (operators/ann.ivf_topk) scanning only n_probe/n_cells of
         the corpus, exact re-rank inside probed cells.

The query batch is loaded once, bounded: ``limit(BROADCAST_MAX_QUERIES
+ 1)`` through Arrow. Its row count is the query count, and the exact
arm plans from the loaded table, so the batch is collected once. The
corpus count comes from the ``corpus_count`` hint or ``.count()`` (on
parquet sources a row-group-metadata scan). A ``query_count`` hint
skips the load unless the exact arm needs it.

Both strategies return the same (query_id, rank, <corpus_id>, sim,
dist) schema; the exact rows equal the JVM parity reference's bit for
bit (tests/test_plans.py, tests/test_similarity.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import similarity

# Dispatch threshold (tests/test_plans.py pins its semantics): the
# largest exact pair count worth brute-forcing at BLAS speed before
# switching to an ANN index.
BLOCKED_MAX_PAIRS = 5_000_000_000


def choose_strategy(corpus_count: int, query_count: int) -> str:
    """Pure dispatch rule: counts -> 'exact' | 'ivf'.

    exact while corpus x queries <= BLOCKED_MAX_PAIRS, ivf otherwise
    — except that ivf cannot take a batch over
    similarity.BROADCAST_MAX_QUERIES: ivf_topk broadcasts the query
    probes (n_probe rows per query, each with its vector), so such a
    batch stays exact, where similarity_topk shards it with the
    corpus on its grid plan."""
    if (
        query_count > similarity.BROADCAST_MAX_QUERIES
        or corpus_count * query_count <= BLOCKED_MAX_PAIRS
    ):
        return "exact"
    return "ivf"


def search(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    dim: int,
    corpus_count: int | None = None,
    query_count: int | None = None,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    filter_expr: Column | str | None = None,
    exclude_self: bool = False,
    n_cells: int = 16,
    n_probe: int = 4,
    diversify: str | None = None,
    mmr_lambda: float = 0.5,
    mmr_candidates: int | None = None,
) -> DataFrame:
    """Top-k cosine search; the engine picks the physical strategy.

    :func:`choose_strategy` picks it from the (hinted or measured) row
    counts. ``filter_expr`` applies to the corpus BEFORE dispatch —
    pushed into the scan, and for 'ivf' before the index build, so
    every strategy searches the same filtered corpus (the reference
    stores' `where=` surface, SURVEY V6).

    ``diversify='mmr'`` is the facade's ``search_type='mmr'`` surface:
    the chosen strategy retrieves ``mmr_candidates`` (default ``4*k``)
    per query, then :func:`~.rerank.mmr_rerank` greedily selects ``k``
    with the lambda-weighted relevance/redundancy trade-off. Dispatch
    is unchanged — diversity is a re-rank over the candidate set, so
    it composes with every strategy, and the output schema becomes
    (query_id, rank, <corpus_id>, sim, mmr).
    """
    from .ann import ivf_topk

    # Serving boundary quarantine: a NULL vector can never score (the
    # kernels would NULL-propagate or crash; even DuckDB's
    # list_inner_product refuses one). Skipping here keeps every
    # strategy consistent; corpus_null_audit is how a pipeline measures
    # how many rows this drops.
    c = corpus.filter(F.col(corpus_vec).isNotNull())
    q_in = queries.filter(F.col(query_vec).isNotNull())
    if filter_expr is not None:
        c = c.filter(filter_expr)
    qt = None
    if query_count is None:
        # One bounded load: its row count is nq, and the exact arm
        # plans from the table instead of loading again.
        qt = similarity._load_queries(q_in, query_id, query_vec)
        query_count = qt.num_rows
    nc = corpus_count if corpus_count is not None else c.count()

    if diversify not in (None, "mmr"):
        raise ValueError(f"unknown diversify mode: {diversify!r}")
    if mmr_candidates is not None and mmr_candidates < k:
        # A pool smaller than k would silently emit < k rows per query.
        raise ValueError(
            f"mmr_candidates={mmr_candidates} must be >= k={k}"
        )
    k1 = k if diversify is None else (
        4 * k if mmr_candidates is None else mmr_candidates
    )

    if choose_strategy(nc, query_count) == "exact":
        if qt is None:
            qt = similarity._load_queries(q_in, query_id, query_vec)
        out = similarity._exact_topk(
            c, corpus_id, corpus_vec, q_in, query_id, query_vec, qt, k1,
            dim, exclude_self,
        )
    else:
        out = ivf_topk(
            c, q_in, k1, dim=dim, n_cells=n_cells, n_probe=n_probe,
            corpus_id=corpus_id, corpus_vec=corpus_vec,
            query_id=query_id, query_vec=query_vec,
            exclude_self=exclude_self,
        )

    if diversify == "mmr":
        from .rerank import mmr_rerank

        # Every strategy emits its query column under the LITERAL name
        # "query_id" regardless of the input parameter; re-alias to the
        # caller's name so the diversified output keeps their schema.
        cand = out.select(
            F.col("query_id").alias(query_id), corpus_id, "sim"
        ).join(c.select(F.col(corpus_id), F.col(corpus_vec)), on=corpus_id)
        return mmr_rerank(
            cand, k, lambda_=mmr_lambda,
            query_id=query_id, id_col=corpus_id, vec_col=corpus_vec,
        )
    return out


# ---------------------------------------------------------------------------
# Index-FAMILY auto-dispatch: graph (NSW) vs cell-probe (IVF)
#
# choose_strategy above picks a PHYSICAL plan for exact/approximate
# search from row counts alone. Picking the approximate INDEX FAMILY
# needs one more signal: data geometry. docs/ANN_QUALITY.md measures
# the graph path collapsing on structureless data (recall@5 0.368 on
# iid-Gaussian 384-d — intrinsic dimension = ambient) while reaching
# 0.984 on a 16-d-intrinsic manifold (real text-embedding geometry);
# hash/IVF is the documented structureless fallback. Serving the
# graph index on iid-shaped data would silently return bad neighbors
# — this probe makes the documented prose rule executable.
# ---------------------------------------------------------------------------

# Structure-probe defaults (pinned in tests/test_plans.py):
# STRUCT_SAMPLE_N    vectors in the deterministic sample (smallest ids
#                    — reproducible in any engine; 128 vectors = 8,128
#                    pairs, enough to expose any cluster/manifold tail).
# STRUCT_COS_THRESHOLD  a sample PAIR above this cosine is evidence of
#                    local structure. iid Gaussians concentrate near 0
#                    (measured max over 8,128 pairs: 0.45 at 64-d,
#                    0.19 at 384-d — NEVER reaches 0.6), while
#                    clustered/manifold corpora put a visible fraction
#                    of pairs above it.
# STRUCT_MIN_FRAC    minimum fraction of sample pairs >= threshold to
#                    call the corpus structured (8+ of 8,128).
STRUCT_SAMPLE_N = 128
STRUCT_COS_THRESHOLD = 0.6
STRUCT_MIN_FRAC = 0.001


def pair_structure_stat(
    corpus: DataFrame,
    *,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_n: int = STRUCT_SAMPLE_N,
    cos_threshold: float = STRUCT_COS_THRESHOLD,
) -> DataFrame:
    """1-row cluster-structure probe: over the ``sample_n`` smallest-id
    vectors, the count and fraction of unordered pairs with cosine >=
    ``cos_threshold``.

    Scale shape: the sample is a TakeOrderedAndProject (per-partition
    top-n by id + driver merge of n rows — never a global sort), the
    pairwise join is sample_n^2/2 rows of single-expression cosine
    (bit-exact cross-engine: sequential-fold dot, one division), and
    the output is one combinable aggregate row. Cost is independent of
    corpus size. Returns (n_pairs, n_high, frac_high) — frac_high is a
    ratio of the two integer counts, exact in any engine.
    """
    s = (
        corpus.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy("id")
        .limit(sample_n)
        .localCheckpoint(eager=True)  # tiny; both join sides reuse it
    )
    from ..functions.vector import cosine_sim

    a = s.select(F.col("id").alias("ia"), F.col("v").alias("va"))
    b = s.select(F.col("id").alias("ib"), F.col("v").alias("vb"))
    pairs = a.join(b, F.col("ia") < F.col("ib")).select(
        cosine_sim("va", "vb", dim=dim).alias("cos")
    )
    # coalesce + the n_pairs>0 guard mirror the SQL twin exactly on a
    # degenerate sample (corpus with < 2 scorable vectors): n_high = 0
    # (never NULL-from-empty-sum) and frac_high = NULL (never a
    # divide-by-zero artifact), in both engines.
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("cos") >= F.lit(float(cos_threshold)), 1
                ).otherwise(0)
            ),
            F.lit(0),
        ).cast("bigint").alias("n_high"),
    ).select(
        "n_pairs",
        "n_high",
        F.when(
            F.col("n_pairs") > 0,
            F.col("n_high").cast("double") / F.col("n_pairs"),
        ).alias("frac_high"),
    )


def choose_index_strategy(
    n_high: int, n_pairs: int, *, min_frac: float = STRUCT_MIN_FRAC
) -> str:
    """Pure dispatch rule: structure-probe counts -> 'nsw' | 'ivf'.

    Structured corpus (>= min_frac of sample pairs above the cosine
    threshold): the NSW graph path — high recall on clustered/manifold
    data, O(beam x hops x degree) per-query serving. Structureless
    (iid-shaped) corpus: IVF — cell probing degrades gracefully where
    graph greedy search stalls (docs/ANN_QUALITY.md:44-77).
    """
    if n_pairs <= 0:
        return "ivf"
    return "nsw" if (n_high / n_pairs) >= min_frac else "ivf"


def auto_index_search(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    dim: int,
    edges: DataFrame | None = None,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    exclude_self: bool = False,
    sample_n: int = STRUCT_SAMPLE_N,
    cos_threshold: float = STRUCT_COS_THRESHOLD,
    min_frac: float = STRUCT_MIN_FRAC,
    beam_width: int = 8,
    n_iters: int = 4,
    n_entries: int = 8,
    nsw_k: int = 12,
    n_cells: int = 16,
    n_probe: int = 4,
    serve: str = "auto",
) -> DataFrame:
    """ANN serving with automatic INDEX-FAMILY dispatch: run the
    structure probe, then serve through the NSW graph (structured
    corpus) or IVF cell probing (structureless corpus). The probe's
    1-row collect is bounded metadata (the kmeans-centroid collect
    discipline); both branches emit the same
    (query_id, rank, <corpus_id>, sim) schema.

    ``edges`` supplies a prebuilt NSW edge list (e.g. from
    sources.graph_index.ensure_nsw_graph); when the probe picks the
    graph path and no edges are given, the exact-kNN + hash-shortcut
    graph is built in-session (the expensive one-off batch half —
    persist it via ensure_nsw_graph in production).
    """
    row = pair_structure_stat(
        corpus, dim=dim, id_col=corpus_id, vec_col=corpus_vec,
        sample_n=sample_n, cos_threshold=cos_threshold,
    ).collect()[0]
    strategy = choose_index_strategy(
        row["n_high"], row["n_pairs"], min_frac=min_frac
    )
    if strategy == "nsw":
        from .ann import nsw_beam_search

        # nsw_beam_search's query-side contract is fixed
        # (query_id, query_vec) columns and a literal vec_id output
        # column — normalize in, rename out, so this facade honors the
        # same corpus_id/query_id/query_vec parameters on BOTH
        # branches (ivf_topk already does).
        q_nsw = queries.select(
            F.col(query_id).alias("query_id"),
            F.col(query_vec).alias("query_vec"),
        )
        if edges is None:
            from .ann import nsw_edges

            edges = nsw_edges(
                corpus, nsw_k, id_col=corpus_id, vec_col=corpus_vec
            )
        out = nsw_beam_search(
            corpus, q_nsw, k, edges=edges, beam_width=beam_width,
            n_iters=n_iters, n_entries=n_entries, dim=dim,
            exclude_self=exclude_self, id_col=corpus_id,
            vec_col=corpus_vec, serve=serve,
        )
        return out.select(
            "query_id", "rank", F.col("vec_id").alias(corpus_id), "sim"
        )
    from .ann import ivf_topk

    out = ivf_topk(
        corpus, queries, k, dim=dim, n_cells=n_cells, n_probe=n_probe,
        corpus_id=corpus_id, corpus_vec=corpus_vec,
        query_id=query_id, query_vec=query_vec, exclude_self=exclude_self,
    )
    return out.select("query_id", "rank", corpus_id, "sim")
