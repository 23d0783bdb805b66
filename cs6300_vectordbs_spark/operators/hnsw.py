"""Hierarchical NSW (HNSW) — layered graph ANN with greedy descent.

The reference's actual index structure is HNSW (Chroma's hnswlib
collection, /root/reference/src/chroma.py:77 ``hnsw:space: cosine``;
Malkov & Yashunin 2018). The flat-NSW family in operators/ann.py is
the LAYER-0 core of that structure: a navigable small-world graph
searched by beam expansion from global high-degree hubs. What the
hierarchy adds is ROUTING: each node is promoted to upper layer L
with geometric probability p^L; upper layers are small kNN graphs
over the promoted subsets; a query greedily descends from the top
layer's single entry point, and whatever neighborhood the descent
lands in seeds the layer-0 beam. Hops to reach a query's region
become O(log N) instead of depending on hub placement — the property
that makes HNSW the serving default at billion-vector scale.

Spark-first decomposition (no driver-side graph walk):

  hnsw_levels        portable deterministic layer assignment —
                     md5(salt|id) -> bigint, level L iff the hash is
                     divisible by branch^L (geometric with p=1/branch).
                     md5 is engine-identical, so the DuckDB oracle
                     reproduces the EXACT layer split (the same
                     discipline as the minhash/shortcut hashes).
  hnsw_layer_edges   per-layer exact kNN over the promoted subset
                     (the grid kernel — distributed, never a driver
                     matrix). Layer L has ~N/branch^L nodes, so the
                     upper-layer builds cost a vanishing fraction of
                     the layer-0 build. Per the paper, upper layers
                     use degree M (k_upper) and layer 0 uses 2M (the
                     existing 12-NN NSW graph).
  hnsw_search        statically-unrolled greedy descent (each layer:
                     descent_iters expand-and-keep-top-descent_beam
                     hops over that layer's edge list, exactly the
                     beam kernel's join shape but with a tiny beam),
                     then the verified layer-0 beam
                     (ann.nsw_beam_search) seeded via its ``entries``
                     parameter. Every order is total (sim DESC, node
                     ASC), so the whole pipeline carries a FULL
                     value-hash SQL oracle — unrolled per-layer
                     per-hop CTEs, like the flat-NSW/kmeans/pagerank
                     iterations.

Scale shape: the descent touches descent_beam * degree rows per query
per hop — corpus-independent, same as the layer-0 beam; layer edge
lists are broadcast-sized per layer or equi-joined on the node key at
100 TB. The corpus is never rescanned after the builds. Empty layers
(a tiny corpus may promote nobody to the top) degrade gracefully: the
entry point is taken from the highest POPULATED layer and a descent
hop over an empty edge list is a no-op re-rank of the carried beam,
in Spark and in the oracle alike.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vector import cosine_sim


def hnsw_levels(
    corpus: DataFrame,
    *,
    branch: int = 4,
    max_level: int = 3,
    salt: str = "hl1",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic geometric layer assignment: (node, lvl) with
    lvl = max L <= max_level such that md5-hash(salt|id) divides
    branch^L — P(lvl >= L) = branch^-L, the HNSW geometric schedule
    with p = 1/branch. Portable: any engine computes the identical
    split from md5 (the DuckDB twin uses the same 15-hex-digit
    prefix -> BIGINT idiom as the shortcut/sample hashes)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{salt}|"), F.col(id_col).cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    lvl = F.when(h % F.lit(branch**max_level) == 0, F.lit(max_level))
    for level in range(max_level - 1, 0, -1):
        lvl = lvl.when(h % F.lit(branch**level) == 0, F.lit(level))
    lvl = lvl.otherwise(F.lit(0))
    return corpus.select(
        F.col(id_col).alias("node"), lvl.cast("int").alias("lvl")
    )


def hnsw_layer_edges(
    corpus: DataFrame,
    levels: DataFrame,
    layer: int,
    *,
    k_upper: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric exact k-NN edge list (a < b) over the nodes promoted
    to ``layer`` (lvl >= layer — HNSW layers nest): the grid build of
    :func:`.similarity.knn_edges` on that subset, so it stays
    distributed. Layer L holds ~N/branch^L nodes, so this is cheap
    next to the layer-0 build it sits on top of."""
    from .similarity import knn_edges

    sub = corpus.join(
        levels.filter(F.col("lvl") >= layer).select(
            F.col("node").alias(id_col)
        ),
        id_col,
    )
    return knn_edges(sub, k_upper, id_col=id_col, vec_col=vec_col)


def hnsw_search(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    edges0: DataFrame,
    layer_edges: dict[int, DataFrame],
    levels: DataFrame,
    beam_width: int = 32,
    n_iters: int = 6,
    descent_beam: int = 4,
    descent_iters: int = 2,
    dim: int | None = None,
    exclude_self: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    serve: str = "auto",
    max_broadcast_nodes: int = 2_000_000,
    max_broadcast_edges: int = 32_000_000,
) -> DataFrame:
    """Layered HNSW serve: greedy descent over ``layer_edges`` (keys =
    layer numbers >= 1, searched top-down), then the layer-0 beam
    (ann.nsw_beam_search joins path) seeded with the per-query entry
    nodes the descent found.

    ``serve`` carries the same physical split as nsw_beam_search:
    ``"joins"`` runs every descent hop and beam hop as distributed
    joins — the shape for a graph too big for one machine, and the
    one the SQL oracle mirrors structurally; ``"broadcast"`` ships
    corpus + layer-0 edges + upper layers + levels to executors once
    and runs the whole descent-and-beam per query inside one
    mapInPandas pass (ann.nsw_broadcast_server's layered mode) — zero
    shuffles, bit-identical results (tests/test_hnsw_broadcast.py),
    guarded by the same node/edge budgets; ``"auto"`` (default) picks
    as nsw_beam_search does, whose unique-query-id contract applies.

    Entry point: the min-id node of the highest POPULATED layer (the
    deterministic stand-in for HNSW's "first node ever promoted");
    every query starts there. The descent includes self-hits (they are
    legitimate routing waypoints); ``exclude_self`` applies only to
    the layer-0 ranking, matching the flat-NSW contract.

    Determinism: entry choice (min id), every descent keep (sim DESC,
    node ASC), and the layer-0 beam all carry total orders -> full
    value-hash oracle (__spark_entry__._oracle_hnsw unrolls the same
    layers and hops as CTEs).

    Degenerate corner (oracle mirrors it, tests/test_hnsw.py pins
    it): if the descent collapses to EXACTLY the query's own node —
    possible only when every upper layer is empty or 1-node — then
    under ``exclude_self`` that query's layer-0 beam starts empty and
    it returns no rows. With any populated layer and descent_beam > 1
    the descent carries multiple candidates and the corner is
    unreachable.
    """
    from .ann import _broadcast_or_none, nsw_beam_search

    served = _broadcast_or_none(
        serve, emb, queries, edges=edges0, k=k, beam_width=beam_width,
        n_iters=n_iters, dim=dim, exclude_self=exclude_self,
        id_col=id_col, vec_col=vec_col,
        max_nodes=max_broadcast_nodes, max_edges=max_broadcast_edges,
        layer_edges=layer_edges, levels=levels,
        descent_beam=descent_beam, descent_iters=descent_iters,
    )
    if served is not None:
        return served

    q = queries.select("query_id", "query_vec")
    beam, _ = _descend(
        q, emb, layer_edges, levels, width=descent_beam,
        iters=descent_iters, dim=dim, id_col=id_col, vec_col=vec_col,
    )
    return nsw_beam_search(
        emb, queries, k, edges=edges0, beam_width=beam_width,
        n_iters=n_iters, dim=dim, exclude_self=exclude_self,
        id_col=id_col, vec_col=vec_col, entries=beam,
    )


def _descend(
    q: DataFrame,
    emb: DataFrame,
    layer_edges: dict[int, DataFrame],
    levels: DataFrame,
    *,
    width: int,
    iters: int,
    dim: int | None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, dict[int, DataFrame]]:
    """The greedy layer descent shared by hnsw_search (serving: the
    final beam seeds layer 0) and hnsw_insert (maintenance: each
    layer's carry is the candidate set the paper connects the new
    node to). Entry = min-id node of the highest populated layer
    (corpus-min fallback — the search stays total on a corpus with no
    promotions); each layer runs ``iters`` expand-and-keep-top-
    ``width`` hops, NO self-exclusion (a query's own node is a
    legitimate routing waypoint). Returns (final_beam,
    {layer: beam-after-that-layer's-hops}); all orders total."""
    # Hoisted serving tables + factored-norm sim (one eager
    # materialization each instead of a parquet re-scan +
    # re-broadcast derivation inside every descent-hop job; norms
    # precomputed per row instead of three unrolled chains per pair —
    # see ann._hop_tables, r09).
    from .ann import _hop_keep, _hop_tables

    q, corpus, hop_sim = _hop_tables(
        emb, q, dim, id_col=id_col, vec_col=vec_col
    )

    def _score_top(cand: DataFrame) -> DataFrame:
        return _hop_keep(cand, q, corpus, hop_sim, width).select(
            "query_id", "node"
        )

    # Highest populated layer's min-id node; one tiny agg, broadcast
    # to every query. max_by(min(node), lvl) over per-layer minima,
    # with the corpus-wide min id as the fallback when NO node was
    # promoted (a tiny corpus).
    promoted = (
        levels.filter(F.col("lvl") >= 1)
        .groupBy("lvl")
        .agg(F.min("node").alias("__n1"))
        .agg(F.max_by("__n1", "lvl").alias("__n1"))
    )
    entry = (
        promoted.crossJoin(levels.agg(F.min("node").alias("__n2")))
        .select(F.coalesce("__n1", "__n2").alias("node"))
    )
    beam = _score_top(
        q.select("query_id").crossJoin(F.broadcast(entry))
    ).localCheckpoint(eager=True)
    per_layer: dict[int, DataFrame] = {}
    for layer in sorted(layer_edges, reverse=True):
        e = layer_edges[layer]
        dirs = e.select(
            F.col("a").alias("src"), F.col("b").alias("dst")
        ).unionByName(
            e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )
        for _ in range(iters):
            neigh = beam.join(dirs, beam["node"] == dirs["src"]).select(
                "query_id", F.col("dst").alias("node")
            )
            cand = beam.unionByName(neigh).distinct()
            beam = _score_top(cand).localCheckpoint(eager=True)
        per_layer[layer] = beam
    return beam, per_layer


def hnsw_insert(
    emb: DataFrame,
    new_vecs: DataFrame,
    *,
    edges0: DataFrame,
    layer_edges: dict[int, DataFrame],
    levels: DataFrame,
    k: int = 12,
    k_upper: int = 6,
    branch: int = 4,
    max_level: int = 3,
    level_salt: str = "hl1",
    beam_width: int = 32,
    n_iters: int = 6,
    descent_iters: int = 1,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    check_disjoint: bool = True,
) -> tuple[DataFrame, dict[int, DataFrame], DataFrame]:
    """HNSW-style INSERT of a batch into the LAYERED graph — the
    paper's algorithm (Malkov & Yashunin 2018 §4) made batch-parallel:
    each new vector gets its md5-geometric level, descends the
    existing hierarchy, and CONNECTS at every layer it belongs to —
    at layer L <= level(new), to the k_upper best nodes its layer-L
    search beam found; at layer 0, to the k best of the standard
    beam. This is the maintenance verb that lets a daily-ingest
    pipeline keep the hierarchy without the rebuild (Chroma's hnswlib
    inserts into all layers on every upsert,
    /root/reference/src/chroma.py:74-87); the flat-graph counterpart
    is ann.nsw_insert_edges.

    Returns (merged_edges0, merged_layer_edges, merged_levels) — the
    same order as ensure_hnsw_graph, so the two sources of a servable
    hierarchy unpack identically: old structures unioned with the new
    nodes' levels and links, distinct. Like the flat insert, links
    connect old<->new only —
    the batch searches the EXISTING graph, so inserts are
    batch-parallel (one descent pipeline for the whole batch, not a
    sequential per-row loop); new<->new proximity arrives at the next
    rebuild/compaction, the same drift contract as the flat chain.

    Cost per new vector: O(layers x descent-beam x degree + n_iters x
    beam_width x degree) score evaluations — corpus-independent,
    vs the O(N^2/B) full rebuild. Fully deterministic (the descent
    and beam carry the engine's total tie orders; levels are the md5
    assignment), so a serve over the merged graph carries a FULL
    value-hash oracle.

    New ids must be DISJOINT from the existing corpus ids (enforced
    like nsw_insert_edges: an id collision is an upsert, and a
    silently merged edge list is worse than an error).
    """
    from .ann import nsw_beam_search

    if check_disjoint:
        # Broadcast the (small) batch side — the corpus side must not
        # shuffle for a guard (the nsw_insert_edges discipline).
        clash = emb.select(F.col(id_col)).join(
            F.broadcast(new_vecs.select(F.col(id_col))), id_col, "inner"
        )
        hit = clash.take(1)
        if hit:
            raise ValueError(
                f"hnsw_insert: new id {hit[0][0]!r} already exists in "
                "the indexed corpus — an id collision is an UPSERT; "
                "route it through delete (tombstone) + insert, or the "
                "rebuild lifecycle"
            )

    new_levels = hnsw_levels(
        new_vecs, branch=branch, max_level=max_level,
        salt=level_salt, id_col=id_col,
    ).localCheckpoint(eager=True)
    nq = new_vecs.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    # Descent with a k_upper-wide carry: the layer-L beam IS the
    # paper's per-layer candidate set the new node connects to.
    beam, per_layer = _descend(
        nq, emb, layer_edges, levels, width=k_upper,
        iters=descent_iters, dim=dim, id_col=id_col, vec_col=vec_col,
    )
    new_layers: dict[int, DataFrame] = {}
    for layer, lbeam in per_layer.items():
        # connect at this layer: only new nodes promoted to it
        members = new_levels.filter(F.col("lvl") >= layer).select(
            F.col("node").alias("query_id")
        )
        links = (
            lbeam.join(F.broadcast(members), "query_id")
            .select(
                F.least("query_id", "node").alias("a"),
                F.greatest("query_id", "node").alias("b"),
            )
        )
        new_layers[layer] = (
            layer_edges[layer].unionByName(links).distinct()
        )
    # layer 0: every new node connects to its k best beam results
    # (nsw_beam_search's output id column is always "vec_id",
    # whatever id_col the corpus uses)
    found = nsw_beam_search(
        emb, nq, k, edges=edges0, beam_width=beam_width,
        n_iters=n_iters, dim=dim, exclude_self=False,
        id_col=id_col, vec_col=vec_col, entries=beam,
    )
    links0 = found.select(
        F.least("query_id", F.col("vec_id")).alias("a"),
        F.greatest("query_id", F.col("vec_id")).alias("b"),
    )
    merged_edges0 = edges0.unionByName(links0).distinct()
    merged_levels = levels.unionByName(new_levels)
    return merged_edges0, new_layers, merged_levels
