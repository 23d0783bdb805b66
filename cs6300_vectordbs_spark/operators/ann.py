"""Approximate nearest-neighbor search — the scale path for top-k.

The reference delegates ANN to HNSW (Chroma, /root/reference/src/
chroma.py:77) / Pinecone serverless (/root/reference/src/pineconeDB.py:89).
Spark has no HNSW; the idiomatic stand-ins:

  srp_lsh_topk     sign-random-projection (SimHash-family) LSH done as
                   pure DataFrame ops: signature = sign bits of dot
                   products with fixed seeded hyperplanes; candidates =
                   equi-join on banded signature buckets; exact cosine
                   re-rank within candidates. Every stage is a hash
                   join / hash agg on short keys — shuffle volume is
                   O(candidates), never O(|corpus| x |queries|).
  brp_lsh_pairs    MLlib BucketedRandomProjectionLSH approxSimilarityJoin
                   on L2-normalized vectors (normalized L2 <-> cosine:
                   cos = 1 - d^2/2).
  ivf_topk         IVF-Flat: a deterministic coarse quantizer (sampled
                   centroids) partitions the corpus into cells; a query
                   probes its n_probe nearest cells and re-ranks exactly
                   inside them. Unlike the LSH paths this is fully
                   deterministic, so it gets a FULL value-hash oracle.

Exact brute-force (operators/similarity.py) is the correctness oracle;
tests assert recall of the LSH path against it.
"""

from __future__ import annotations

import random
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vector import cosine_sim, dot
from .util import no_pushdown, spread


def _hop_tables(
    emb: DataFrame,
    queries: DataFrame,
    dim: int | None,
    *,
    id_col: str,
    vec_col: str,
) -> tuple[DataFrame, DataFrame, Column]:
    """Checkpointed (query, corpus) serving tables + the per-pair sim
    expression for the graph hop loops (nsw/hnsw beam and descent).

    Two r09 optimizations, both guide-motivated, results bit-identical:

    - HOIST (guide §2.4/§5): every hop job broadcast-joins the query
      batch and equi-joins the corpus; materializing both ONCE means
      the 2+n_iters hop jobs each re-broadcast from a persisted RDD
      instead of re-running the parquet scan + derivation behind both
      tables every hop.
    - FACTOR NORMS UNDER THE JOIN (guide §1.2 per-task work; the
      ivf_neardup_pairs discipline): cosine_sim inlines THREE unrolled
      dim-term chains per pair (dot + both norms). The norms depend on
      one side each, so they are precomputed per ROW in the hoisted
      tables and the per-hop expression is ONE unrolled dot +
      cosine_from_parts. Cuts per-pair arithmetic 3x at scale and, as
      measured locally, the per-hop plan/codegen constant (the 192-term
      tree re-optimized per hop was the single largest hop cost).

    ERROR/NULL contract is unchanged and stays LAZY (pinned by
    tests/test_nsw_broadcast.py): the precomputed norm is guarded by
    ``size(vec) >= dim`` so a short array checkpoints as NULL norm
    instead of raising; at SCORING time the norm column is re-wrapped
    so that a short array that the beam actually touches still raises
    INVALID_ARRAY_INDEX — via one ``vec[dim-1]`` access, not a second
    unrolled chain (a NULL norm can mean either "NULL/short vector" or
    "NULL element"; the single index access raises exactly for the
    short case, returns a value otherwise, and in the NULL-element
    case the per-pair DOT is NULL anyway so sim stays NULL). NULL
    vectors -> NULL norm -> NULL sim; zero norms -> 0.0 sim; arrays
    LONGER than dim use their first ``dim`` elements — all exactly as
    cosine_sim evaluates them. For dim=None (or above the unroll cap)
    the HOF cosine_sim is kept per pair: its short-array semantics
    (NULL, no error) must not change.

    RELIABILITY TRADE (guide §5): ``localCheckpoint`` materializes the
    serving tables as executor-resident blocks with the lineage CUT —
    losing an executor mid-serve makes the truncated plan
    unrecoverable and the search must be re-run from the operator
    entry. That is deliberate here: both tables are cheap to rebuild
    (one projection over the inputs) and hop latency is the product
    cost. On clusters with expected executor churn, set
    ``spark.checkpoint.dir`` to reliable storage and swap these for
    ``.checkpoint(eager=True)`` — identical semantics, fault-tolerant
    blocks, one extra write/read per serve. Same trade applies to the
    per-hop checkpoints in the beam loops and the CC rounds
    (operators/graph.py); see SCALING.md "localCheckpoint reliability".
    """
    from ..functions.vector import (
        UNROLL_MAX_DIM,
        cosine_from_parts,
        l2_norm,
    )

    def _guarded(norm_col: str, vec: str) -> Column:
        # NULL norm + non-NULL vector: either a short array (the index
        # access RAISES, preserving the lazy ANSI error) or an array
        # with a NULL element, where the norm must come out NULL so
        # the pair's sim is NULL — exactly what cosine_sim yields.
        # The r09 form substituted the raw vec[dim-1] VALUE as the
        # norm; when that element happened to be 0.0 the denominator
        # became 0.0 and cosine_from_parts' zero-guard returned 0.0
        # where cosine_sim returns NULL — and 0.0 can enter the beam
        # (r09 ADVICE, pinned by test_null_element_zero_tail_is_null).
        # `nullif(x * 0.0, 0.0)` still EVALUATES the index access (the
        # short-array ANSI raise stays lazy at scoring time) but maps
        # every finite element to NULL; a NaN element stays NaN, which
        # matches cosine_sim's NaN propagation.
        return (
            F.when(F.col(norm_col).isNotNull(), F.col(norm_col))
            .when(F.col(vec).isNull(), F.lit(None).cast("double"))
            .otherwise(
                F.nullif(
                    F.col(vec).getItem(dim - 1).cast("double") * F.lit(0.0),
                    F.lit(0.0),
                )
            )
        )

    if dim is not None and dim <= UNROLL_MAX_DIM:
        qn = F.when(
            F.size(F.col("query_vec")) >= dim, l2_norm("query_vec", dim)
        )
        q = queries.select(
            "query_id", "query_vec", qn.alias("__qn")
        ).localCheckpoint(eager=True)
        nn = F.when(F.size(F.col(vec_col)) >= dim, l2_norm(vec_col, dim))
        corpus = emb.select(
            F.col(id_col).alias("node"),
            F.col(vec_col).alias("__nvec"),
            nn.alias("__nn"),
        ).localCheckpoint(eager=True)
        sim = cosine_from_parts(
            dot("query_vec", "__nvec", dim),
            _guarded("__qn", "query_vec"),
            _guarded("__nn", "__nvec"),
        )
    else:
        q = queries.select("query_id", "query_vec").localCheckpoint(
            eager=True
        )
        corpus = emb.select(
            F.col(id_col).alias("node"), F.col(vec_col).alias("__nvec")
        ).localCheckpoint(eager=True)
        sim = cosine_sim("query_vec", "__nvec", dim)
    return q, corpus, sim


def _hop_keep(
    cand: DataFrame,
    q: DataFrame,
    corpus: DataFrame,
    sim: Column,
    width: int | None,
    *,
    exclude_self: bool = False,
) -> DataFrame:
    """One hop of the graph beam loops (nsw joins serve, hnsw descent)
    over the :func:`_hop_tables`: join the candidate ``(query_id,
    node)`` rows to the corpus, broadcast the queries, score ``sim``
    and keep each query's ``width`` best by (sim DESC, node ASC) as
    ``(query_id, node, sim)``. ``width=None`` keeps every scored row;
    ``exclude_self`` drops a query's own node before the keep."""
    scored = (
        cand.join(corpus, "node")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "node", sim.alias("sim"))
    )
    if exclude_self:
        scored = scored.filter(F.col("node") != F.col("query_id"))
    if width is None:
        return scored
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("node").asc()
    )
    return scored.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= width
    ).select("query_id", "node", "sim")


def _hyperplanes(dim: int, n_bits: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_bits)]


def srp_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    dim: int,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    n_bits: int = 16,
    bands: int = 8,
    seed: int = 42,
    exclude_self: bool = False,
) -> DataFrame:
    """LSH-bucketed approximate top-k cosine search.

    Docs sharing ANY of ``bands`` signature bands with the query become
    candidates; candidates get the exact re-rank of
    similarity._rerank (which documents the per-row norms), top-k per
    query. More bands / fewer rows-per-band => higher recall, more
    candidates.
    Output schema matches similarity_topk: (query_id, rank, <id>, sim, dist).
    """
    # The sign-bit projection reads every element of every row, so a
    # short array raises here, before any norm is evaluated.
    from ..functions.vector import l2_norm
    from .similarity import _rerank

    csig = spread(corpus).select(
        F.col(corpus_id),
        F.col(corpus_vec),
        l2_norm(corpus_vec, dim).alias("__vn"),
        _band_keys_from_vec(corpus_vec, dim, n_bits, bands, seed).alias("__bands"),
    ).select(
        corpus_id, corpus_vec, "__vn",
        F.explode("__bands").alias("band_key"),
    )

    qsig = queries.select(
        F.col(query_id).alias("__qid"),
        F.col(query_vec).alias("__qvec"),
        l2_norm(query_vec, dim).alias("__qn"),
        _band_keys_from_vec(query_vec, dim, n_bits, bands, seed).alias("__bands"),
    ).select(
        "__qid", "__qvec", "__qn", F.explode("__bands").alias("band_key")
    )

    cand = (
        csig.join(F.broadcast(qsig), on="band_key")
        .dropDuplicates(["__qid", corpus_id])
    )
    if exclude_self:
        cand = cand.filter(F.col(corpus_id) != F.col("__qid"))
    return _rerank(cand, k, dim=dim, id_col=corpus_id, vec_col=corpus_vec)


def _band_keys_from_vec(
    vec_col: str, dim: int, n_bits: int, bands: int, seed: int
) -> Column:
    """Sign bits vs seeded hyperplanes, banded into bucket keys.

    Each bit is ONE parsed F.expr with the hyperplane weights embedded
    as full-precision double literals (repr + D suffix): the previous
    py4j-composed form (16 bits x 64 F.lit array elements) cost
    thousands of driver round-trips to BUILD and evaluated through the
    interpreted zip_with path at runtime; the unrolled string codegens.
    Only corpus/query self-consistency matters for bucketing (the
    operator is rows-only + recall-tested), and both sides share this
    expression."""
    if not 1 <= bands <= n_bits or n_bits % bands != 0:
        # Silent truncation would quietly change effective recall;
        # worse, bands > n_bits gives zero rows per band, making every
        # band key just the band index — every corpus row collides
        # with every query and the candidate join degenerates to the
        # full cross product the LSH path exists to avoid.
        raise ValueError(
            f"bands={bands} must divide n_bits={n_bits} "
            "(1 <= bands <= n_bits)"
        )
    bits = srp_bits(vec_col, dim, n_bits, seed)
    rows = n_bits // bands
    keys = [
        F.concat_ws(",", F.lit(str(b)), *bits[b * rows : (b + 1) * rows])
        for b in range(bands)
    ]
    return F.array(*keys)


def srp_bits(
    vec_col: str, dim: int, n_bits: int, seed: int
) -> list[Column]:
    """The raw SRP sign bits ('true'/'false' strings) as one parsed
    expression per bit: aggregate/zip_with over a literal weight array.
    The weight arrays are embedded in the SQL string (full-precision
    repr + D suffix) so building all bits is a handful of driver
    calls, and the HOF form keeps the per-row evaluation shallow (a
    64-term unrolled tree here triggered codegen bailout and ran 2x
    slower interpreted). Shared by the banded-key builder and the
    band-count tuning sweep (which groups the SAME bits into keys at
    several band widths — bits are computed once, not per config)."""
    planes = _hyperplanes(dim, n_bits, seed)
    return [
        F.expr(
            "CAST(aggregate(zip_with(`%s`, array(%s), (x, y) ->"
            " CAST(x AS DOUBLE) * y), 0.0D, (acc, v) -> acc + v)"
            " > 0.0D AS STRING)"
            % (vec_col, ", ".join(f"{w!r}D" for w in p))
        )
        for p in planes
    ]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    dim: int,
    n_cells: int = 16,
    n_probe: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    exclude_self: bool = False,
) -> DataFrame:
    """IVF-Flat approximate top-k cosine search.

    Coarse quantizer: :func:`ivf_centroids` (the ``n_cells`` lowest-id
    vectors — no iterative training, so every engine reproduces the
    exact same partitioning and the operator gets a full value-hash
    oracle, which no LSH path can have), :func:`assign_cells` for the
    corpus and :func:`probe_cells` for the queries; only the vectors
    inside a query's ``n_probe`` cells are exact-cosine re-ranked.

    Plan shape at scale: centroids are tiny -> broadcast to both the
    assignment and the probe cross join. Candidate generation joins
    corpus cells against the BROADCAST query probes, so the only
    corpus-wide shuffle is the assignment groupBy and shuffle volume
    downstream is O(candidates), never O(|corpus| x |queries|). For
    very large n_cells swap the sampled quantizer for a trained one
    (e.g. MLlib KMeans) — the surrounding plan is unchanged (that
    variant loses the SQL oracle).

    Output schema matches similarity_topk: (query_id, rank, <id>, sim, dist).
    """
    return _ivf_from_centroids(
        corpus, queries,
        ivf_centroids(corpus, n_cells, corpus_id=corpus_id, corpus_vec=corpus_vec),
        k, dim=dim, n_probe=n_probe, corpus_id=corpus_id,
        corpus_vec=corpus_vec, query_id=query_id, query_vec=query_vec,
        exclude_self=exclude_self,
    )


# The IVF coarse quantizer. Every IVF-family operator (ivf_topk and its
# k-means variants, ivf_neardup_pairs, ivfpq_topk, the stored index in
# sources/vector_index.py, the driver's tuning sweep) composes these
# three functions; the SQL twins compose __spark_entry__._sql_ivf_cells.


def ivf_centroids(
    corpus: DataFrame,
    n_cells: int,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """The sampled quantizer's centroids: the ``n_cells`` lowest-id
    corpus vectors as ``(__cid, __cvec)``, the centroid id being the
    corpus id. No training, so every engine picks the same centroids."""
    return (
        corpus.orderBy(F.col(corpus_id).asc())
        .limit(n_cells)
        .select(F.col(corpus_id).alias("__cid"), F.col(corpus_vec).alias("__cvec"))
    )


def assign_cells(
    rows: DataFrame,
    cent: DataFrame,
    *,
    dim: int | None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """IVF cell assignment: each row of ``rows`` goes to the centroid
    of ``cent`` ``(__cid, __cvec)`` with the highest cosine, ties to the
    lowest centroid id. ``max_by`` over ``struct(sim, -cid)`` realizes
    exactly that order (NaN greatest, NULL least, so a row whose sims
    are all NULL lands in the lowest id).

    Plan: the centroids are broadcast into a cross join and the argmax
    is a groupBy on ``id_col`` whose map-side partial combine collapses
    the x n_cells fan-out to one row per vector before the shuffle.
    Norms are factored under the join (one per row as ``__vn``, one per
    centroid), so a pair costs one dot; cosine_from_parts is
    bit-identical to cosine_sim. ``dim=None`` takes the HOF forms.

    ``carry`` names the columns of ``rows`` (or ``"__vn"``, the row
    norm) the caller reads after the argmax; they ride through it in
    the value struct, so nothing is joined back and the shuffle carries
    nothing else. Returns ``(id_col, cell, *carry)``. Spreading the
    input is the caller's choice."""
    from ..functions.vector import cosine_from_parts, l2_norm

    cent = cent.select("__cid", "__cvec", l2_norm("__cvec", dim).alias("__cn"))
    sim = cosine_from_parts(
        dot(vec_col, "__cvec", dim), F.col("__vn"), F.col("__cn")
    )
    return (
        rows.select("*", l2_norm(vec_col, dim).alias("__vn"))
        .crossJoin(F.broadcast(cent))
        .groupBy(id_col)
        .agg(
            F.max_by(
                F.struct(F.col("__cid").alias("cell"), *carry),
                F.struct(sim.alias("s"), (-F.col("__cid")).alias("nc")),
            ).alias("__best")
        )
        .select(id_col, "__best.*")
    )


def probe_cells(
    queries: DataFrame,
    cent: DataFrame,
    *,
    dim: int,
    n_probe: int,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """IVF probe ranking: each query's ``n_probe`` nearest cells by
    (centroid cosine desc, cid asc), one ``row_number`` window per
    query over the broadcast centroids. Returns ``(__qid, __qvec, __qn,
    cell, __rn)``; ``__qn`` is the query norm, computed once per query
    row so the re-rank after the candidate join is one dot per pair.

    sources/vector_index._probe_rows is the driver-side numpy form of
    this ranking over a stored index, pinned against it by tests."""
    from ..functions.vector import cosine_from_parts, l2_norm

    cent = cent.select("__cid", "__cvec", l2_norm("__cvec", dim).alias("__cn"))
    qsim = cosine_from_parts(
        dot("__qvec", "__cvec", dim), F.col("__qn"), F.col("__cn")
    )
    qw = Window.partitionBy("__qid").orderBy(qsim.desc(), F.col("__cid").asc())
    return (
        queries.select(
            F.col(query_id).alias("__qid"), F.col(query_vec).alias("__qvec")
        )
        .select("__qid", "__qvec", l2_norm("__qvec", dim).alias("__qn"))
        .crossJoin(F.broadcast(cent))
        .withColumn("__rn", F.row_number().over(qw))
        .filter(F.col("__rn") <= n_probe)
        .select("__qid", "__qvec", "__qn", F.col("__cid").alias("cell"), "__rn")
    )


def ivf_topk_kmeans(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    dim: int,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    exclude_self: bool = False,
) -> DataFrame:
    """IVF-Flat with an MLlib-KMEANS-trained coarse quantizer.

    Same candidate/probe/re-rank plan as :func:`ivf_topk`, but the
    centroids come from ``pyspark.ml.clustering.KMeans`` over the
    corpus — the production quantizer (balanced cells -> bounded probe
    cost), versus the sampled quantizer's oracle-friendly determinism.
    Training is one MLlib job on the corpus; the learned centers are a
    tiny literal DataFrame, broadcast exactly like sampled centroids.
    Seeded KMeans is deterministic within Spark but not portable across
    engines, so this variant is verified by recall-vs-exact tests, not
    a value-hash oracle.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # Train on a BOUNDED, ORDER-DECORRELATED sample (FAISS practice:
    # the coarse quantizer needs ~O(100) vectors per centroid, not the
    # corpus). A plain limit() takes a file-order PREFIX — on a corpus
    # laid out by source/date the centroids would only see the leading
    # slice — and a fixed hash gate merely widens that prefix. The
    # sample here is the sample_n LOWEST-HASH rows of the whole corpus
    # (orderBy(hash).limit compiles to TakeOrderedAndProject: a
    # per-partition heap of sample_n + one merge — a full scan but no
    # full sort, and uniform over the corpus regardless of layout).
    # repartition(4) restores parallel training (a global limit
    # collapses to one partition) while keeping per-iteration
    # scheduler overhead small; cache() keeps KMeans' iteration scans
    # off the parquet source.
    sample_n = max(10_000, 256 * n_cells)
    train = (
        corpus.orderBy(
            F.hash(F.col(corpus_id)).asc(), F.col(corpus_id).asc()
        )
        .limit(sample_n)
        .select(
            array_to_vector(
                F.transform(F.col(corpus_vec), lambda x: x.cast("double"))
            ).alias("features")
        )
        .repartition(4)
        .cache()
    )
    try:
        model = KMeans(k=n_cells, seed=seed, featuresCol="features").fit(train)
    finally:
        train.unpersist()
    spark = corpus.sparkSession
    cent = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "__cid int, __cvec array<double>",
    )
    return _ivf_from_centroids(
        corpus, queries, cent, k,
        dim=dim, n_probe=n_probe, corpus_id=corpus_id, corpus_vec=corpus_vec,
        query_id=query_id, query_vec=query_vec, exclude_self=exclude_self,
    )


# Quantization scale for the order-independent k-means mean: each
# coordinate becomes round(x * scale)::bigint before the (exact,
# order-free) integer sum. 1e12 keeps |sum| << 2^53 for the bounded
# training sample while leaving the 9-dp rounded mean unchanged at
# double precision. Spelled as the SQL literal both expr strings
# embed, so the quantize and divide paths can never drift apart.
_MEAN_SCALE_SQL = "1.0E12"


def kmeans_centroids_det(
    corpus: DataFrame,
    *,
    dim: int,
    n_cells: int = 16,
    n_iters: int = 3,
    train_n: int | None = 1024,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    round_dp: int = 9,
) -> DataFrame:
    """Cross-engine-reproducible Lloyd's k-means for the IVF coarse
    quantizer: deterministic init (:func:`ivf_centroids`, renumbered
    to dense cids 0..n_cells-1), the :func:`assign_cells` assignment,
    and per-cell per-dimension means computed
    as an EXACT integer sum of 1e-12-quantized coordinates divided by
    the count, ROUNDED to ``round_dp`` decimals after every iteration.
    The integer sum is order-independent, so the mean carries no
    summation-order hazard at all (a float avg + round would still
    flake when a mean lands within an ulp of a rounding boundary);
    a SQL twin applying the same quantize-sum-divide-round chain
    reproduces the centroids — and therefore the whole IVF index —
    bit-for-bit. Empty cells keep their previous centroid.

    Training runs on a BOUNDED DETERMINISTIC sample (the ``train_n``
    lowest-md5(vec_id) rows — FAISS practice: the coarse quantizer
    needs ~O(100) vectors per centroid, not the corpus; an md5 order
    is layout-independent AND reproducible in SQL, unlike the MLlib
    variant's RNG). ``train_n=None`` trains on everything.

    Scale shape per iteration: the assignment is :func:`assign_cells`
    over the cached sample (centroids broadcast, norms factored under
    the join, HOF dot); the argmax and the per-cell mean are both
    map-side-combined groupBys; the n_cells x dim mean table is
    collected driver-side per round (bounded index metadata, the PQ
    codebook license) and re-embedded as a literal frame, keeping the
    serving plan free of the training lineage.

    Returns a literal DataFrame ``(__cid int, __cvec array<double>)``.
    """
    spark = corpus.sparkSession
    init_rows = sorted(
        ivf_centroids(
            corpus, n_cells, corpus_id=corpus_id, corpus_vec=corpus_vec
        ).collect(),
        key=lambda r: r["__cid"],
    )
    cents: list[list[float]] = [
        [float(x) for x in r["__cvec"]] for r in init_rows
    ]

    train = corpus
    if train_n is not None:
        train = (
            corpus.orderBy(
                F.md5(F.col(corpus_id).cast("string")).asc(),
                F.col(corpus_id).asc(),
            )
            .limit(train_n)
        )
    # repartition(8), not spread(): the global limit collapses the
    # sample to ONE partition (serializing the pair loop) while the
    # full 32-way spread pays 3 x 2 stages of task scheduling on ~1k
    # rows; 8 ways is parallel enough for a bounded sample and keeps
    # per-iteration latency scheduler-light.
    train = (
        train
        .select(F.col(corpus_id).alias("__tid"), F.col(corpus_vec).alias("vec"))
        .repartition(8)
        .cache()
    )

    try:
        for _ in range(n_iters):
            cent = spark.createDataFrame(
                list(enumerate(cents)), "__cid int, __cvec array<double>"
            )
            # dim=None, the HOF forms: the training loop's pair count
            # is bounded (sample x n_cells), so interpreted fold cost is
            # noise, while the unrolled 64-term expression paid seconds
            # of codegen compile on the first run. Bit-identical (left
            # fold from 0.0 — functions/vector.py docstring).
            assigned = assign_cells(
                train, cent, dim=None, id_col="__tid", vec_col="vec",
                carry=("vec",),
            )
            # Order-independent mean (r05): F.avg accumulates doubles,
            # and Spark's partial-aggregate merge order is
            # nondeterministic run-to-run — a mean landing within an
            # ulp of a 0.5e-9 rounding boundary could flip the 9th
            # decimal between runs/engines. Quantize each coordinate
            # to an integer (x 1e12, HALF_UP — elementwise, so
            # deterministic), sum EXACTLY as bigint (order-free), then
            # divide. Magnitude check: |coord| <= ~few, train_n <= 1024
            # by contract, so |sum| << 2^53 and the ::double cast is
            # exact. The oracle and the python-reference test apply
            # the identical quantize-sum-divide chain.
            # Each per-dimension expression is ONE parsed string, not a
            # py4j-composed Column chain (~5 driver round-trips per
            # column x dim x n_iters otherwise — the documented
            # construction-collapse trick from functions/vector.py).
            # SQL ROUND/CAST/literals parse to the identical plan nodes.
            # r09: the mean is aggregated in EXPLODED form — groupBy
            # (cell, dim) over posexplode'd coordinates — instead of
            # one 64-sum-expression aggregate. The integer sum is
            # order-free, ROUND/CAST/divide are the identical SQL
            # functions, and the (cell, dim, mean) rows reassemble to
            # the same floats, so centroids are bit-identical (hash-
            # checked against the wide form). What changes is the
            # PLAN: a 3-expression aggregate whose shuffle key is
            # (cell, dim) — cardinality n_cells x dim — rather than a
            # dim-wide aggregate re-optimized and re-codegen'd every
            # iteration; measured 4.0-4.5 s -> 3.2-3.9 s warm (11.7 ->
            # 8.9 cold) for the 3-iteration training loop at sf0.1,
            # centroid hash identical. At scale the narrow shuffle
            # rides map-side partials exactly like label_centroids.
            # Short-array guard (r09 ADVICE): the loop's HOF forms do
            # not raise for mis-dimensioned rows, and posexplode would
            # silently emit fewer rows — per-dimension means over
            # differing counts, or a bare KeyError in the reassembly
            # below. Fail legibly instead, as the unrolled forms'
            # INVALID_ARRAY_INDEX does on the serving path.
            # NULL vectors keep their r09 behavior (posexplode emits no
            # rows); only genuinely short arrays raise.
            guarded_vec = F.when(
                F.col("vec").isNull() | (F.size("vec") >= dim),
                F.col("vec"),
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "kmeans_centroids_det: training vector has "
                        ),
                        F.size("vec").cast("string"),
                        F.lit(f" elements, fixed-dim contract needs {dim}"),
                    )
                )
            )
            ex = assigned.select(
                "cell", F.posexplode(guarded_vec).alias("__d", "__x")
            )
            means = (
                ex.groupBy("cell", "__d")
                .agg(
                    F.count(F.lit(1)).alias("__n"),
                    F.expr(
                        "sum(CAST(ROUND(CAST(__x AS DOUBLE)"
                        f" * {_MEAN_SCALE_SQL}) AS BIGINT))"
                    ).alias("__s"),
                )
                .select(
                    "cell",
                    "__d",
                    F.expr(
                        "round(CAST(__s AS DOUBLE) / __n"
                        f" / {_MEAN_SCALE_SQL}, {round_dp})"
                    ).alias("__c"),
                )
            )
            got: dict[int, dict[int, float]] = {}
            for r in means.collect():
                got.setdefault(r["cell"], {})[r["__d"]] = float(r["__c"])
            cents = [
                [got[cid][d] for d in range(dim)] if cid in got
                else cents[cid]
                for cid in range(n_cells)
            ]
    finally:
        train.unpersist()
    return spark.createDataFrame(
        list(enumerate(cents)), "__cid int, __cvec array<double>"
    )


def ivf_topk_kmeans_det(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    dim: int,
    n_cells: int = 16,
    n_probe: int = 4,
    n_iters: int = 3,
    train_n: int | None = 1024,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    exclude_self: bool = False,
) -> DataFrame:
    """IVF-Flat with the deterministic-Lloyd's-trained quantizer
    (:func:`kmeans_centroids_det`): the trained-quantizer quality of
    :func:`ivf_topk_kmeans` with the full value-hash oracle of
    :func:`ivf_topk`. The serving plan is the shared IVF shape."""
    cent = kmeans_centroids_det(
        corpus, dim=dim, n_cells=n_cells, n_iters=n_iters,
        train_n=train_n, corpus_id=corpus_id, corpus_vec=corpus_vec,
    )
    return _ivf_from_centroids(
        corpus, queries, cent, k,
        dim=dim, n_probe=n_probe, corpus_id=corpus_id, corpus_vec=corpus_vec,
        query_id=query_id, query_vec=query_vec, exclude_self=exclude_self,
    )


def _ivf_from_centroids(
    corpus: DataFrame,
    queries: DataFrame,
    cent: DataFrame,
    k: int,
    *,
    dim: int,
    n_probe: int,
    corpus_id: str,
    corpus_vec: str,
    query_id: str,
    query_vec: str,
    exclude_self: bool,
) -> DataFrame:
    """Shared IVF plan: :func:`assign_cells` for the corpus ->
    :func:`probe_cells` for the queries, broadcast -> exact re-rank
    inside the probed cells (similarity._rerank).

    The corpus norm rides through the assignment argmax into the
    re-rank. Every corpus row was already scored eagerly by the argmax,
    so error/NULL semantics are those of cosine_sim: a short array
    raises at assignment, a NULL vector yields NULL sims."""
    from .similarity import _rerank

    assigned = assign_cells(
        spread(corpus), cent, dim=dim, id_col=corpus_id, vec_col=corpus_vec,
        carry=(corpus_vec, "__vn"),
    )
    probes = probe_cells(
        queries, cent, dim=dim, n_probe=n_probe,
        query_id=query_id, query_vec=query_vec,
    )

    # A vector lives in exactly one cell and a query probes distinct
    # cells, so (query, doc) candidate pairs are already unique.
    cand = assigned.join(F.broadcast(probes), on="cell")
    if exclude_self:
        cand = cand.filter(F.col(corpus_id) != F.col("__qid"))
    return _rerank(cand, k, dim=dim, id_col=corpus_id, vec_col=corpus_vec)


def ivf_neardup_pairs(
    corpus: DataFrame,
    *,
    dim: int,
    n_cells: int = 16,
    min_sim: float = 0.9,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via IVF-cell blocking —
    the SCALE path for semantic dedup. The exact all-pairs operator
    (operators/similarity.pairwise_similarity) computes O(N^2)
    cosines; at 100 TB that is the thing that cannot run. Here
    the sampled quantizer (:func:`ivf_centroids`, :func:`assign_cells`)
    blocks the corpus into cells and only SAME-CELL pairs are scored — O(sum_c |cell_c|^2) ~ N^2/n_cells for balanced
    cells, with the n_cells knob trading recall for cost exactly like
    MinHash band count does for text near-dup.

    Semantics: candidate pair <=> both vectors quantize to the same
    cell; survivors filtered by exact cosine >= ``min_sim``. True
    near-duplicates (cosine ~ 1) quantize together unless they
    straddle a cell boundary, so recall is high at high thresholds
    (asserted vs the exact all-pairs kernel in tests/) and the
    operator is fully deterministic -> full value-hash SQL oracle.

    Plan shape: ONE corpus-wide shuffle (the cell-assignment argmax
    groupBy, map-side combined, centroids broadcast), then a same-cell
    self-equi-join whose shuffle volume is O(candidates) — no
    cartesian node anywhere. Returns (id_a, id_b, sim) with id_a <
    id_b.
    """
    # The vector and its norm ride through the assignment argmax
    # instead of being joined back on (one groupBy, not groupBy +
    # id-join), and the self-join below reuses the per-row norm:
    # cosine_from_parts keeps the dot/(norm_a * norm_b) grouping of
    # the SQL twin's _sql_cos, so sims are bit-identical.
    from ..functions.vector import cosine_from_parts

    cells = assign_cells(
        spread(corpus),
        ivf_centroids(corpus, n_cells, corpus_id=corpus_id, corpus_vec=corpus_vec),
        dim=dim, id_col=corpus_id, vec_col=corpus_vec,
        carry=(corpus_vec, "__vn"),
    )
    # Materialize the assigned+norm table ONCE before the self-join
    # (the minhash-signature checkpoint discipline): without it both
    # join inputs re-run the centroid fan-out + argmax groupBy.
    with_norm = cells.localCheckpoint(eager=True)
    a = with_norm.select(
        F.col("cell"),
        F.col(corpus_id).alias("id_a"),
        F.col(corpus_vec).alias("__va"),
        F.col("__vn").alias("__na"),
    )
    b = with_norm.select(
        F.col("cell"),
        F.col(corpus_id).alias("id_b"),
        F.col(corpus_vec).alias("__vb"),
        F.col("__vn").alias("__nb"),
    )
    sim = cosine_from_parts(
        dot("__va", "__vb", dim), F.col("__na"), F.col("__nb")
    )
    return (
        a.join(b, on="cell")
        .filter(F.col("id_a") < F.col("id_b"))
        # no_pushdown keeps the threshold OUT of the join condition:
        # pushed, the whole dot chain was evaluated per same-cell pair
        # on the interpreted predicate path and again for survivors —
        # measured 4.5 s vs 0.17 s on the sf0.1 self-join (r09). Value
        # bit-identical (see operators/util.no_pushdown).
        .select("id_a", "id_b", no_pushdown(sim).alias("sim"))
        .filter(F.col("sim") >= min_sim)
    )


def brp_bucket_keys(
    vec_col: str,
    dim: int,
    *,
    n_tables: int = 4,
    bucket_length: float = 0.5,
    seed: int = 42,
) -> Column:
    """Bucketed-random-projection keys as ONE parsed expression per
    table, with the seeded Gaussian projection vectors embedded as
    full-precision double literals (the same literal-parameter trick
    as :func:`_band_keys_from_vec`).

    Key for table ``t``: ``floor(dot(v, p_t) / (l2_norm(v) *
    bucket_length))`` — the classic Datar-Indyk-Immorlica-Mirrokni
    Euclidean-LSH bucket computed on the IMPLICITLY L2-normalized
    vector (dividing the projection by the vector norm instead of
    materializing a normalized copy). Because the projections are
    plan literals and every float op is a fixed left-to-right fold,
    a SQL twin reproduces the exact same buckets — unlike MLlib's
    BucketedRandomProjectionLSH whose projections live in JVM RNG
    state (:func:`brp_lsh_pairs` keeps that variant for MLlib
    interop; it is recall-tested, not value-hash oracled).
    """
    # HOF zip_with/aggregate folds, NOT unrolled term chains: one
    # Project evaluating 4 keys x (dot + norm) unrolled is ~500 term
    # subexpressions — past Janino's method-size limit, so codegen
    # bails out with an exception retry that costs seconds (the exact
    # failure mode _band_keys_from_vec documents for SRP). The HOF
    # fold is bit-identical (left fold from 0.0) and compiles
    # trivially; per-row interpreted cost is noise at any corpus size
    # because this is a single map-side pass.
    planes = _hyperplanes(dim, n_tables, seed)
    norm = (
        "SQRT(aggregate(zip_with(`%s`, `%s`, (x, y) ->"
        " CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D,"
        " (acc, v) -> acc + v))" % (vec_col, vec_col)
    )
    keys = []
    for t, p in enumerate(planes):
        dots = (
            "aggregate(zip_with(`%s`, array(%s), (x, y) ->"
            " CAST(x AS DOUBLE) * y), 0.0D, (acc, v) -> acc + v)"
            % (vec_col, ", ".join(f"{w!r}D" for w in p))
        )
        # Zero-norm guard: for an all-zero vector the divisor is 0 and
        # Spark's Divide yields NULL (key would collapse to 't,')
        # while a SQL twin's double division yields inf — the engines
        # would disagree on the key. Emit an explicit sentinel bucket
        # instead (zero vectors collide only with each other; the
        # exact-cosine filter downstream already zero-guards sim).
        keys.append(
            F.expr(
                f"concat_ws(',', '{t}', CASE WHEN {norm} = 0.0D THEN 'z' "
                f"ELSE CAST(FLOOR(({dots}) / "
                f"({norm} * {bucket_length!r}D)) AS STRING) END)"
            )
        )
    return F.array(*keys)


def brp_lsh_pairs_det(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    dim: int,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    min_sim: float = 0.2,
    bucket_length: float = 0.5,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Deterministic BRP-LSH candidate pairs with exact cosine.

    Same contract SHAPE as :func:`brp_lsh_pairs` (candidates = bucket
    collision in ANY of ``n_tables`` tables; survivors filtered by a
    cosine threshold — on unit vectors ``cos >= min_sim`` corresponds
    to MLlib's Euclidean ``d <= sqrt(2 (1 - min_sim))``), but with
    literal projections so the operator is bit-reproducible by a SQL
    twin — and with the engine's INCLUSIVE boundary: a pair landing
    exactly on ``min_sim`` is kept here, while MLlib's
    approxSimilarityJoin filters strictly below its threshold and
    drops it (see the brp_lsh_pairs docstring for the zero-vector
    corner as well). Plan shape: corpus never shuffles before bucketing; the
    (small-by-contract) query side's keys broadcast into the bucket
    equi-join, so shuffle volume is O(candidates).
    """
    # Norms factored under the candidate join (r09): one L2 chain per
    # bucketed row instead of three unrolled chains per colliding
    # pair; the bucket projection already reads every element of every
    # row, so error semantics are unchanged. Bit-identical
    # (cosine_from_parts).
    from ..functions.vector import cosine_from_parts, l2_norm

    csig = spread(corpus).select(
        F.col(corpus_id),
        F.col(corpus_vec),
        l2_norm(corpus_vec, dim).alias("__cnorm"),
        F.explode(
            brp_bucket_keys(
                corpus_vec, dim, n_tables=n_tables,
                bucket_length=bucket_length, seed=seed,
            )
        ).alias("bucket_key"),
    )
    qsig = queries.select(
        F.col(query_id).alias("__qid"),
        F.col(query_vec).alias("__qvec"),
        l2_norm(query_vec, dim).alias("__qnorm"),
        F.explode(
            brp_bucket_keys(
                query_vec, dim, n_tables=n_tables,
                bucket_length=bucket_length, seed=seed,
            )
        ).alias("bucket_key"),
    )
    cand = (
        csig.join(F.broadcast(qsig), on="bucket_key")
        .dropDuplicates(["__qid", corpus_id])
    )
    return (
        cand.select(
            F.col("__qid").alias("query_id"),
            F.col(corpus_id),
            cosine_from_parts(
                dot("__qvec", corpus_vec, dim),
                F.col("__qnorm"),
                F.col("__cnorm"),
            ).alias("sim"),
        )
        .filter(F.col("sim") >= min_sim)
    )


def brp_lsh_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    min_sim: float = 0.2,
    bucket_length: float = 0.5,
    num_hash_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """MLlib BucketedRandomProjectionLSH candidate pairs with exact
    cosine attached. Vectors are L2-normalized first so the Euclidean
    threshold maps to a cosine floor: d = sqrt(2 * (1 - min_sim)).

    Boundary semantics differ from brp_lsh_pairs_det in two corners:
    MLlib's approxSimilarityJoin filters distCol STRICTLY below the
    threshold, so a pair whose cosine lands exactly ON min_sim is
    excluded here but kept by the det twin's inclusive >=; and a
    zero-norm vector survives the Normalizer as all-zeros, giving it
    L2 distance 1.0 to every unit vector — i.e. reported sim 0.5 —
    where the engine's cosine convention (functions/vector.cosine_sim)
    defines zero-norm similarity as 0.0. Both are inherent to the
    MLlib estimator this wrapper exists to interoperate with; use
    brp_lsh_pairs_det (the oracle-checked twin) when the engine's own
    boundary contract matters."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    def prep(df: DataFrame, idc: str, vc: str) -> DataFrame:
        v = df.select(
            F.col(idc).alias("id"),
            array_to_vector(F.transform(F.col(vc), lambda x: x.cast("double"))).alias("raw"),
        )
        return Normalizer(inputCol="raw", outputCol="features", p=2.0).transform(v)

    c = prep(corpus, corpus_id, corpus_vec)
    q = prep(queries, query_id, query_vec)

    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(c)
    thresh = float((2.0 * (1.0 - min_sim)) ** 0.5)
    joined = model.approxSimilarityJoin(q, c, thresh, distCol="l2_dist")
    return joined.select(
        F.col("datasetA.id").alias("query_id"),
        F.col("datasetB.id").alias(corpus_id),
        (1.0 - F.col("l2_dist") * F.col("l2_dist") / 2.0).alias("sim"),
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    dim: int,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    candidates_per_query: int | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """int8 scalar-quantized top-k: the vector-compression scale path.

    FAISS-``SQ8``-style two-phase search, fully deterministic (so it
    gets a FULL value-hash oracle, unlike the LSH paths):

    1. quantize every vector to int8 with one corpus-global symmetric
       scale (``127 / max|component|``) — 4x smaller than float32, 8x
       smaller than double; at 100 TB of vectors that is the difference
       between spilling and fitting the working set, and integer
       multiply-adds vectorize wider than double FMAs
    2. rank candidates per query by INTEGER dot product (exact int
       math — identical in every engine, no float-order concerns),
       keep ``candidates_per_query`` (similarity._shortlist)
    3. exact double-precision cosine re-rank of the survivors only
       (similarity._rerank) — O(queries x candidates) float work
       instead of O(queries x corpus)

    The scale factor is a 1-row aggregate cross-joined onto both sides
    (broadcast of a scalar, never a per-row table). Returns
    (query_id, rank, corpus_id, sim, q8_dot).
    """
    cand_n = candidates_per_query or 4 * k

    dc = F.col("__x").cast("double")
    scale = F.broadcast(
        corpus.select(F.explode(corpus_vec).alias("__x"))
        .agg(F.max(F.abs(dc)).alias("__scale"))
    )

    # Single F.expr strings (not py4j-composed trees) — see dot() in
    # functions/vector.py: construction round-trips dominated wall time.
    def q8(vec: str) -> Column:
        return F.expr(
            "array("
            + ", ".join(
                "CAST(LEAST(GREATEST(ROUND(CAST(`%s`[%d] AS DOUBLE) * 127.0"
                " / `__scale`), -127.0D), 127.0D) AS INT)" % (vec, i)
                for i in range(dim)
            )
            + ")"
        )

    from ..functions.vector import l2_norm
    from .similarity import _rerank, _shortlist

    c = (
        spread(corpus).crossJoin(scale)
        .select(
            F.col(corpus_id),
            F.col(corpus_vec),
            q8(corpus_vec).alias("__c8"),
            l2_norm(corpus_vec, dim).alias("__vn"),
        )
    )
    q = (
        queries.crossJoin(scale)
        .select(
            F.col(query_id).alias("__qid"),
            F.col(query_vec).alias("__qvec"),
            q8(query_vec).alias("__q8"),
            l2_norm(query_vec, dim).alias("__qn"),
        )
    )

    joined = c.join(F.broadcast(q), how="cross")
    if exclude_self:
        joined = joined.filter(F.col(corpus_id) != F.col("__qid"))

    int_dot = F.expr(
        "CAST("
        + " + ".join(f"(`__c8`[{i}] * `__q8`[{i}])" for i in range(dim))
        + " AS BIGINT)"
    )

    cands = _shortlist(
        joined.select(
            F.col("__qid"),
            F.col(corpus_id),
            int_dot.alias("q8_dot"),
            F.col(corpus_vec),
            "__qvec", "__vn", "__qn",
        ),
        cand_n, score="q8_dot", id_col=corpus_id,
    )
    return _rerank(
        cands, k, dim=dim, id_col=corpus_id, vec_col=corpus_vec,
        carry=("q8_dot",),
    ).select("query_id", "rank", corpus_id, "sim", "q8_dot")


def _pq_d2_slice(a: str, b: str, mi: int, sub: int) -> Column:
    """Squared L2 distance over subspace ``mi`` (elements
    [mi*sub, (mi+1)*sub)) of two array columns, as ONE parsed SQL
    expression with the engine's sequential left-associated addition.
    Shared by pq_topk and ivfpq_topk — the PQ determinism contract
    (exact IEEE order, identical to the SQL oracle's unrolled twin)
    lives here once."""
    o = mi * sub
    return F.expr(
        " + ".join(
            f"((CAST(`{a}`[{o + i}] AS DOUBLE) - CAST(`{b}`[{o + i}] AS DOUBLE))"
            f" * (CAST(`{a}`[{o + i}] AS DOUBLE) - CAST(`{b}`[{o + i}] AS DOUBLE)))"
            for i in range(sub)
        )
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    candidates_per_query: int | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """Product-quantized top-k: FAISS-PQ-shaped two-phase search.

    The vector splits into ``m`` subspaces of dim/m components; each
    subspace gets a ``ksub``-entry codebook (the subvectors of the
    ksub lowest-id corpus vectors — sampled codebooks, no iterative
    training, so the whole operator is deterministic and gets a FULL
    value-hash oracle, like ivf_topk/sq8_topk and unlike LSH). A
    corpus vector is stored as m one-byte codes — dim*4/m x smaller
    than float32 (32x at dim=64, m=8): at 100 TB of vectors the code
    table fits where the raw vectors cannot.

    Search is asymmetric-distance (ADC): per query, an m x ksub table
    of partial dot products against every codebook entry; a corpus
    vector's approximate score is m table lookups summed in fixed
    subspace order (bit-exact across engines — each partial dot is a
    sequential fold and the final sum is a left-to-right chain).
    Candidates keep ``candidates_per_query`` per query
    (similarity._shortlist), then the exact re-rank
    (similarity._rerank) scores the survivors only.

    Plan shape at scale: codebooks are tiny -> broadcast to encoding
    and table builds; encoding is one groupBy(vec_id) with map-side
    combine; scoring joins the code table against BROADCAST per-query
    tables, so the corpus never shuffles and downstream volume is
    O(candidates). Returns (query_id, rank, <id>, sim, adc).
    """
    sub = dim // m
    cand_n = candidates_per_query or 4 * k

    # Codebook: ksub lowest-id vectors, re-keyed to dense cid 0..ksub-1
    # (16 rows — the global window is on a broadcast-sized table).
    cb = (
        corpus.orderBy(F.col(corpus_id).asc())
        .limit(ksub)
        .select(
            (
                F.row_number().over(Window.orderBy(F.col(corpus_id).asc())) - 1
            ).alias("__cid"),
            F.col(corpus_vec).alias("__cvec"),
        )
    )

    # One F.expr string per unrolled slice expression: py4j-composed
    # Column trees cost a driver round-trip per node (see functions/
    # vector.py dot); a parsed string is one call for the whole slice.
    def d2_slice(a: str, b: str, mi: int) -> Column:
        return _pq_d2_slice(a, b, mi, sub)

    def dot_slice(a: str, b: str, mi: int) -> Column:
        o = mi * sub
        return F.expr(
            " + ".join(
                f"(CAST(`{a}`[{o + i}] AS DOUBLE) * CAST(`{b}`[{o + i}] AS DOUBLE))"
                for i in range(sub)
            )
        )

    # Encode: per (vector, subspace) argmin of squared L2 to the
    # codebook, ties to the lowest cid — m min_by aggregates in ONE
    # groupBy pass over the ksub-way crossJoin. The corpus-side L2
    # norm the re-rank reads is computed once per row after the
    # aggregate. Short arrays still fail identically: d2_slice
    # touches every in-dim element, so encoding raises before any
    # norm is evaluated.
    from ..functions.vector import l2_norm
    from .similarity import _rerank, _shortlist

    enc = (
        spread(corpus).crossJoin(F.broadcast(cb))
        .groupBy(corpus_id)
        .agg(
            F.first(F.col(corpus_vec)).alias(corpus_vec),
            *[
                F.min_by(
                    F.col("__cid"),
                    F.struct(
                        d2_slice(corpus_vec, "__cvec", mi).alias("d"),
                        F.col("__cid").alias("c"),
                    ),
                ).alias(f"code{mi}")
                for mi in range(m)
            ],
        )
        .withColumn("__vn", l2_norm(corpus_vec, dim))
    )

    # Per-query ADC tables: tab{mi}[cid+1] = dot(q_sub, codebook_mi[cid]).
    qt = (
        queries.select(
            F.col(query_id).alias("__qid"), F.col(query_vec).alias("__qvec")
        )
        .crossJoin(F.broadcast(cb))
        .select(
            "__qid",
            "__qvec",
            "__cid",
            *[
                dot_slice("__qvec", "__cvec", mi).alias(f"pd{mi}")
                for mi in range(m)
            ],
        )
    )
    qtab = qt.groupBy("__qid").agg(
        F.first("__qvec").alias("__qvec"),
        *[
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("__cid").alias("c"),
                            F.col(f"pd{mi}").alias("p"),
                        )
                    )
                ),
                lambda s: s["p"],
            ).alias(f"tab{mi}")
            for mi in range(m)
        ],
    ).withColumn("__qn", l2_norm("__qvec", dim))  # once per query (r10)

    adc_terms = [
        F.element_at(F.col(f"tab{mi}"), F.col(f"code{mi}") + 1)
        for mi in range(m)
    ]
    adc = adc_terms[0]
    for t in adc_terms[1:]:
        adc = adc + t

    cand = enc.crossJoin(F.broadcast(qtab))
    if exclude_self:
        cand = cand.filter(F.col(corpus_id) != F.col("__qid"))
    shortlist = _shortlist(
        cand.withColumn("adc", adc), cand_n, score="adc", id_col=corpus_id
    )
    return _rerank(
        shortlist, k, dim=dim, id_col=corpus_id, vec_col=corpus_vec,
        carry=("adc",),
    ).select("query_id", "rank", corpus_id, "sim", "adc")


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    dim: int,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ksub: int = 16,
    candidates_per_query: int | None = None,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    exclude_self: bool = False,
) -> DataFrame:
    """IVF-PQ composite top-k — the FAISS production index shape
    (IndexIVFPQ): the coarse quantizer prunes the search to probed
    cells, product-quantization compresses what is scanned inside
    them, and an exact re-rank fixes the shortlist. At 100 TB this is
    THE layout: cell pruning cuts the scan to n_probe/n_cells of the
    index, and the m-byte PQ codes make that remainder ~32x smaller
    than raw float32 — the two savings multiply.

    Fully deterministic (:func:`ivf_centroids` and :func:`assign_cells`
    for the cells, sampled codebooks with ties to the lowest code,
    fixed sequential fold order everywhere — including the driver-side
    probe/ADC dots) like its ivf_topk / pq_topk parents; registered with a FULL value-hash SQL oracle plus a
    recall-vs-exact invariant test.

    Plan shape: centroids AND codebooks broadcast; the corpus pays
    exactly two shuffles at index-build time (cell-assignment argmax,
    PQ-encoding argmin — both map-side-combined groupBys) and the two
    results join co-keyed on the vector id; per-query ADC tables join
    the probed cells BROADCAST, so serving shuffle volume is
    O(candidates in probed cells), then similarity._shortlist keeps
    cand_n before the exact re-rank (similarity._rerank) touches any
    raw vector.
    """
    sub = dim // m
    cand_n = candidates_per_query or 4 * k

    cent = ivf_centroids(
        corpus, n_cells, corpus_id=corpus_id, corpus_vec=corpus_vec
    )
    cb = (
        corpus.orderBy(F.col(corpus_id).asc())
        .limit(ksub)
        .select(
            (
                F.row_number().over(Window.orderBy(F.col(corpus_id).asc())) - 1
            ).alias("__cid"),
            F.col(corpus_vec).alias("__cvec"),
        )
    )

    def d2_slice(a: str, b: str, mi: int) -> Column:
        return _pq_d2_slice(a, b, mi, sub)

    # Index build pass 1: coarse cell assignment (assign_cells). The
    # row norm computed for it rides through the argmax into the
    # exact re-rank.
    from ..functions.vector import l2_norm
    from .similarity import _rerank, _shortlist

    assigned = assign_cells(
        spread(corpus), cent, dim=dim, id_col=corpus_id, vec_col=corpus_vec,
        carry=("__vn",),
    )
    # Index build pass 2: PQ encoding (per-subspace argmin L2, ties to
    # lowest code).
    enc = (
        spread(corpus).crossJoin(F.broadcast(cb))
        .groupBy(corpus_id)
        .agg(
            F.first(F.col(corpus_vec)).alias(corpus_vec),
            *[
                F.min_by(
                    F.col("__cid"),
                    F.struct(
                        d2_slice(corpus_vec, "__cvec", mi).alias("d"),
                        F.col("__cid").alias("c"),
                    ),
                ).alias(f"code{mi}")
                for mi in range(m)
            ],
        )
    )
    indexed = enc.join(assigned, on=corpus_id)

    # Per-query probes (n_probe nearest cells) and ADC tables, computed
    # DRIVER-SIDE in numpy: the query batch is small by contract (the
    # same collect-the-queries license the blocked exact kernel uses),
    # and the per-query work is |queries| x (n_cells + m x ksub) dots —
    # microseconds. Doing this in the plan cost two crossJoins, two
    # windows, and a collect_list groupBy of pure driver-shaped data
    # (measured: ~2.7 s of py4j plan construction alone at m=8). The
    # result ships as ONE literal probe+ADC table broadcast into the
    # candidate join — the serving plan is unchanged from there on.
    import numpy as np

    spark = corpus.sparkSession
    cent_rows = cent.collect()
    cb_rows = sorted(cb.collect(), key=lambda r: r["__cid"])
    C = np.array([r["__cvec"] for r in cent_rows], dtype=np.float64)
    cids = [r["__cid"] for r in cent_rows]
    B = np.array([r["__cvec"] for r in cb_rows], dtype=np.float64)
    q_rows = queries.select(
        F.col(query_id).alias("__qid"), F.col(query_vec).alias("__qvec")
    ).collect()
    import math

    def _seq_dot_full(a, b, n: int) -> float:
        acc = 0.0
        for i in range(n):
            acc += float(a[i]) * float(b[i])
        return acc

    rows = []
    for r in q_rows:
        qv = np.array(r["__qvec"], dtype=np.float64)
        # Probe sims via the SAME sequential fold the SQL cosine uses —
        # BLAS matvec reassociates, and a reassociation flip at the
        # n_probe boundary would give the engine and its SQL twin
        # different candidate sets. A zero norm product scores 0.0,
        # the zero guard of cosine_from_parts that probe_cells applies.
        qn = math.sqrt(_seq_dot_full(qv, qv, dim))
        sims = []
        for ci in range(len(cids)):
            denom = qn * math.sqrt(_seq_dot_full(C[ci], C[ci], dim))
            sims.append(
                _seq_dot_full(qv, C[ci], dim) / denom
                if denom != 0.0
                else 0.0
            )
        # (sim desc, NaN greatest, cid asc) — same rule as the SQL twin
        order = sorted(
            range(len(cids)),
            key=lambda i: (
                not math.isnan(sims[i]),
                -sims[i] if not math.isnan(sims[i]) else 0.0,
                cids[i],
            ),
        )
        # Sequential left-associated accumulation, NOT np.dot: the ADC
        # value appears in the OUTPUT (and in the shortlist ordering),
        # and BLAS dot kernels reassociate (SIMD lanes) — the explicit
        # fold makes the value bit-identical to a SQL "t1 + t2 + ..."
        # twin. 8-element dots on the driver: cost is noise.
        def seq_dot(a, b, o: int, n: int) -> float:
            acc = 0.0
            for i in range(n):
                acc += float(a[o + i]) * float(b[o + i])
            return acc

        tabs = [
            [seq_dot(qv, B[c], mi * sub, sub) for c in range(len(cb_rows))]
            for mi in range(m)
        ]
        for i in order[:n_probe]:
            rows.append(
                (r["__qid"], [float(x) for x in qv], cids[i], *tabs)
            )
    # The probe table's id columns keep their NATIVE types: `cell`
    # carries raw corpus ids (the sampled-centroid scheme uses the
    # corpus_id domain, not a dense 0..n_cells index), so narrowing it
    # to int would crash createDataFrame on 64-bit id corpora; same
    # for non-bigint query ids.
    qid_t = queries.schema[query_id].dataType.simpleString()
    cid_t = corpus.schema[corpus_id].dataType.simpleString()
    schema = (
        f"__qid {qid_t}, __qvec array<double>, cell {cid_t}, "
        + ", ".join(f"tab{mi} array<double>" for mi in range(m))
    )
    # Query norm once per probe row (broadcast side, n_probe copies per
    # query — microseconds), so the exact re-rank is one dot per pair.
    # Computed in SQL with the same l2_norm kernel the corpus side
    # uses: bit-identical to what cosine_sim would evaluate per pair.
    probe_tabs = spark.createDataFrame(rows, schema).withColumn(
        "__qn", l2_norm("__qvec", dim)
    )

    cand = indexed.join(F.broadcast(probe_tabs), on="cell")
    if exclude_self:
        cand = cand.filter(F.col(corpus_id) != F.col("__qid"))

    adc_terms = [
        F.element_at(F.col(f"tab{mi}"), F.col(f"code{mi}") + 1)
        for mi in range(m)
    ]
    adc = adc_terms[0]
    for t in adc_terms[1:]:
        adc = adc + t

    shortlist = _shortlist(
        cand.withColumn("adc", adc), cand_n, score="adc", id_col=corpus_id
    )
    return _rerank(
        shortlist, k, dim=dim, id_col=corpus_id, vec_col=corpus_vec,
        carry=("adc",),
    ).select("query_id", "rank", corpus_id, "sim", "adc")


def nsw_beam_search(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    edges: DataFrame,
    beam_width: int = 8,
    n_iters: int = 4,
    n_entries: int = 8,
    dim: int | None = None,
    exclude_self: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    serve: str = "auto",
    max_broadcast_nodes: int = 2_000_000,
    max_broadcast_edges: int = 32_000_000,
    entries: DataFrame | None = None,
) -> DataFrame:
    """Graph-ANN serving: greedy BEAM SEARCH over a navigable
    small-world kNN graph — the single-layer core of the reference's
    HNSW index (/root/reference/src/chroma.py:77; Malkov & Yashunin
    2018: HNSW = this search on a layered NSW graph). Unlike the
    hash-family stand-ins (SRP/BRP-LSH) and IVF, the candidate set
    adapts to the query: each hop expands the current beam's graph
    neighbors and keeps the ``beam_width`` best, so per-query work is
    O(n_iters * beam_width * degree) score evaluations — INDEPENDENT
    of corpus size, the property that makes graph ANN the serving
    default everywhere.

    Fully deterministic, so it carries a FULL value-hash oracle
    (unrolled per-hop CTEs, like the kmeans and pagerank iterations):
    entry points are the ``n_entries`` highest-degree hubs (degree
    DESC, id ASC — the navigability heuristic HNSW gets from its top
    layers), every beam selection orders by (sim DESC, id ASC), and
    the sim kernel is the engine's standard sequential fold.

    ``edges`` is the prebuilt symmetric kNN edge list (a, b) with
    a < b (see the knn-graph family); at 100 TB it is a persisted
    artifact (build = the grid top-k plan, one-off). Scale shape per
    hop: the beam (|Q| x beam_width rows) broadcast-joins the edge
    list on the node key, candidates equi-join ``emb`` for scoring
    (point lookups against a bucketed table at serving scale), one
    window per query over <= beam_width * (degree + 1) rows. The
    corpus is never scanned after the graph build; lineage is
    truncated per hop exactly like the other iterative operators.

    ``serve`` picks between two physical strategies for the SAME
    logical search (results bit-identical; every real ANN system has
    this split):

    - ``"auto"`` (default): ``"broadcast"`` when it can run (budgets,
      ``dim`` given or inferable, no ``entries``) and the corpus holds
      at most AUTO_BROADCAST_ELEMENTS vector elements (the measured
      break-even), else ``"joins"``. The budgets are decided from
      vector lengths and id-only tables, so a fallback never moves a
      vector to the driver.
    - ``"joins"``: each hop is a distributed join as above —
      the shape for a graph too large for one machine's memory, and
      the only shape whose plan the SQL oracle mirrors structurally.
      Cost: 2 + n_iters synchronized job barriers regardless of |Q|.
    - ``"broadcast"``: the graph (adjacency + vectors) is collected
      once, broadcast to executors, and ALL hops for a query run
      inside one mapInPandas pass over the distributed query stream —
      zero shuffles, zero barriers, one job. This is how serving
      actually works everywhere (HNSW loads the index in RAM per
      node); the queries are the 100-TB side, the index is the small
      side. Guarded by ``max_broadcast_nodes`` / ``max_broadcast_edges``
      — past those, use ``"joins"`` (the error says so). Requires
      ``dim`` (<= UNROLL_MAX_DIM) and unique corpus ids; NaN vector
      ELEMENTS are out of contract exactly as for the vectorized
      top-k kernels (see similarity._topk_order) — NULL vectors and
      zero norms follow the JVM semantics bit-for-bit (NULL sim
      ranks last, zero norm scores 0.0; a NULL ELEMENT quarantines
      the row to sim NULL, matching the join path's cast chain), and
      a short array raises if and only if the beam actually scores
      that row — the same laziness as the join path's ANSI
      out-of-bounds error.

    ``entries`` (optional, joins-serve only): a per-query entry-point
    table (query_id, node) that REPLACES the global hub fan-out as the
    hop-0 beam — the seam the hierarchical HNSW descent
    (operators/hnsw.hnsw_search) plugs into: greedy routing on the
    upper layers finds each query's own entry neighborhood, then this
    kernel runs the layer-0 beam from it. Default None keeps the
    flat-NSW hub behavior bit-for-bit.

    CONTRACT — unique query ids: the bit-identity between the two
    strategies holds only when each ``query_id`` appears ONCE in
    ``queries``, which binds default callers now that ``"auto"`` can
    pick broadcast. For a duplicated id the join path's row_number window
    pools all of that id's rows into one shared beam/k budget (fewer
    than k result rows per occurrence), while the broadcast kernel
    serves each occurrence independently (k rows each). Neither is
    "the" answer for ambiguous input — dedupe query ids upstream.
    (Corpus-id uniqueness IS validated on the broadcast path; query-id
    uniqueness is not, because checking it would add a corpus-of-
    queries-sized aggregate job to every serve call, including every
    streaming micro-batch.)

    RELIABILITY TRADE (guide §5): the joins serve's per-hop EAGER
    ``localCheckpoint`` (measured 1.8x faster than lazy — it lets AQE
    replan every hop) stores hop state on executors with lineage cut;
    an executor loss mid-serve aborts the search, which is then
    re-run. For churn-prone clusters set ``spark.checkpoint.dir`` and
    use reliable ``.checkpoint()`` per hop. See _hop_tables and
    SCALING.md "localCheckpoint reliability".
    """
    # ef >= k, the HNSW convention: the final ranking can only pick
    # from the beam, which is capped at beam_width rows per query —
    # a narrower beam than k would silently return short results.
    beam_width = max(beam_width, k)
    served = _broadcast_or_none(
        serve, emb, queries, entries=entries, edges=edges, k=k,
        beam_width=beam_width, n_iters=n_iters, n_entries=n_entries,
        dim=dim, exclude_self=exclude_self, id_col=id_col,
        vec_col=vec_col, max_nodes=max_broadcast_nodes,
        max_edges=max_broadcast_edges,
    )
    if served is not None:
        return served
    return _nsw_joins(
        emb, queries, k, edges=edges, beam_width=beam_width,
        n_iters=n_iters, n_entries=n_entries, dim=dim,
        exclude_self=exclude_self, id_col=id_col, vec_col=vec_col,
        entries=entries,
    )


def _nsw_joins(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    edges: DataFrame,
    beam_width: int,
    n_iters: int,
    n_entries: int,
    dim: int | None,
    exclude_self: bool,
    id_col: str,
    vec_col: str,
    entries: DataFrame | None = None,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """The joins serve of nsw_beam_search and, with ``allowed``,
    nsw_filtered_search: the top-k of the final beam, or of every
    visited node whose id is in ``allowed``."""
    dirs = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    q, corpus, hop_sim = _hop_tables(
        emb, queries.select("query_id", "query_vec"), dim,
        id_col=id_col, vec_col=vec_col,
    )
    if entries is not None:
        # Per-query entry points (query_id, node) — the HNSW layer
        # descent feeds this: each query starts its layer-0 beam from
        # the nodes greedy routing found for IT, not from global hubs.
        # Skips the corpus-wide degree aggregation entirely.
        beam = entries.select("query_id", "node")
    else:
        deg = dirs.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
        hubs = (
            deg.orderBy(F.col("degree").desc(), F.col("src").asc())
            .limit(n_entries)
            .select(F.col("src").alias("node"))
        )
        beam = q.select("query_id").crossJoin(F.broadcast(hubs))
    visited = beam

    def _hop(cand: DataFrame, width: int | None = beam_width) -> DataFrame:
        return _hop_keep(
            cand, q, corpus, hop_sim, width, exclude_self=exclude_self
        )

    # Eager per-hop checkpoints are deliberate: lazy (eager=False) was
    # measured 1.8x SLOWER end-to-end (24.1 s vs 13.3 s warm on the
    # sf0.1 micro-bench) — deferring materialization denies AQE its
    # per-hop re-plan (runtime partition coalescing over the tiny beam
    # frontier), which costs far more than the per-hop job barrier
    # saves. Measured r09, guide §1.1 empirical loop.
    beam = _hop(beam).localCheckpoint(eager=True)
    for _ in range(n_iters):
        neigh = beam.join(
            dirs, beam["node"] == dirs["src"]
        ).select("query_id", F.col("dst").alias("node"))
        cand = beam.select("query_id", "node").unionByName(neigh).distinct()
        if allowed is not None:
            visited = visited.unionByName(cand).distinct()
            visited = visited.localCheckpoint(eager=True)
        beam = _hop(cand).localCheckpoint(eager=True)
    if allowed is not None:
        beam = _hop(visited.join(
            allowed.select(F.col(id_col).alias("node")), "node", "left_semi"
        ), None)

    from .similarity import _rank_topk

    return _rank_topk(beam, k, id_col="node").select(
        "query_id",
        F.col("rank").cast("bigint").alias("rank"),
        F.col("node").alias("vec_id"),
        "sim",
    )


def nsw_filtered_search(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    edges: DataFrame,
    allowed: DataFrame,
    beam_width: int = 8,
    n_iters: int = 4,
    n_entries: int = 8,
    dim: int | None = None,
    exclude_self: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    serve: str = "auto",
    max_broadcast_nodes: int = 2_000_000,
    max_broadcast_edges: int = 32_000_000,
) -> DataFrame:
    """METADATA-FILTERED graph serving — the ``where=`` surface the
    reference stores advertise (/root/reference/src/chroma.py:3
    Chroma ``where`` / pineconeDB.py:3 Pinecone ``filter``), on the
    graph-ANN path. Production HNSW semantics (hnswlib's
    allow-list): ROUTING runs over the FULL graph — the hop beams are
    bit-identical to :func:`nsw_beam_search`'s, so a selective filter
    can never strand the walk inside a non-matching region (the
    failure mode of pre-filtering the graph, which deletes routing
    waypoints) — while the RESULT is the exact top-k over every node
    the walk VISITED that passes the filter.

    ``allowed`` is the filter's output as an id table (one column,
    ``id_col``) — the Spark-idiomatic contract: build it with an
    ordinary ``.filter()`` / join on the metadata table and Catalyst
    pushes the predicate into that scan; this operator only sees ids.
    Tombstone-filtered serving is this exact shape with
    allowed = survivors (sources/graph_index.apply_nsw_tombstones
    pre-filters instead because deletions REMOVE routing nodes by
    design — deleted vectors must not route at all).

    Per-query cost: the visited set is O(n_iters x beam x degree)
    rows — corpus-independent like the unfiltered beam; the filter
    lands as one semi-join on that small set (broadcast or shuffled,
    whichever fits ``allowed``'s size — Spark/AQE decides, since at
    100 TB a weak predicate's id set can be corpus-sized). Fully
    deterministic -> FULL value-hash oracle: the same unrolled hop
    CTEs plus one visited-union + filter + re-rank block.

    Recall note (pinned in tests): on an unfiltered ``allowed`` this
    returns at least as good a top-k as nsw_beam_search, because it
    ranks over the whole visited set (hnswlib's candidate queue), not
    just the surviving final beam.

    ``serve`` carries the family's physical split: ``"joins"`` is the
    distributed shape the SQL oracle mirrors; ``"broadcast"`` ships
    graph + corpus + allow-list once and runs walk-and-filter per
    query in one mapInPandas pass (nsw_broadcast_server's filtered
    mode) — bit-identical, pinned in tests/test_nsw_filtered.py, same
    guarded budgets; ``"auto"`` (default) picks as nsw_beam_search does,
    whose unique-query-id contract applies.
    """
    beam_width = max(beam_width, k)
    served = _broadcast_or_none(
        serve, emb, queries, edges=edges, k=k, beam_width=beam_width,
        n_iters=n_iters, n_entries=n_entries, dim=dim,
        exclude_self=exclude_self, id_col=id_col, vec_col=vec_col,
        max_nodes=max_broadcast_nodes, max_edges=max_broadcast_edges,
        allowed=allowed.select(F.col(id_col)),
    )
    if served is not None:
        return served
    return _nsw_joins(
        emb, queries, k, edges=edges, beam_width=beam_width,
        n_iters=n_iters, n_entries=n_entries, dim=dim,
        exclude_self=exclude_self, id_col=id_col, vec_col=vec_col,
        allowed=allowed,
    )


class _NoBroadcast(ValueError):
    """The broadcast serve cannot run (budget, dim or duplicate id):
    ``serve='broadcast'`` raises it, ``serve='auto'`` runs joins."""


# serve='auto' takes broadcast up to this many corpus vector elements:
# the measured hnsw_search break-even with joins (SCALING.md, about
# 100k 64-d vectors on 4 local cores). Above it the driver-side load
# of the vectors costs more than the per-hop joins it saves.
AUTO_BROADCAST_ELEMENTS = 6_400_000


def _broadcast_or_none(
    serve: str,
    emb: DataFrame,
    queries: DataFrame,
    *,
    entries: DataFrame | None = None,
    **server_kw,
) -> DataFrame | None:
    """Resolve ``serve`` for nsw_beam_search, nsw_filtered_search and
    hnsw.hnsw_search: the broadcast result, or None to run joins.
    ``"auto"`` falls back to joins on _NoBroadcast, which the server
    raises from bounded length- and id-only collects before any vector
    reaches the driver. ``entries`` means joins: the kernel takes only
    (qid, qvec) per query."""
    if serve not in ("auto", "joins", "broadcast"):
        raise ValueError(
            f"serve must be 'auto', 'joins' or 'broadcast', got {serve!r}"
        )
    if serve == "broadcast" and server_kw["dim"] is None:
        raise ValueError(
            "serve='broadcast' needs an explicit dim; pass dim=, or use "
            "serve='auto' (infers it) or serve='joins'"
        )
    if entries is not None and serve == "broadcast":
        raise ValueError("entries= requires serve='joins' or 'auto'")
    if serve == "joins" or entries is not None:
        return None
    if serve == "auto":
        server_kw["max_elements"] = AUTO_BROADCAST_ELEMENTS
    try:
        return nsw_broadcast_server(emb, **server_kw)(queries)
    except _NoBroadcast:
        if serve == "broadcast":
            raise
        return None


def nsw_broadcast_server(
    emb: DataFrame,
    *,
    edges: DataFrame,
    k: int,
    beam_width: int = 8,
    n_iters: int = 4,
    n_entries: int = 8,
    dim: int | None = None,
    exclude_self: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_nodes: int = 2_000_000,
    max_edges: int = 32_000_000,
    layer_edges: dict[int, DataFrame] | None = None,
    levels: DataFrame | None = None,
    descent_beam: int = 4,
    descent_iters: int = 2,
    allowed: DataFrame | None = None,
    max_elements: int | None = None,
):
    """Broadcast-graph beam serving: the in-memory half of
    nsw_beam_search's ``serve`` switch (see its docstring for the
    regime split and the bit-identity contract).

    Returns ``serve(queries) -> DataFrame`` — the index loads and
    broadcasts ONCE at construction, then every call plans a fresh
    zero-shuffle mapInPandas over its query DataFrame. This is the
    long-lived-server shape (and the foreachBatch body of the
    streaming drain): per-batch callers must not rebuild the
    broadcast, exactly as an HNSW process loads its index once.

    Semantics mirrored from the join path, clause by clause:
    entry points = top ``n_entries`` nodes by (degree DESC, id ASC,
    Spark's ASC-NULLS-FIRST for a NULL endpoint); candidate scoring
    inner-joins the corpus (ids absent from ``emb`` drop silently,
    like the equi-join); ``exclude_self`` drops node == query_id and —
    like the JVM's NULL-propagating ``!=`` — drops EVERYTHING for a
    NULL query id; per-hop selection keeps ``beam_width`` rows by
    (sim DESC NULLS LAST, NaN greatest, node ASC). The sim kernel is
    the engine's standard sequential fold (dots and squared norms
    accumulate dimension-sequentially in float64 — the exact IEEE
    addition order of the unrolled JVM expression), zero-norm
    denominators score 0.0, and a NULL vector / NULL element yields
    sim NULL (a NULL element reaches numpy as NaN, so the row is
    quarantined — genuine NaN elements, indistinguishable at that
    point and out of contract everywhere, get the same quarantine
    where the join path would rank them first). An array SHORTER than
    ``dim`` raises IF AND ONLY IF the beam scores that row —
    mirroring the join path, where ANSI mode turns the unrolled
    chain's out-of-bounds access into INVALID_ARRAY_INDEX on scored
    rows only (the engine-wide fixed-dim contract: corrupt dims fail
    loud, never silently skew rankings; quarantined rows outside the
    graph serve fine). A NULL corpus id or NULL query id is
    unreachable/zero-rows on the join path's equi-joins and is
    skipped/filtered here identically. Arrays LONGER than ``dim``
    contribute their first ``dim`` elements, like the unrolled chain
    — which is why ``dim`` must be <= UNROLL_MAX_DIM: above it the
    JVM switches to the HOF fold whose length semantics differ, and
    this kernel refuses rather than silently diverge.

    Budgets: the corpus vector LENGTHS (one bounded collect) and the
    id-only tables (edges, allow-list, levels, upper layers) load
    first; the vectors collect last, and only when every count is
    within ``max_nodes``/``max_edges`` and their ~8 bytes per element
    fit half of ``spark.driver.maxResultSize``. Any overrun raises
    _NoBroadcast before a vector moves.

    ``dim=None`` (serve='auto' only) infers d when every non-NULL
    corpus vector has one length d <= UNROLL_MAX_DIM, and mirrors the
    HOF cosine_sim: the dot folds from 0.0 (a -0.0 dot scores 0.0),
    and a query of another length has a NULL dot, so its sim is NULL,
    or 0.0 where the full-array norms' product is 0.

    Per-query sims are memoized across hops (the join path recomputes
    them; both are deterministic so results agree), and the whole
    search is one mapInPandas stage: at 1000 executors the graph
    ships once per executor and a billion-query stream needs no
    shuffle at all.

    Query ids must be unique for join-path bit-identity (see
    nsw_beam_search's unique-query-id contract): a duplicated id is
    served independently per occurrence here but pooled into one
    beam/k budget by the join path's window.

    LAYERED (HNSW) mode: pass ``layer_edges`` (upper-layer edge lists,
    layer >= 1) and ``levels`` (node, lvl) and the kernel runs the
    hierarchical descent (operators/hnsw.hnsw_search joins path,
    clause for clause): entry = min-id node of the highest populated
    layer (corpus-min fallback), ``descent_iters`` expand-and-keep-
    top-``descent_beam`` hops per layer top-down WITHOUT
    self-exclusion, then the layer-0 beam seeded from the descent's
    final nodes (exclusion applies there). The upper layers ride the
    same broadcast (they are geometric fractions of the edge budget);
    ``n_entries``/hub selection is bypassed — the hierarchy IS the
    entry mechanism. Bit-identical to hnsw_search(serve='joins'),
    pinned in tests/test_hnsw_broadcast.py.

    FILTERED mode: pass ``allowed`` (an id table — the metadata
    filter's output) and the kernel runs nsw_filtered_search's
    allow-list semantics in-process: routing beams identical to the
    unfiltered walk, result = exact top-k over the VISITED nodes
    whose id is in the allow-list (hnswlib's filter). The id set
    collects under the ``max_nodes`` budget (the corpus already
    does). Bit-identical to nsw_filtered_search, pinned in
    tests/test_nsw_filtered.py. Not composable with layered mode —
    no joins twin exists for that combination yet, so it fails loud.
    """
    import math

    import numpy as np
    from pyspark.sql import types as T

    from ..functions.vector import UNROLL_MAX_DIM

    beam_width = max(beam_width, k)  # ef >= k, as in nsw_beam_search
    if dim is not None and dim > UNROLL_MAX_DIM:
        raise _NoBroadcast(
            f"serve='broadcast' needs dim <= {UNROLL_MAX_DIM} (got "
            f"{dim!r}) so the kernel can mirror the unrolled JVM sim "
            "semantics; use serve='joins' above it"
        )

    layered = layer_edges is not None
    if layered and allowed is not None:
        raise ValueError(
            "layered + allowed is not supported: the filtered joins "
            "twin (nsw_filtered_search) routes from hubs; compose "
            "the filter with the flat graph or serve='joins'"
        )

    def _load(df: DataFrame, what: str, kind: str, fetch=DataFrame.collect):
        # The bounded collect is the budget check: no extra count job.
        cap = max_nodes if kind == "nodes" else max_edges
        rows = fetch(df.limit(cap + 1))
        if len(rows) > cap:
            raise _NoBroadcast(
                f"{what} exceeds max_broadcast_{kind}={cap}; the graph no "
                "longer fits the broadcast-serving regime — use "
                "serve='joins' (distributed per-hop joins) instead"
            )
        return rows

    # Every budget and d are decided from vector LENGTHS and id-only
    # tables before any vector moves: a corpus that cannot broadcast
    # is never collected just to be dropped.
    lens = _load(
        emb.select(F.coalesce(F.size(vec_col), F.lit(-1))), "corpus", "nodes",
        lambda df: df.toArrow().column(0).to_numpy(),
    )
    lens = lens[lens >= 0].astype(np.int64)  # -1: NULL vector
    hof = dim is None
    if hof:
        dims = np.unique(lens)
        dim = int(dims[0]) if len(dims) == 1 else 0
        if not 1 <= dim <= UNROLL_MAX_DIM:
            raise _NoBroadcast(
                "dim=None and the corpus vectors do not share one length "
                f"in 1..{UNROLL_MAX_DIM}; use serve='joins'"
            )
    sc = emb.sparkSession.sparkContext
    max_result = sc._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        sc.getConf().get("spark.driver.maxResultSize", "1g")
    )
    # At 8 bytes an element the vectors must fit half the driver's
    # result cap (0 = unlimited), or a default serve would fail where
    # joins returns rows.
    cap = max_result // 16 if max_result else float("inf")
    if max_elements is not None:
        cap = min(cap, max_elements)
    elements = int(lens.sum())
    if elements > cap:
        raise _NoBroadcast(
            f"corpus vectors hold {elements} elements, over the broadcast "
            f"budget of {cap} (half of spark.driver.maxResultSize at 8 "
            "bytes each, or max_elements); use serve='joins' instead"
        )
    erows = _load(edges.select("a", "b"), "edge list", "edges")
    arows = None if allowed is None else _load(allowed, "allow-list", "nodes")
    if layered:
        lv_rows = _load(levels.select("node", "lvl"), "levels", "nodes")
        # The upper layers are geometric fractions of layer 0: one
        # collect under one edge budget, tagged by layer.
        urows = _load(
            reduce(
                DataFrame.unionByName,
                [
                    layer_edges[lay].select(F.lit(lay).alias("lay"), "a", "b")
                    for lay in sorted(layer_edges)
                ],
            ),
            "upper-layer edge lists", "edges",
        ) if layer_edges else []
    crows = _load(emb.select(id_col, vec_col), "corpus", "nodes")

    n = len(crows)
    cidx: dict = {}
    V = np.zeros((max(n, 1), dim), dtype=np.float64)
    cbad = np.zeros(max(n, 1), dtype=bool)
    # Rows whose vector is SHORTER than dim: the join path raises ANSI
    # INVALID_ARRAY_INDEX — but only if the row is actually SCORED.
    # Mirror that exactly: poison the slot and raise lazily when (if)
    # the beam reaches it, so a quarantined-short row outside the
    # graph serves fine on both paths.
    cpoison = np.zeros(max(n, 1), dtype=bool)
    for i, row in enumerate(crows):
        node, vec = row[0], row[1]
        if node is None:
            # The join path's equi-join on the node key can never match
            # a NULL id — the row is unreachable there; keep it out of
            # the index so both paths ignore it identically.
            continue
        if node in cidx:
            raise _NoBroadcast(
                f"duplicate corpus id {node!r}: broadcast serving "
                "requires unique ids (the persisted-index invariant); "
                "serve='joins' would emit duplicate beam rows instead"
            )
        cidx[node] = i
        if vec is None:
            cbad[i] = True
            continue
        if len(vec) < dim:
            cpoison[i] = True
            continue
        V[i, :] = np.asarray(vec[:dim], dtype=np.float64)
        # A NULL ELEMENT inside the array arrives as None and becomes
        # NaN under np.asarray — the join path's cast chain propagates
        # it to sim NULL (ranked last), so quarantine the row. Genuine
        # NaN elements are indistinguishable here and get the same
        # quarantine; they are out of contract on every kernel path
        # (similarity._topk_order's scope note) — the join path would
        # rank them FIRST, this path ranks them last-as-NULL, and
        # neither is wrong for data the engine tells you to reject
        # at ingest.
        if np.isnan(V[i, :]).any():
            cbad[i] = True
    # Norms: dimension-sequential squared sums (the shared kernel rule).
    csq = V[:, 0] * V[:, 0]
    for j in range(1, dim):
        csq = csq + V[:, j] * V[:, j]
    cnorm = np.sqrt(csq)

    # Degree over the DIRECTED list (duplicate edges count twice, like
    # the groupBy over the unioned directions); adjacency is a set
    # (candidates are distinct-ed per hop anyway).
    degc: dict = {}
    adj: dict = {}
    for row in erows:
        a, b = row[0], row[1]
        degc[a] = degc.get(a, 0) + 1
        degc[b] = degc.get(b, 0) + 1
        if a is not None and b is not None:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    adj = {node: tuple(sorted(nb, key=lambda x: (x is not None, x))) for node, nb in adj.items()}

    # HNSW layers: per-layer adjacency (descending) + the descent
    # entry node, mirroring hnsw_search's joins-path aggregation —
    # min id of the highest populated layer, corpus-min fallback,
    # NULL nodes ignored (Spark min() skips NULLs), entry None when
    # levels is all-NULL (the joins path's empty-join => zero rows).
    if layered:
        # The hierarchy IS the entry mechanism — skip the corpus-wide
        # degree sort entirely (it can be max_nodes entries).
        hubs: list = []
    else:
        hubs = [
            node
            for node, _ in sorted(
                degc.items(),
                key=lambda kv: (-kv[1], kv[0] is not None, kv[0]),
            )[:n_entries]
        ]
    allow_set = None
    if arows is not None:
        allow_set = {r[0] for r in arows if r[0] is not None}
    lentry = None
    layer_adjs: list = []
    if layered:
        promoted = [
            (r[1], r[0])
            for r in lv_rows
            if r[0] is not None and r[1] is not None and r[1] >= 1
        ]
        if promoted:
            top = max(lv for lv, _ in promoted)
            lentry = min(nd for lv, nd in promoted if lv == top)
        else:
            nodes_all = [r[0] for r in lv_rows if r[0] is not None]
            lentry = min(nodes_all) if nodes_all else None
        las: dict = {lay: {} for lay in layer_edges}
        for lay, a, b in urows:
            if a is not None and b is not None:
                las[lay].setdefault(a, set()).add(b)
                las[lay].setdefault(b, set()).add(a)
        for lay in sorted(las, reverse=True):
            layer_adjs.append(
                {node: tuple(sorted(nb)) for node, nb in las[lay].items()}
            )

    # Released by Spark's ContextCleaner once the serving DataFrame
    # (whose closure holds it) is garbage-collected — the standard
    # broadcast lifecycle. A long-lived server should build this plan
    # ONCE and reuse it across query batches, not rebuild per call.
    bc = sc.broadcast(
        {"cidx": cidx, "V": V, "cbad": cbad, "cnorm": cnorm,
         "cpoison": cpoison, "adj": adj, "hubs": hubs,
         "lentry": lentry, "layer_adjs": layer_adjs,
         "allow": allow_set}
    )
    id_type = emb.schema[id_col].dataType
    kk, bw, iters, excl, d = k, beam_width, n_iters, exclude_self, dim
    lyr, db, di = layered, descent_beam, descent_iters
    neg_inf = float("-inf")

    def _key(item):
        node, sim = item
        if sim is None:
            return (1, 0.0, node)
        return (0, neg_inf if math.isnan(sim) else -sim, node)

    def run(batches):
        import pandas as pd

        g = bc.value
        cidx, V, cbad, cnorm = g["cidx"], g["V"], g["cbad"], g["cnorm"]
        cpoison, adj, hubs = g["cpoison"], g["adj"], g["hubs"]
        lentry, layer_adjs, allow = g["lentry"], g["layer_adjs"], g["allow"]

        def search(qid, qvec):
            qbad = qvec is None
            # Short QUERY vectors poison lazily too: the join path's
            # ANSI error fires only when the sim chain EVALUATES — a
            # query that never reaches a scoreable candidate (empty
            # graph, hubs absent from the corpus) returns zero rows
            # there, so mirror that instead of raising up front.
            qpoison = not hof and not qbad and len(qvec) < d
            # Inferred-dim (HOF) mode: a query of another length has a
            # NULL dot, so only its full-array norm matters.
            mism = hof and not qbad and len(qvec) != d
            qv = None
            qnorm = 0.0
            if not qbad and not qpoison:
                qv = np.asarray(qvec if mism else qvec[:d], dtype=np.float64)
                if np.isnan(qv).any():  # NULL element -> NaN (see above)
                    qbad = True
            if not qbad and not qpoison:
                qsq = 0.0
                for j in range(len(qv)):
                    qsq = qsq + qv[j] * qv[j]
                qnorm = float(np.sqrt(qsq))
            sims: dict = {}

            def score(cands, width=bw, exclude=excl):
                present = [c for c in cands if c in cidx]
                if qpoison and present:
                    raise ValueError(
                        f"query {qid!r} has a vector shorter than "
                        f"dim={d} and reached {len(present)} scoreable "
                        "candidates: the ANSI join path raises "
                        "INVALID_ARRAY_INDEX on the same scored rows "
                        "(fixed-dim contract)"
                    )
                new = [c for c in present if c not in sims]
                if new:
                    for c in new:
                        if cpoison[cidx[c]]:
                            raise ValueError(
                                f"corpus id {c!r} has a vector shorter "
                                f"than dim={d} and was reached by the "
                                "beam: the ANSI join path raises "
                                "INVALID_ARRAY_INDEX on the same scored "
                                "row (fixed-dim contract)"
                            )
                    if qbad:
                        for c in new:
                            sims[c] = None
                    else:
                        idx = np.fromiter(
                            (cidx[c] for c in new), dtype=np.int64,
                            count=len(new),
                        )
                        denom = qnorm * cnorm[idx]
                        zero = denom == 0.0
                        bad = cbad[idx]
                        if mism:
                            # NULL dot: 0.0 on a zero denominator only
                            vals = np.zeros(len(new))
                            bad = bad | ~zero
                        else:
                            Vc = V[idx]
                            dots = qv[0] * Vc[:, 0]
                            if hof:  # the HOF fold starts at 0.0: -0.0 -> 0.0
                                dots = 0.0 + dots
                            for j in range(1, d):
                                dots = dots + qv[j] * Vc[:, j]
                            vals = np.where(
                                zero, 0.0, dots / np.where(zero, 1.0, denom)
                            )
                        for c, s, b in zip(new, vals, bad):
                            sims[c] = None if b else float(s)
                scored = [
                    (c, sims[c])
                    for c in present
                    if not (exclude and c == qid)
                ]
                scored.sort(key=_key)
                return scored[:width]

            if lyr:
                # Hierarchical descent (hnsw_search joins path,
                # clause for clause): no self-exclusion, keep
                # descent_beam, empty layers rescore the carry.
                beam = score(
                    [] if lentry is None else [lentry],
                    width=db, exclude=False,
                )
                for la in layer_adjs:
                    for _ in range(di):
                        cand = {node for node, _ in beam}
                        for node, _ in beam:
                            cand.update(la.get(node, ()))
                        beam = score(cand, width=db, exclude=False)
                # layer-0 hop-0: rescore the descent's nodes under
                # the serving contract (exclusion, full beam width)
                beam = score([node for node, _ in beam])
            else:
                beam = score(hubs)
            visited = set(hubs) if allow is not None else None
            for _ in range(iters):
                cand = {node for node, _ in beam}
                for node, _ in beam:
                    cand.update(adj.get(node, ()))
                if allow is not None:
                    visited.update(cand)
                beam = score(cand)
            if allow is not None:
                # nsw_filtered_search semantics: rank the VISITED
                # nodes passing the allow-list (routing was the
                # unfiltered walk above, so the filter can't strand
                # it); sims are memoized from the walk.
                return [
                    (qid, r + 1, node, sim)
                    for r, (node, sim) in enumerate(
                        score(
                            [c for c in visited if c in allow],
                            width=kk, exclude=excl,
                        )
                    )
                ]
            return [
                (qid, r + 1, node, sim)
                for r, (node, sim) in enumerate(beam[:kk])
            ]

        for pdf in batches:
            rows = []
            # query_id nulls were filtered JVM-side, so the id column
            # keeps its native (exact) integer/string dtype here.
            for qid, qvec in zip(pdf["query_id"], pdf["query_vec"]):
                rows.extend(search(qid, qvec))
            yield pd.DataFrame(
                {
                    "query_id": pd.Series(
                        [r[0] for r in rows], dtype=object
                    ),
                    "rank": pd.Series([r[1] for r in rows], dtype=object),
                    "vec_id": pd.Series([r[2] for r in rows], dtype=object),
                    "sim": pd.Series([r[3] for r in rows], dtype=object),
                }
            )

    def serve(queries: DataFrame) -> DataFrame:
        # NULL query ids are dropped JVM-side: the join path's scoring
        # re-join on query_id never matches NULL, so such a query emits
        # ZERO rows there regardless of exclude_self — and letting a
        # null into the Arrow batch would coerce the pandas int64 id
        # column to float64, corrupting 64-bit ids above 2^53.
        q = queries.select("query_id", "query_vec").filter(
            F.col("query_id").isNotNull()
        )
        out_schema = T.StructType(
            [
                T.StructField("query_id", q.schema["query_id"].dataType),
                T.StructField("rank", T.LongType()),
                T.StructField("vec_id", id_type),
                T.StructField("sim", T.DoubleType()),
            ]
        )
        return q.mapInPandas(run, schema=out_schema)

    return serve


def nsw_insert_edges(
    emb: DataFrame,
    new_vecs: DataFrame,
    *,
    edges: DataFrame,
    k: int = 12,
    beam_width: int = 8,
    n_iters: int = 4,
    n_entries: int = 8,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    serve: str = "auto",
    check_disjoint: bool = True,
) -> DataFrame:
    """Incremental NSW graph maintenance: HNSW-style INSERT of a batch
    of new vectors into an existing graph, without the O(N²/B) kNN
    rebuild — the index-maintenance primitive the reference gets from
    Chroma's persisted HNSW, which inserts incrementally on every
    upsert into the collection (/root/reference/src/chroma.py:74-87;
    Malkov & Yashunin 2018 §4: insert = ef-search for the new point's
    neighbors, then connect).

    Each new vector runs the standard beam search over the EXISTING
    graph (``emb``/``edges``: the current corpus and edge list) and
    links symmetrically to its top ``k`` results. Returns the merged
    (a, b) edge list: old edges ∪ new links, distinct. Fully
    deterministic — the search is nsw_beam_search with its total tie
    orders — so a serve over the merged graph carries a full
    value-hash oracle (the insert beam unrolls in SQL exactly like
    the serving beam).

    New ids must be DISJOINT from the existing corpus ids (an id
    collision is an upsert, not an insert — route those through the
    upsert-compact lifecycle first). ENFORCED by default
    (``check_disjoint``): a colliding id would otherwise silently
    merge links computed with ``exclude_self`` suppressing the
    colliding node — a quietly corrupted edge list, not an error. The
    guard is one broadcast semi-join of the (small) batch ids against
    the corpus with a take(1) early-out; set ``check_disjoint=False``
    only when the caller already proved disjointness (e.g. the ids
    come from a split of one table on disjoint predicates). Scale
    shape: the insert costs
    O(|new| x n_iters x beam x degree) score evaluations —
    independent of |old|, while a rebuild pays O(|old|²/B) — and on
    the broadcast serve (the ``"auto"`` default under budget) the
    whole batch is one mapInPandas pass over the new vectors, whose
    ids must then be unique (nsw_beam_search's query-id contract). A
    graph grown by many insert batches drifts from the exact-kNN graph
    (inserted nodes only link through what beam search FOUND, the HNSW
    tradeoff); re-running the full build re-canonicalizes — same
    compaction discipline as the LSM upsert path.
    """
    if check_disjoint:
        collided = (
            emb.select(id_col)
            .join(
                F.broadcast(new_vecs.select(id_col).distinct()),
                id_col,
                "inner",
            )
            .take(1)
        )
        if collided:
            raise ValueError(
                f"nsw_insert_edges: new id {collided[0][0]!r} already "
                "exists in the indexed corpus — an id collision is an "
                "UPSERT, not an insert (the beam's exclude_self would "
                "silently suppress the colliding node and corrupt the "
                "merged edge list); route it through the upsert-compact "
                "lifecycle, or pass check_disjoint=False after proving "
                "disjointness"
            )
    q = new_vecs.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    found = nsw_beam_search(
        emb, q, k, edges=edges, beam_width=beam_width, n_iters=n_iters,
        n_entries=n_entries, dim=dim, exclude_self=True,
        id_col=id_col, vec_col=vec_col, serve=serve,
    )
    new_e = found.select(
        F.least("query_id", F.col("vec_id")).alias("a"),
        F.greatest("query_id", F.col("vec_id")).alias("b"),
    )
    return edges.select("a", "b").unionByName(new_e).distinct()


def nsw_shortcut_edges(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    salt: int = 17,
) -> DataFrame:
    """Deterministic long-range shortcut edges for the NSW graph: each
    node links to the node whose id equals md5-hash64(own id) mod N.
    A plain kNN graph is all short links — its graph diameter grows
    with corpus size and greedy search stalls in local clusters
    (measured: recall@5 0.52 -> 0.90 at sf0.1 with shortcuts + the
    same beam). Real NSW gets long links for free from randomized
    insertion order; a seed-free hash is the reproducible equivalent
    (uniform by construction, any engine can re-derive it — the
    shard_manifest discipline). The join against existing ids makes no
    density assumption: a hash landing on a gap simply drops that
    shortcut, identically in any engine. Returns (a, b) with a < b.
    """
    from .dedup import _md5_hash64

    n = emb.count()
    ids = emb.select(F.col(id_col))
    sc = ids.select(
        F.col(id_col).alias("src"),
        F.pmod(
            _md5_hash64(F.col(id_col).cast("string"), salt), F.lit(n)
        ).alias("dst"),
    )
    return (
        sc.join(
            ids.select(F.col(id_col).alias("dst")), "dst"
        )
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )


def nsw_edges(
    corpus: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: int = 17,
) -> DataFrame:
    """The NSW graph as an (a, b) edge list with a < b: the symmetric
    exact k-NN edges (:func:`.similarity.knn_edges`) plus the
    deterministic hash shortcuts of :func:`nsw_shortcut_edges`."""
    from .similarity import _knn_pairs

    return (
        _knn_pairs(corpus, k, id_col, vec_col)
        .unionByName(nsw_shortcut_edges(corpus, id_col=id_col, salt=salt))
        .distinct()
    )
