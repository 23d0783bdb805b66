"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship top-k cosine search at sf0.001.
``queries()`` registers one callable per implemented operator from
SURVEY.md §2 (plus the north-star extension operators); each takes
``(spark, sf_dir)`` and returns a DataFrame.  ``oracle_sql()`` holds
the DuckDB twin for every SQL-expressible entry — same column names,
same types (BIGINT for counts/ranks, DOUBLE for floats), and the same
deterministic tie-breaks, so row-count + schema + value-hash all match.

Determinism rules (SURVEY.md §5):
  - all vector math in DOUBLE; Spark's sequential ``aggregate`` dot
    product is bit-identical to DuckDB's ``list_dot_product`` on
    ``::DOUBLE[]`` (verified empirically — max abs diff 0.0);
  - top-k ties break by id ascending;
  - cross-engine float aggregations (averages over shuffled groups)
    are rounded to 9 decimals ON BOTH SIDES;
  - money aggregates go through exact DECIMAL accumulation, then cast
    to DOUBLE (no float-reassociation drift at any parallelism).
"""

from __future__ import annotations

from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cs6300_vectordbs_spark.functions.embed import embed_text
from cs6300_vectordbs_spark.functions.querygen import (
    clean_query_lines,
    generate_queries,
    template_query,
)
from cs6300_vectordbs_spark.functions.text import (
    doc_fingerprint,
    lang_id,
    bpe_token_count,
    pii_count,
    quality_score,
    redact_pii,
    token_count,
    tokens,
)
from cs6300_vectordbs_spark.functions.ids import format_doc_id, sequential_id
from cs6300_vectordbs_spark.operators.ann import (
    ivf_topk,
    sq8_topk,
    srp_lsh_topk,
)
from cs6300_vectordbs_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_buckets,
)
from cs6300_vectordbs_spark.operators.asof import asof_join
from cs6300_vectordbs_spark.operators.graph import dedup_clusters
from cs6300_vectordbs_spark.operators.judge import label_judge
from cs6300_vectordbs_spark.operators.metrics_ir import (
    latency_percentiles,
    latency_summary,
    mrr_at_k,
    ndcg_at_k,
    recall_at_k,
    recall_at_k_per_query,
)
from cs6300_vectordbs_spark.operators.multimodal import (
    decode_image_stub,
    sample_frames,
    with_blob_metadata,
)
from cs6300_vectordbs_spark.operators.skew import salted_agg
from cs6300_vectordbs_spark.operators.pipeline import (
    pipeline_report,
    search_pipeline,
)
from cs6300_vectordbs_spark.operators.interval import range_join_bucketed
from cs6300_vectordbs_spark.operators.sampling import (
    balanced_sample,
    hash_bucket,
    hash_sample,
    stratified_hash_sample,
)
from cs6300_vectordbs_spark.operators.sketch import kmv_distinct
from cs6300_vectordbs_spark.operators.quality import (
    contamination_check,
    heavy_hitters,
    repetition_stats,
)
from cs6300_vectordbs_spark.operators.chunking import chunk_documents
from cs6300_vectordbs_spark.operators.funnel import funnel_conversions
from cs6300_vectordbs_spark.operators.timeseries import (
    gap_fill_hourly,
    hourly_anomalies,
    rolling_hourly,
)
from cs6300_vectordbs_spark.operators.text_search import bm25_topk, rrf_fuse
from cs6300_vectordbs_spark.operators.similarity import (
    label_centroids,
    similarity_topk,
)
from cs6300_vectordbs_spark.operators.upsert import upsert_latest
from cs6300_vectordbs_spark.io import read_events
from cs6300_vectordbs_spark.streaming.events import windowed_event_counts

N_QUERIES = 10  # flagship query-batch size (first N vectors as queries)
TOPK = 5  # reference top-k (src/chroma.py:99)
EMB_DIM = 64  # testdata embeddings dimension (all scale factors)
# Persisted indexes and tables the queries build live under the
# checkout they run from, so two checkouts never serve each other's.
WAREHOUSE = str(Path(__file__).resolve().parent / "spark-warehouse")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _query_batch(emb: DataFrame, n: int = N_QUERIES) -> DataFrame:
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def _topk_rows(out: DataFrame) -> DataFrame:
    """The (query_id, rank, vec_id, sim) result rows of a top-k search."""
    return out.select(
        F.col("query_id").cast("bigint"),
        F.col("rank").cast("bigint"),
        F.col("vec_id").cast("bigint"),
        "sim",
    )


# ---------------------------------------------------------------------------
# V2/V3/T1 — similarity search
# ---------------------------------------------------------------------------

def q_topk_cosine_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity_topk(
        emb, _query_batch(emb), TOPK, exclude_self=True, dim=EMB_DIM
    )
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("rank").cast("bigint").alias("rank"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("sim"),
        F.col("dist"),
    )


_SQL_COSINE = (
    "list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) / "
    "(sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) * "
    "sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))"
)


def q_auto_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-call search facade with automatic strategy dispatch
    (operators/search.py — SURVEY §4.3 item 2, 'the library does the
    planning' like the reference's collection.query). At every test
    scale the counts land in the exact regime, the same
    similarity_topk call as topk_cosine_exact, so the result — and the
    oracle — are identical to it; the dispatch rule itself (exact vs
    ivf by corpus/query counts) and the bit-equality of the exact
    plans with the JVM parity reference are pinned in
    tests/test_plans.py and tests/test_similarity.py."""
    from cs6300_vectordbs_spark.operators.search import search

    emb = _t(spark, sf_dir, "embeddings")
    out = search(
        emb, _query_batch(emb), TOPK, dim=EMB_DIM, exclude_self=True
    )
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("rank").cast("bigint").alias("rank"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("sim"),
        F.col("dist"),
    )


def q_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered top-k search (V6) — the ``where=``/``filter=``
    surface the reference stores advertise (/root/reference/src/
    chroma.py:3, Chroma ``where`` / Pinecone ``filter``): corpus rows
    join their document metadata and only ``lang = 'en'`` rows are
    searchable. The filter goes through similarity_topk's filter_expr
    before scoring, so Catalyst pushes lang='en' into the documents parquet
    scan (asserted in tests/test_plans.py) — at 100 TB the filter
    prunes row groups before a single cosine is computed."""
    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    corpus = emb.join(docs, emb.vec_id == docs.doc_id).select(
        "vec_id", "embedding", "lang"
    )
    out = similarity_topk(
        corpus, _query_batch(emb), TOPK,
        filter_expr="lang = 'en'", exclude_self=True, dim=EMB_DIM,
    )
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("rank").cast("bigint").alias("rank"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("sim"),
        F.col("dist"),
    )


_ORACLE_FILTERED_TOPK = f"""
WITH en AS (
  SELECT em.* FROM embeddings em
  JOIN documents d ON em.vec_id = d.doc_id
  WHERE d.lang = 'en'
), scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS vec_id, {_SQL_COSINE} AS sim
  FROM embeddings q JOIN en e ON e.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}
), ranked AS (
  SELECT query_id, vec_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC)
           AS rank
  FROM scored
)
SELECT query_id, rank::BIGINT AS rank, vec_id, sim, 1.0 - sim AS dist
FROM ranked WHERE rank <= {TOPK}
"""


def q_topk_cosine_384d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k at the REFERENCE's real dimensionality — 384-d
    (all-MiniLM-L6-v2, /root/reference/src/pineconeDB.py:81): embed
    `documents` with the 384-d hash-projection embedder and serve the
    flagship search. This pins the dim>UNROLL_MAX_DIM kernel path
    (HOF zip_with/aggregate — functions/vector.py) under the DRIVER
    gate, not just pytest: at 384-d the unrolled chain would blow
    Janino's method limit, so the auto-switch MUST hold and MUST stay
    bit-identical to DuckDB's list_dot_product left fold. Corpus is
    documents (embed is scan-fused, no shuffle); the search is the same
    similarity_topk call as topk_cosine_exact."""
    from cs6300_vectordbs_spark.functions.embed import embed_text

    # NULL text has no embedding: dropped before the embed stage on
    # both sides (the curation contract; corpus_null_audit measures it).
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    corpus = docs.select(
        F.col("doc_id").cast("bigint").alias("vec_id"),
        embed_text("text", dim=384).alias("embedding"),
    )
    queries = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    out = similarity_topk(corpus, queries, TOPK, exclude_self=True, dim=384)
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("rank").cast("bigint").alias("rank"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("sim"),
        F.col("dist"),
    )


# 384-d twin of _ORACLE_EMBED's hash-projection rule, in list form;
# cosine is list_dot_product (left fold — bit-identical to the HOF
# form the Spark side takes above UNROLL_MAX_DIM).
_ORACLE_TOPK_384D = f"""
WITH emb AS (
  SELECT doc_id AS vec_id,
         list_transform(range(0, 384), j ->
           (('0x' || substr(md5('e' || j || '|' || text), 1, 15))::BIGINT
            % 2000001) / 1000000.0 - 1.0) AS embedding
  FROM documents WHERE text IS NOT NULL
),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS vec_id, {_SQL_COSINE} AS sim
  FROM emb q JOIN emb e ON e.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
ranked AS (
  SELECT query_id, vec_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC)
           AS rank
  FROM scored
)
SELECT query_id, rank::BIGINT AS rank, vec_id, sim, 1.0 - sim AS dist
FROM ranked WHERE rank <= {TOPK}
"""


def q_search_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic half of the U3 latency capture (r05 split): the
    scatter-gather mapInPandas serving kernel's RESULT rows
    ``(query_id, rank, vec_id, sim)`` — now under a FULL value-hash
    oracle instead of the former rows-only check. The wall-clock
    column (the nondeterministic half) moved to the companion
    ``search_latency_wallclock``. ``sim`` is round(9) on both sides:
    the kernel's BLAS dot is pairwise-summed and can differ from the
    oracle's sequential SQL fold in the last ulp (the documented
    shuffled-aggregate float policy)."""
    from cs6300_vectordbs_spark.operators.latency import search_with_latency

    emb = _t(spark, sf_dir, "embeddings")
    out = search_with_latency(
        emb, _query_batch(emb), TOPK, exclude_self=True
    )
    return out.select(
        F.col("query_id").cast("bigint"),
        F.col("rank").cast("bigint"),
        F.col("vec_id").cast("bigint"),
        F.round("sim", 9).alias("sim"),
    )


def q_search_latency_wallclock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nondeterministic half of the U3 latency capture (the reference's
    QueryResult.latency_ms, /root/reference/src/chroma.py:96-102): one
    row per query with the straggler-bound scatter-gather latency.
    Wall-clock → rows-only driver check BY DESIGN; the deterministic
    result rows are value-hash-checked via ``search_latency``."""
    from cs6300_vectordbs_spark.operators.latency import search_with_latency

    emb = _t(spark, sf_dir, "embeddings")
    out = search_with_latency(
        emb, _query_batch(emb), TOPK, exclude_self=True
    )
    return (
        out.groupBy(F.col("query_id").cast("bigint").alias("query_id"))
        .agg(
            F.max("latency_ms").alias("latency_ms"),
            F.count(F.lit(1)).cast("bigint").alias("n_results"),
        )
    )

_ORACLE_TOPK = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS vec_id, {_SQL_COSINE} AS sim
  FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}
), ranked AS (
  SELECT query_id, vec_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC)
           AS rank
  FROM scored
)
SELECT query_id, rank::BIGINT AS rank, vec_id, sim, 1.0 - sim AS dist
FROM ranked WHERE rank <= {TOPK}
"""

# search_latency's deterministic result rows: same ranking as the exact
# top-k oracle, minus dist, sim rounded (BLAS pairwise sum vs SQL
# sequential fold differ in the last ulp).
_ORACLE_SEARCH_LATENCY = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS vec_id, {_SQL_COSINE} AS sim
  FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}
), ranked AS (
  SELECT query_id, vec_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC)
           AS rank
  FROM scored
)
SELECT query_id, rank::BIGINT AS rank, vec_id, round(sim, 9) AS sim
FROM ranked WHERE rank <= {TOPK}
"""


def q_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar-quantized ANN (FAISS-SQ8 shape): integer-dot
    candidate ranking + exact re-rank. Deterministic end-to-end, so
    full value-hash oracle — the integer dots must match EXACTLY."""
    emb = _t(spark, sf_dir, "embeddings")
    out = sq8_topk(
        emb, _query_batch(emb), TOPK, dim=EMB_DIM,
        candidates_per_query=4 * TOPK, exclude_self=True,
    )
    return out.select(
        F.col("query_id").cast("bigint"),
        F.col("rank").cast("bigint"),
        F.col("vec_id").cast("bigint"),
        "sim",
        "q8_dot",
    )


_ORACLE_SQ8 = f"""
WITH scale AS (
  SELECT max(abs(x)) AS s
  FROM (SELECT unnest(embedding::DOUBLE[]) AS x FROM embeddings)
),
qz AS (
  SELECT vec_id, embedding,
         [least(greatest(round(x * 127.0 / s), -127.0), 127.0)::INTEGER
          for x in embedding::DOUBLE[]] AS q8
  FROM embeddings, scale
),
cand AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         list_dot_product(q.q8::DOUBLE[], c.q8::DOUBLE[])::BIGINT AS q8_dot,
         q.embedding AS qe, c.embedding AS ce
  FROM qz q JOIN qz c ON c.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
topc AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY q8_dot DESC, vec_id ASC) AS crank
  FROM cand
),
rer AS (
  SELECT query_id, vec_id, q8_dot,
         list_dot_product(qe::DOUBLE[], ce::DOUBLE[]) /
         (sqrt(list_dot_product(qe::DOUBLE[], qe::DOUBLE[]))
          * sqrt(list_dot_product(ce::DOUBLE[], ce::DOUBLE[]))) AS sim
  FROM topc WHERE crank <= {4 * TOPK}
),
final AS (
  SELECT query_id, vec_id, sim, q8_dot,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, vec_id ASC) AS rank
  FROM rer
)
SELECT query_id, rank::BIGINT AS rank, vec_id, sim, q8_dot
FROM final WHERE rank <= {TOPK}
"""


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label class prototypes, exploded to (label, dim, centroid)."""
    emb = _t(spark, sf_dir, "embeddings")
    return label_centroids(emb).select(
        F.col("label").cast("bigint"),
        F.col("dim").cast("bigint"),
        "centroid",
        F.col("n_vectors").cast("bigint"),
    )


_ORACLE_CENTROIDS = f"""
SELECT label::BIGINT AS label, j::BIGINT AS dim,
       round(avg(embedding[j + 1]::DOUBLE), 9) AS centroid,
       count(*)::BIGINT AS n_vectors
FROM embeddings
CROSS JOIN generate_series(0, {EMB_DIM - 1}) AS t(j)
GROUP BY label, j
"""


def q_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine >= 0.3 via the engine's all-pairs operator
    (operators/similarity.py pairwise_similarity): no driver collect
    anywhere in the plan — both sides shuffle into hash-block grid
    cells scored by the Arrow kernel, bit-identical to the oracle."""
    from cs6300_vectordbs_spark.operators.similarity import (
        pairwise_similarity,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return pairwise_similarity(emb, emb, min_sim=0.3).select(
        F.col("id_a").cast("bigint"), F.col("id_b").cast("bigint"), "sim"
    )


_ORACLE_PAIRS = f"""
SELECT q.vec_id AS id_a, e.vec_id AS id_b, {_SQL_COSINE} AS sim
FROM embeddings q JOIN embeddings e ON q.vec_id < e.vec_id
WHERE {_SQL_COSINE} >= 0.3
"""


# ---------------------------------------------------------------------------
# A1-A3 — latency metrics (events.value stands in for latency_ms)
# ---------------------------------------------------------------------------

def q_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    out = latency_percentiles(ev, "value")
    return out.select(
        F.round("p50", 9).alias("p50"),
        F.round("p95", 9).alias("p95"),
        F.round("p99", 9).alias("p99"),
    )


_ORACLE_PCT = """
SELECT round(quantile_cont(value, 0.5), 9) AS p50,
       round(quantile_cont(value, 0.95), 9) AS p95,
       round(quantile_cont(value, 0.99), 9) AS p99
FROM events
"""


def q_latency_percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    v = F.col("value").cast("double")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile(v, F.lit(0.5)), 9).alias("p50"),
        F.round(F.percentile(v, F.lit(0.95)), 9).alias("p95"),
        F.round(F.percentile(v, F.lit(0.99)), 9).alias("p99"),
    )


_ORACLE_PCT_TYPE = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 9) AS p50,
       round(quantile_cont(value, 0.95), 9) AS p95,
       round(quantile_cont(value, 0.99), 9) AS p99
FROM events GROUP BY event_type
"""


def q_latency_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    out = latency_summary(ev, "value")
    return out.select(
        F.round("avg_ms", 9).alias("avg_ms"),
        "min_ms",
        "max_ms",
        F.col("n_queries").cast("bigint").alias("n_queries"),
    )


_ORACLE_SUMMARY = """
SELECT round(avg(value), 9) AS avg_ms, min(value) AS min_ms,
       max(value) AS max_ms, count(*)::BIGINT AS n_queries
FROM events
"""


# ---------------------------------------------------------------------------
# A4-A6 — IR metrics over a deterministic judged-results table:
# top-5 search of the first 50 vectors, relevance = label match.
# ---------------------------------------------------------------------------

_N_IR_QUERIES = 50


def _judged_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    hits = similarity_topk(
        emb, _query_batch(emb, _N_IR_QUERIES), TOPK, exclude_self=True,
        dim=EMB_DIM,
    )
    labels = emb.select("vec_id", "label")
    qlab = labels.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
    )
    return (
        hits.join(labels, on="vec_id")
        .join(F.broadcast(qlab), on="query_id")
        .select(
            "query_id",
            "rank",
            F.col("vec_id"),
            label_judge("qlabel", "label").alias("is_relevant"),
        )
    )


_SQL_JUDGED = f"""
  scored AS (
    SELECT q.vec_id AS query_id, e.vec_id AS vec_id, q.label AS qlabel,
           e.label AS label, {_SQL_COSINE} AS sim
    FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
    WHERE q.vec_id < {_N_IR_QUERIES}
  ), ranked AS (
    SELECT query_id, vec_id, sim, qlabel, label,
           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC)
             AS rank
    FROM scored
  ), judged AS (
    SELECT query_id, rank, vec_id,
           CASE WHEN qlabel = label THEN 1 ELSE 0 END AS is_relevant
    FROM ranked WHERE rank <= {TOPK}
  )
"""


def q_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = recall_at_k(_judged_results(spark, sf_dir))
    return out.select(
        F.round("avg_recall", 9).alias("avg_recall"),
        F.col("n_queries_scored").cast("bigint").alias("n_queries_scored"),
    )


_ORACLE_RECALL = f"""
WITH {_SQL_JUDGED},
per_query AS (
  SELECT query_id, sum(is_relevant)::DOUBLE / count(*) AS recall,
         sum(is_relevant) AS n_relevant
  FROM judged GROUP BY query_id
)
SELECT round(coalesce(avg(recall), 0.0), 9) AS avg_recall,
       count(*)::BIGINT AS n_queries_scored
FROM per_query WHERE n_relevant > 0
"""


def q_recall_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = recall_at_k_per_query(_judged_results(spark, sf_dir))
    return out.select(
        F.col("query_id").cast("bigint"),
        F.col("recall"),
        F.col("n_relevant").cast("bigint").alias("n_relevant"),
    )


_ORACLE_RECALL_PQ = f"""
WITH {_SQL_JUDGED}
SELECT query_id, sum(is_relevant)::DOUBLE / count(*) AS recall,
       sum(is_relevant)::BIGINT AS n_relevant
FROM judged GROUP BY query_id
"""


def q_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ndcg_at_k(_judged_results(spark, sf_dir))
    return out.select(
        F.round("avg_ndcg", 9).alias("avg_ndcg"),
        F.col("n_queries_scored").cast("bigint").alias("n_queries_scored"),
    )


def q_mrr_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family completion: Mean Reciprocal Rank over the same judged
    top-k table recall/nDCG use (one more tiny aggregate on the shared
    lineage; nothing corpus-sized moves). Zero-relevant queries count
    as 0.0 (the nDCG inclusion convention). round(9) both sides: the
    macro-average sums reciprocals in engine-dependent order."""
    out = mrr_at_k(_judged_results(spark, sf_dir))
    return out.select(
        F.round("avg_mrr", 9).alias("avg_mrr"),
        F.col("n_queries_scored").cast("bigint").alias("n_queries_scored"),
    )


_ORACLE_MRR = f"""
WITH {_SQL_JUDGED},
per_query AS (
  SELECT query_id,
         min(CASE WHEN is_relevant = 1 THEN rank END) AS first_rel
  FROM judged GROUP BY query_id
)
SELECT round(avg(CASE WHEN first_rel IS NULL THEN 0.0
                      ELSE 1.0 / first_rel END), 9) AS avg_mrr,
       count(*)::BIGINT AS n_queries_scored
FROM per_query
"""


_ORACLE_NDCG = f"""
WITH {_SQL_JUDGED},
per_query AS (
  SELECT query_id,
         sum(is_relevant / log2(rank + 1.0)) AS dcg,
         sum(is_relevant) AS n_relevant
  FROM judged GROUP BY query_id
),
with_idcg AS (
  SELECT query_id, dcg, n_relevant,
         CASE WHEN n_relevant > 0 THEN
           (SELECT sum(1.0 / log2(i + 1.0))
            FROM unnest(generate_series(1, n_relevant::BIGINT)) AS t(i))
         ELSE 0.0 END AS idcg
  FROM per_query
)
SELECT round(avg(CASE WHEN n_relevant > 0 THEN dcg / idcg ELSE 0.0 END), 9)
         AS avg_ndcg,
       count(*)::BIGINT AS n_queries_scored
FROM with_idcg
"""


# ---------------------------------------------------------------------------
# Dedup family (north-star extension)
# ---------------------------------------------------------------------------

def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = exact_dedup(docs)
    return out.select(
        F.col("doc_id").cast("bigint"),
        F.col("dup_count").cast("bigint"),
        "fingerprint",
    )


_SQL_NORM_TEXT = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

_ORACLE_DEDUP = f"""
SELECT min(doc_id)::BIGINT AS doc_id, count(*)::BIGINT AS dup_count,
       substr(md5({_SQL_NORM_TEXT}), 1, 16) AS fingerprint
FROM documents
GROUP BY substr(md5({_SQL_NORM_TEXT}), 1, 16)
"""

# Shingle construction shared by the jaccard/minhash/simhash oracles.
# toks[i:i+n-1] is DuckDB's inclusive 1-based slice == Spark slice(toks, i, n).
def _sql_shingles(n: int, table: str = "documents") -> str:
    return f"""
  toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                       t -> t != '') AS tk
    FROM {table}
  ), shing AS (
    SELECT doc_id,
           list_distinct([array_to_string(tk[i:i+{n - 1}], ' ')
                          for i in generate_series(1, len(tk) - {n - 1})]) AS sh
    FROM toks
  )
"""


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, n=3, min_jaccard=0.3).select(
        F.col("id_a").cast("bigint"), F.col("id_b").cast("bigint"), "jaccard"
    )


_ORACLE_JACCARD = f"""
WITH {_sql_shingles(3)},
ex AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM shing),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
         count(*) AS n_inter
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b,
       n_inter::DOUBLE / (n_a + n_b - n_inter) AS jaccard
FROM inter WHERE n_inter::DOUBLE / (n_a + n_b - n_inter) >= 0.3
"""

_MH_HASHES = 16
_MH_BANDS = 4


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, num_hashes=_MH_HASHES, bands=_MH_BANDS, shingle_n=3,
        min_jaccard=0.3,
    ).select(
        F.col("id_a").cast("bigint"), F.col("id_b").cast("bigint"), "est_jaccard"
    )


def q_dedup_signatures_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED signature-table store (S9 create-if-absent,
    sources/dedup_index.ensure_signature_tables) serving the MinHash
    pair operator end-to-end: the session memo is CLEARED first (a
    fresh-session simulation), the store is ensured (built once per
    corpus version, reused after), its tables are primed into the
    memo, and ``minhash_lsh_pairs`` runs entirely off the stored
    signatures — the oracle is the full from-scratch MinHash recompute
    in DuckDB, so a wrong or stale stored table value-hash-fails here.
    This is the cross-session amortization path SCALING.md names: at
    cluster scale the signature write is one linear pass per corpus
    version, and every later job (pairs, composites, index builds)
    starts from the stored tables instead of the raw text."""
    from cs6300_vectordbs_spark.operators.dedup import (
        clear_exact_group_cache,
    )
    from cs6300_vectordbs_spark.sources.dedup_index import (
        ensure_signature_tables,
    )

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"{WAREHOUSE}/sig_store_{tag}"
    docs = _t(spark, sf_dir, "documents")
    clear_exact_group_cache()
    ensure_signature_tables(
        spark, docs, path,
        num_hashes=_MH_HASHES, shingle_n=3, ngram_n=3, simhash_n=2,
    )
    return minhash_lsh_pairs(
        docs, num_hashes=_MH_HASHES, bands=_MH_BANDS, shingle_n=3,
        min_jaccard=0.3,
    ).select(
        F.col("id_a").cast("bigint"), F.col("id_b").cast("bigint"), "est_jaccard"
    )


def q_dedup_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality evaluation for the MinHash-LSH dedup path —
    the dedup analog of ann_tuning_report: the banded-LSH candidate
    pairs (est_jaccard >= 0.3) scored against the EXACT n-gram Jaccard
    pair set at the same threshold, reported as precision/recall. Both
    sides are existing verified operators; the report is one pair-set
    join. Exact ratios of integer counts — no float policy needed
    beyond the division itself (identical operands both engines)."""
    docs = _t(spark, sf_dir, "documents")
    est = minhash_lsh_pairs(
        docs, num_hashes=_MH_HASHES, bands=_MH_BANDS, shingle_n=3,
        min_jaccard=0.3,
    ).select("id_a", "id_b").localCheckpoint(eager=True)
    exact = ngram_jaccard_pairs(docs, n=3, min_jaccard=0.3).select(
        "id_a", "id_b"
    ).localCheckpoint(eager=True)
    n_est = est.count()
    n_exact = exact.count()
    n_both = est.join(exact, on=["id_a", "id_b"], how="inner").count()
    precision = (n_both / n_est) if n_est else 0.0
    recall = (n_both / n_exact) if n_exact else 0.0
    return spark.createDataFrame(
        [(n_est, n_exact, n_both, precision, recall)],
        "n_est bigint, n_exact bigint, n_both bigint,"
        " precision double, recall double",
    )


def _oracle_dedup_quality() -> str:
    return f"""WITH {_minhash_ctes()},
eex AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM shing),
einter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
         count(*) AS n_inter
  FROM eex a JOIN eex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
),
exact AS (
  SELECT id_a, id_b FROM einter
  WHERE n_inter::DOUBLE / (n_a + n_b - n_inter) >= 0.3
),
est AS (SELECT id_a, id_b FROM pairs),
counts AS (
  SELECT (SELECT count(*) FROM est) AS n_est,
         (SELECT count(*) FROM exact) AS n_exact,
         (SELECT count(*) FROM est JOIN exact USING (id_a, id_b))
           AS n_both
)
SELECT n_est::BIGINT AS n_est, n_exact::BIGINT AS n_exact,
       n_both::BIGINT AS n_both,
       CASE WHEN n_est = 0 THEN 0.0
            ELSE n_both::DOUBLE / n_est END AS precision,
       CASE WHEN n_exact = 0 THEN 0.0
            ELSE n_both::DOUBLE / n_exact END AS recall
FROM counts
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (streaming-ingest) dedup: docs with doc_id % 10 == 0
    are the NEW batch; the rest are the already-deduped corpus behind a
    persisted MinHash-LSH band index (create-if-absent with
    content-addressed invalidation, sources/dedup_index.py). The probe
    computes signatures for the BATCH ONLY — O(batch), never
    O(corpus) — derives the probe bucket set driver-side, prunes the
    index scan to those partitions (dedup's analog of IVF cell
    pruning), and refines band collisions with the exact
    signature-equality estimate. Oracle: the full-recompute MinHash
    pair set restricted to new-vs-indexed pairs — identical signatures
    and band rule, so the sets match exactly."""
    from cs6300_vectordbs_spark.sources.dedup_index import (
        ensure_dedup_index,
        probe_dedup_index,
    )

    docs = _t(spark, sf_dir, "documents")
    indexed = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 10 == 0)
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"{WAREHOUSE}/dedup_index_{tag}"
    ensure_dedup_index(
        spark, indexed, path,
        num_hashes=_MH_HASHES, bands=_MH_BANDS, shingle_n=3,
    )
    out = probe_dedup_index(spark, new, path, min_jaccard=0.3)
    return out.select(
        F.col("new_id").cast("bigint"),
        F.col("indexed_id").cast("bigint"),
        "est_jaccard",
    )


def _oracle_incremental_dedup() -> str:
    return f"""WITH {_minhash_ctes()}
SELECT CASE WHEN id_a % 10 = 0 THEN id_a ELSE id_b END AS new_id,
       CASE WHEN id_a % 10 = 0 THEN id_b ELSE id_a END AS indexed_id,
       est_jaccard
FROM pairs
WHERE (id_a % 10 = 0) != (id_b % 10 = 0)
"""


def q_incremental_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of incremental_dedup: the new-batch documents
    arrive as a file STREAM; each micro-batch runs the persisted-index
    probe via foreachBatch (streaming/dedup_stream.py). Per-batch
    independence (probe is stream-vs-static-index only) makes the
    drained result identical to the batch probe — shares its full
    value-hash oracle."""
    from cs6300_vectordbs_spark.sources.dedup_index import (
        ensure_dedup_index,
    )
    from cs6300_vectordbs_spark.streaming.dedup_stream import (
        probe_doc_stream,
        read_doc_stream,
    )

    docs = _t(spark, sf_dir, "documents")
    indexed = docs.filter(F.col("doc_id") % 10 != 0)
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"{WAREHOUSE}/dedup_index_{tag}"
    ensure_dedup_index(
        spark, indexed, path,
        num_hashes=_MH_HASHES, bands=_MH_BANDS, shingle_n=3,
    )
    stream = read_doc_stream(spark, sf_dir).filter(
        F.col("doc_id") % 10 == 0
    )
    out = probe_doc_stream(spark, stream, path, min_jaccard=0.3)
    return out.select(
        F.col("new_id").cast("bigint"),
        F.col("indexed_id").cast("bigint"),
        "est_jaccard",
    )


def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-rate-vs-threshold curve — the tuning diagnostic a
    dedup pipeline runs before choosing its Jaccard cutoff: for each
    candidate threshold, how many pairs and how many distinct docs
    would be dropped. One MinHash pair-gen pass (threshold 0.3 floor),
    then a tiny conditional aggregate per threshold — the sweep costs
    one extra map over the pair set, not one LSH job per threshold."""
    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, num_hashes=_MH_HASHES, bands=_MH_BANDS, shingle_n=3,
        min_jaccard=0.3,
    ).localCheckpoint(eager=True)
    rows = []
    for thr in (0.3, 0.5, 0.7, 0.9):
        sel = pairs.filter(F.col("est_jaccard") >= thr)
        dropped = (
            sel.select(
                F.greatest("id_a", "id_b").alias("v")
            ).distinct().count()
        )
        n_pairs = sel.count()
        rows.append((thr, n_pairs, dropped))
    return spark.createDataFrame(
        rows, "threshold double, n_pairs bigint, n_docs_dropped bigint"
    )


def _oracle_dedup_sweep() -> str:
    return f"""WITH {_minhash_ctes()},
sweep AS (SELECT unnest([0.3, 0.5, 0.7, 0.9]) AS threshold)
SELECT s.threshold,
       count(p.id_a)::BIGINT AS n_pairs,
       count(DISTINCT CASE WHEN p.id_a IS NOT NULL
                           THEN greatest(p.id_a, p.id_b) END)::BIGINT
         AS n_docs_dropped
FROM sweep s LEFT JOIN pairs p ON p.est_jaccard >= s.threshold
GROUP BY s.threshold
"""


def q_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus contamination surface: near-duplicate pairs whose
    two documents come from DIFFERENT sources (the train-set vs
    web-crawl overlap question). Rides the MinHash LSH pair generation
    unchanged; the per-doc source attaches via two broadcast-joinable
    projections of the tiny (id, source) table, and the inequality
    filter runs after the equi-joins."""
    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, num_hashes=_MH_HASHES, bands=_MH_BANDS, shingle_n=3,
        min_jaccard=0.3,
    )
    src_a = docs.select(
        F.col("doc_id").alias("id_a"), F.col("source").alias("source_a")
    )
    src_b = docs.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("source_b")
    )
    return (
        pairs.join(src_a, on="id_a")
        .join(src_b, on="id_b")
        .filter(F.col("source_a") != F.col("source_b"))
        .select(
            F.col("id_a").cast("bigint"),
            F.col("id_b").cast("bigint"),
            "est_jaccard",
            "source_a",
            "source_b",
        )
    )


_SQL_H64 = "(('0x' || substr(md5('s' || {i} || '|' || s), 1, 15))::BIGINT)"

def _minhash_ctes() -> str:
    """CTE chain ending in ``pairs(id_a, id_b, est_jaccard)`` — shared
    by the minhash oracle and the cluster/clean-corpus oracles built
    on top of its pair set."""
    rows = _MH_HASHES // _MH_BANDS
    mins = ", ".join(
        f"min({_SQL_H64.format(i=i)}) AS h{i}" for i in range(_MH_HASHES)
    )
    band_keys = ", ".join(
        "md5(concat_ws(',', '%d', %s)) AS bk%d"
        % (b, ", ".join(f"h{i}::VARCHAR" for i in range(b * rows, (b + 1) * rows)), b)
        for b in range(_MH_BANDS)
    )
    eq_frac = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(_MH_HASHES)
    )
    return f"""{_sql_shingles(3)},
ex AS (SELECT doc_id, unnest(sh) AS s FROM shing WHERE len(sh) > 0),
sig AS (SELECT doc_id, {mins} FROM ex GROUP BY doc_id),
banded AS (SELECT doc_id, {band_keys}, * FROM sig),
long AS (
  SELECT doc_id, unnest([bk0, bk1, bk2, bk3]) AS band_key FROM banded
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM long a JOIN long b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT c.id_a, c.id_b, ({eq_frac})::DOUBLE / {_MH_HASHES} AS est_jaccard
  FROM cand c
  JOIN sig a ON a.doc_id = c.id_a
  JOIN sig b ON b.doc_id = c.id_b
  WHERE ({eq_frac})::DOUBLE / {_MH_HASHES} >= 0.3
)"""


def _oracle_minhash() -> str:
    return f"WITH {_minhash_ctes()}\nSELECT id_a, id_b, est_jaccard FROM pairs"


def _oracle_cross_source() -> str:
    return f"""WITH {_minhash_ctes()}
SELECT p.id_a, p.id_b, p.est_jaccard,
       da.source AS source_a, db.source AS source_b
FROM pairs p
JOIN documents da ON da.doc_id = p.id_a
JOIN documents db ON db.doc_id = p.id_b
WHERE da.source != db.source
"""


_LSH_CAP = 2


def q_lsh_capped_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH with BOTH hot-bucket guards live: exact-dup
    pre-collapse (operators/dedup._exact_groups) and the per-band-
    bucket cap. The cap keeps each band bucket's ``_LSH_CAP`` smallest
    rep ids — a DETERMINISTIC truncation (rank window over a unique
    total order), so the full pair set, recall loss included, is
    value-hash reproducible in DuckDB. At sf0.01 the largest bucket
    holds 3 reps, so cap=2 genuinely drops candidates at gate scale;
    at 100 TB this is the bound that keeps templated-boilerplate
    floods from detonating the banded self-join."""
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, num_hashes=_MH_HASHES, bands=_MH_BANDS, shingle_n=3,
        min_jaccard=0.3, collapse_exact=True, max_band_bucket=_LSH_CAP,
    ).select(
        F.col("id_a").cast("bigint"), F.col("id_b").cast("bigint"),
        "est_jaccard",
    )


def _oracle_lsh_capped() -> str:
    """Full SQL twin of the guarded LSH path: collapse identical
    normalized content to min-id reps, shingle/sign REPS only, cap
    each band bucket at _LSH_CAP by rep id, pair + threshold, then
    expand rep pairs to member pairs and add intra-group pairs at
    est_jaccard 1.0 (signature-identical by construction). At a
    dup-free SF the collapse is an identity map and the cap is the
    only behavior difference vs _oracle_minhash."""
    rows = _MH_HASHES // _MH_BANDS
    mins = ", ".join(
        f"min({_SQL_H64.format(i=i)}) AS h{i}" for i in range(_MH_HASHES)
    )
    band_keys = ", ".join(
        "md5(concat_ws(',', '%d', %s)) AS bk%d"
        % (b, ", ".join(f"h{i}::VARCHAR" for i in range(b * rows, (b + 1) * rows)), b)
        for b in range(_MH_BANDS)
    )
    eq_frac = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(_MH_HASHES)
    )
    return f"""WITH grp AS (
  SELECT doc_id,
         coalesce(substr(md5({_SQL_NORM_TEXT}), 1, 16), '__null__') AS fp
  FROM documents
),
groups AS (SELECT fp, min(doc_id) AS rep_id FROM grp GROUP BY fp),
members AS (
  SELECT g.doc_id AS id, gr.rep_id FROM grp g JOIN groups gr USING (fp)
),
reps AS (
  SELECT d.doc_id, d.text FROM documents d
  JOIN groups g ON d.doc_id = g.rep_id
),
{_sql_shingles(3, table="reps")},
ex AS (SELECT doc_id, unnest(sh) AS s FROM shing WHERE len(sh) > 0),
sig AS (SELECT doc_id, {mins} FROM ex GROUP BY doc_id),
banded AS (SELECT doc_id, {band_keys}, * FROM sig),
long AS (
  SELECT doc_id, unnest([bk0, bk1, bk2, bk3]) AS band_key FROM banded
),
capped AS (
  SELECT doc_id, band_key FROM (
    SELECT doc_id, band_key,
           row_number() OVER (PARTITION BY band_key ORDER BY doc_id) AS rk
    FROM long
  ) WHERE rk <= {_LSH_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM capped a JOIN capped b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT c.id_a, c.id_b, ({eq_frac})::DOUBLE / {_MH_HASHES} AS est_jaccard
  FROM cand c
  JOIN sig a ON a.doc_id = c.id_a
  JOIN sig b ON b.doc_id = c.id_b
  WHERE ({eq_frac})::DOUBLE / {_MH_HASHES} >= 0.3
),
inter AS (
  SELECT least(ma.id, mb.id) AS id_a, greatest(ma.id, mb.id) AS id_b,
         p.est_jaccard
  FROM pairs p
  JOIN members ma ON ma.rep_id = p.id_a
  JOIN members mb ON mb.rep_id = p.id_b
),
intra AS (
  SELECT a.id AS id_a, b.id AS id_b, 1.0::DOUBLE AS est_jaccard
  FROM members a
  JOIN members b ON a.rep_id = b.rep_id AND a.id < b.id
  WHERE a.rep_id IN (SELECT doc_id FROM sig)
)
SELECT id_a, id_b, est_jaccard FROM inter
UNION ALL
SELECT id_a, id_b, est_jaccard FROM intra
"""


# Transitive closure of the near-dup pair graph (both directions), then
# component id = min reachable node. UNION (not UNION ALL) dedupes the
# frontier so the recursion terminates.
_SQL_CLOSURE = """
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)"""


def q_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = simhash_buckets(docs, n=2)
    return out.select(
        "simhash", F.col("min_id").cast("bigint"), F.col("dup_count").cast("bigint")
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs within hamming<=3 of the 64-bit SimHash. The
    4x16-bit band equi-join is recall-EXACT for <=3 differing bits
    (pigeonhole), so the brute-force all-pairs DuckDB twin is a full
    value-hash oracle, not a rows-only check."""
    from cs6300_vectordbs_spark.operators.dedup import simhash_pairs

    docs = _t(spark, sf_dir, "documents")
    return simhash_pairs(docs, n=2, max_hamming=3).select(
        F.col("id_a").cast("bigint"),
        F.col("id_b").cast("bigint"),
        "hamming",
    )


_SQL_SIMHASH_CTES = f"""
WITH {_sql_shingles(2)},
ex AS (SELECT doc_id, unnest(sh) AS s FROM shing),
bits AS (
  SELECT doc_id, p.p,
         ((strpos('0123456789abcdef', substr(md5(s), (p.p // 4) + 1, 1)) - 1)
          // (1 << (p.p % 4))) % 2 AS bit
  FROM ex CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS p) p
),
votes AS (
  SELECT doc_id, p, sum(2 * bit - 1) AS v FROM bits GROUP BY doc_id, p
),
fp AS (
  SELECT doc_id,
         sum(CASE WHEN v > 0 THEN
               (CASE WHEN p < 63 THEN (1::BIGINT << p)
                     ELSE -9223372036854775808 END)
             ELSE 0 END)::BIGINT AS simhash
  FROM votes GROUP BY doc_id
),
all_docs AS (
  SELECT d.doc_id, coalesce(fp.simhash, 0) AS simhash
  FROM documents d LEFT JOIN fp ON d.doc_id = fp.doc_id
)
"""

_ORACLE_SIMHASH = (
    _SQL_SIMHASH_CTES
    + """
SELECT simhash, min(doc_id)::BIGINT AS min_id, count(*)::BIGINT AS dup_count
FROM all_docs GROUP BY simhash
"""
)

# Brute-force all-pairs hamming twin: valid as a FULL oracle because
# the banded candidate generation is recall-exact for hamming <= 3.
_ORACLE_SIMHASH_PAIRS = (
    _SQL_SIMHASH_CTES
    + """
SELECT a.doc_id::BIGINT AS id_a, b.doc_id::BIGINT AS id_b,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM all_docs a JOIN all_docs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""
)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs (cosine >= 0.35) on the same
    fully-distributed grid plan as cosine_pairs — the exact small-scale
    oracle for the MinHash/SimHash/LSH candidate paths, now with no
    driver-side collect in its own plan either."""
    from cs6300_vectordbs_spark.operators.similarity import (
        pairwise_similarity,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return pairwise_similarity(emb, emb, min_sim=0.35).select(
        F.col("id_a").cast("bigint"), F.col("id_b").cast("bigint"), "sim"
    )


_ORACLE_NEARDUP = f"""
SELECT q.vec_id AS id_a, e.vec_id AS id_b, {_SQL_COSINE} AS sim
FROM embeddings q JOIN embeddings e ON q.vec_id < e.vec_id
WHERE {_SQL_COSINE} >= 0.35
"""


_NEARDUP_IVF_SIM = 0.35


def q_embedding_neardup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via IVF-cell blocking — the SCALE path
    for semantic dedup (operators/ann.py ivf_neardup_pairs). The
    all-pairs operator behind embedding_neardup computes O(N^2)
    cosines; here only same-cell pairs are scored, ~N^2/n_cells for
    balanced cells — the embedding-space analogue of MinHash banding.
    Same threshold as embedding_neardup so the two registrations
    bracket the recall story (tests assert the IVF pair set is a
    subset of the exact set with high recall at high thresholds);
    fully deterministic -> full value-hash oracle."""
    from cs6300_vectordbs_spark.operators.ann import ivf_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_neardup_pairs(
        emb, dim=EMB_DIM, n_cells=_IVF_CELLS, min_sim=_NEARDUP_IVF_SIM
    ).select(
        F.col("id_a").cast("bigint"), F.col("id_b").cast("bigint"), "sim"
    )


def _oracle_neardup_ivf() -> str:
    return f"""
WITH {_sql_ivf_cells()}
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {_sql_cos('a.embedding', 'b.embedding')} AS sim
FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
WHERE {_sql_cos('a.embedding', 'b.embedding')} >= {_NEARDUP_IVF_SIM!r}
"""


# ---------------------------------------------------------------------------
# V5 — upsert; T3 — sampling
# ---------------------------------------------------------------------------

def q_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    updates = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
        "text", F.concat(F.col("text"), F.lit(" v2"))
    )
    out = upsert_latest(docs, updates, key="doc_id")
    return out.select(
        F.col("doc_id").cast("bigint"), "text", "lang", "source",
        F.col("n_chars").cast("bigint"),
    )


_ORACLE_UPSERT = """
SELECT doc_id,
       CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text,
       lang, source, n_chars::BIGINT AS n_chars
FROM documents
"""


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = hash_sample(docs, "doc_id", pct=10)
    return out.select(
        F.col("doc_id").cast("bigint"), "text", "lang", "source",
        F.col("n_chars").cast("bigint"),
    )


_ORACLE_SAMPLE = """
SELECT doc_id, text, lang, source, n_chars::BIGINT AS n_chars
FROM documents
WHERE ((doc_id % 2147483648) * 2654435761) % 4294967296 % 100 < 10
"""


# ---------------------------------------------------------------------------
# Text analysis (F-family + north-star)
# ---------------------------------------------------------------------------

def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("bigint"),
        token_count("text").cast("bigint").alias("n_tokens"),
        F.round(quality_score("text"), 9).alias("quality"),
        lang_id("text").alias("lang_guess"),
        doc_fingerprint("text").alias("fingerprint"),
    )


def q_knn_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN graph construction + integer-exact graph analytics — the
    backbone structure of graph-ANN indexes (HNSW/NN-descent) and of
    graph-based dedup. Every vector's exact top-3 neighbors form
    directed edges; the union-symmetrized undirected graph gets
    per-node degree and triangle membership counts (a<b<c join —
    each triangle counted once per corner). All outputs are INTEGERS,
    so the oracle needs no float policy at all. Scale shape: the graph
    build is the exact top-k's grid plan (no all-pairs
    materialization beyond the per-query top-k); the triangle
    join is three equi-joins on a table of O(N*k) edges."""
    # All-vectors-as-queries: the grid plan (inside _knn_edges) shards
    # BOTH sides (the query side is corpus-sized here, so broadcasting/
    # collecting it is exactly the thing that dies at 100x) — per-cell
    # local top-k, one exact window over O(GRID_BLOCKS * k) candidates
    # per query.
    edges = _knn_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    e1 = edges.select(F.col("a"), F.col("b"))
    e2 = edges.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = edges.select(F.col("a").alias("ta"), F.col("b").alias("c2"))
    tri = (
        e1.join(e2, on="b")
        .join(e3, (F.col("a") == F.col("ta")) & (F.col("c") == F.col("c2")))
        .select("a", "b", "c")
    )
    tri_counts = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(tri_counts, on="v", how="left")
        .select(
            F.col("v").cast("bigint").alias("vec_id"),
            F.col("degree").cast("bigint").alias("degree"),
            F.coalesce("n_triangles", F.lit(0))
            .cast("bigint")
            .alias("n_triangles"),
        )
    )




def _knn_edges(spark: SparkSession, sf_dir: str):
    """Symmetric exact-top-3 kNN edges (a < b) — shared by the graph
    analytics and PageRank queries."""
    from cs6300_vectordbs_spark.operators.similarity import knn_edges

    emb = _t(spark, sf_dir, "embeddings")
    return knn_edges(emb, 3).localCheckpoint(eager=True)


def q_pagerank_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the kNN similarity graph — the centrality signal
    graph-based data-curation uses to pick representative documents
    (and the second iterative-dataflow operator next to connected
    components). Five fixed power iterations, damping 0.85, uniform
    teleport; the undirected kNN graph has no dangling nodes (every
    vertex has >= 1 edge), so mass is conserved up to teleport.

    Scale shape per iteration: one equi-join of ranks onto the
    directed edge list + one groupBy-sum — two shuffles over O(N*k)
    edges with map-side combine, lineage truncated per round
    (localCheckpoint), counts never reach the driver. The oracle runs
    the identical five iterations as chained CTEs; output rounds to
    9 dp (values ~1/N; float association noise is ~1e-15 relative)."""
    edges = _knn_edges(spark, sf_dir)
    dirs = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(
        edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = dirs.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    n = deg.count()
    d = 0.85
    # Teleport numerator is the LITERAL 0.15, not (1.0 - 0.85): the
    # Python subtraction yields 0.15000000000000002 while the oracle's
    # SQL constant parses to double 0.15 — a 1-ulp numerator mismatch
    # that round(9) only masks (r03 advisory).
    teleport = 0.15 / n
    ranks = deg.select("src", F.lit(1.0 / n).alias("rank"))
    # Materialize (src, dst, degree) once — only ranks changes per
    # iteration; without this every round re-runs the union + degree
    # aggregate + join from the edges checkpoint.
    contrib_edges = dirs.join(deg, on="src").localCheckpoint(eager=True)
    for _ in range(5):
        contrib = (
            contrib_edges.join(ranks, on="src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("degree")).alias("c"))
        )
        ranks = (
            deg.join(contrib, deg["src"] == contrib["dst"], "left")
            .select(
                "src",
                (
                    F.lit(teleport)
                    + F.lit(d) * F.coalesce("c", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select(
        F.col("src").cast("bigint").alias("vec_id"),
        F.round("rank", 9).alias("pagerank"),
    )


def _oracle_pagerank() -> str:
    # _SQL_KNN3: memory-lean kNN build (norms factored per vector,
    # pairs projected to scalars before the QUALIFY window) — the
    # naive form OOM'd DuckDB at sf0.1 materializing 25M array pairs.
    knn_edges = f"""{_SQL_KNN3}
edges AS (
  SELECT DISTINCT least(query_id, vec_id) AS a,
                  greatest(query_id, vec_id) AS b
  FROM knn
),
dir AS (SELECT a AS src, b AS dst FROM edges
        UNION ALL SELECT b, a FROM edges),
deg AS (SELECT src, count(*) AS degree FROM dir GROUP BY src),
nn AS (SELECT count(*)::DOUBLE AS n FROM deg),
r0 AS (SELECT src, 1.0 / (SELECT n FROM nn) AS rank FROM deg)"""
    iters = []
    for i in range(5):
        iters.append(f"""
r{i + 1} AS (
  SELECT d.src,
         0.15 / (SELECT n FROM nn)
         + 0.85 * coalesce(s.c, 0.0) AS rank
  FROM deg d LEFT JOIN (
    SELECT e.dst, sum(r.rank / g.degree) AS c
    FROM dir e
    JOIN r{i} r ON e.src = r.src
    JOIN deg g ON e.src = g.src
    GROUP BY e.dst
  ) s ON s.dst = d.src
)""")
    return (
        "WITH " + knn_edges + "," + ",".join(iters)
        + "\nSELECT src AS vec_id, round(rank, 9) AS pagerank FROM r5"
    )


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram statistics — the n-gram LM table a data pipeline
    derives for quality filtering and generation-contamination checks:
    top-3 next tokens per token with conditional probability. Bigrams
    come from the same codegen posexplode+lead pipeline as dedup
    shingles; counts aggregate with map-side combine on (w1, w2); the
    per-w1 top-3 is WindowGroupLimit (partial top-n before the
    shuffle). P(w2|w1) = exact integer ratio -> identical doubles in
    any engine."""
    from pyspark.sql.window import Window

    from cs6300_vectordbs_spark.operators.dedup import shingle_rows

    docs = _t(spark, sf_dir, "documents")
    grams = shingle_rows(docs, n=2, distinct=False).select(
        F.split("s", " ").alias("p")
    )
    pairs = grams.select(
        F.col("p")[0].alias("w1"), F.col("p")[1].alias("w2")
    )
    counts = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.groupBy("w1").agg(F.sum("n").alias("n_w1"))
    w = Window.partitionBy("w1").orderBy(F.col("n").desc(), F.col("w2").asc())
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .join(tot, on="w1")
        .select(
            "w1",
            F.col("rnk").cast("bigint").alias("rnk"),
            "w2",
            F.col("n").cast("bigint").alias("n"),
            (F.col("n").cast("double") / F.col("n_w1")).alias("p_next"),
        )
    )


_ORACLE_BIGRAM_LM = f"""
WITH {_sql_shingles(2)},
pairs AS (
  SELECT string_split(unnest(sh_all), ' ') AS p
  FROM (SELECT doc_id,
               [array_to_string(tk[i:i+1], ' ')
                for i in generate_series(1, len(tk) - 1)] AS sh_all
        FROM toks)
),
counts AS (
  SELECT p[1] AS w1, p[2] AS w2, count(*) AS n
  FROM pairs GROUP BY 1, 2
),
tot AS (SELECT w1, sum(n) AS n_w1 FROM counts GROUP BY w1),
ranked AS (
  SELECT w1, w2, n,
         row_number() OVER (PARTITION BY w1 ORDER BY n DESC, w2 ASC) AS rnk
  FROM counts
)
SELECT r.w1, r.rnk::BIGINT AS rnk, r.w2, r.n::BIGINT AS n,
       r.n::DOUBLE / t.n_w1 AS p_next
FROM ranked r JOIN tot t ON r.w1 = t.w1
WHERE r.rnk <= 3
"""


def q_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile quality stratification of the corpus — the "keep the top
    decile" curation primitive. Orders by the (already oracle-verified)
    rounded quality score with doc_id tie-break (a total order, so both
    engines agree exactly). Uses operators/quality.exact_ntile: range
    exchange + per-partition row_number + prefix-sum offsets — the
    bit-identical distributed form of ntile(10) OVER (ORDER BY ...),
    with NO Exchange SinglePartition anywhere in the plan (the global-
    window form serializes the whole corpus through one reducer)."""
    from cs6300_vectordbs_spark.operators.quality import exact_ntile

    # Project to (doc_id, quality) BEFORE the ntile: exact_ntile's
    # localCheckpoint is a pruning barrier, so without this the range
    # shuffle + checkpoint would compute and materialize every
    # doc_stats column (lang_id, fingerprint, token_count — all
    # regex-heavy) that the decile rollup never reads.
    stats = q_doc_stats(spark, sf_dir).select("doc_id", "quality")
    return (
        exact_ntile(stats, ["quality", "doc_id"], 10, out_col="decile")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("quality"), 9).alias("avg_quality"),
            F.min("quality").alias("min_quality"),
            F.max("quality").alias("max_quality"),
        )
        .orderBy("decile")
    )


_SQL_TOKS = "list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t != '')"

_ORACLE_DOC_STATS = f"""
WITH base AS (
  SELECT doc_id, text, {_SQL_TOKS} AS tk,
         len(text) AS nchar,
         len(text) - len(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS npunct
  FROM documents
), counts AS (
  SELECT doc_id, text, nchar, npunct, len(tk) AS ntok,
    len(list_filter(tk, t -> list_contains(
      ['the','a','an','and','or','of','to','in','is','it'], t))) AS nstop,
    len(list_filter(tk, t -> list_contains(['the','and','of','to','is'], t))) AS n_en,
    len(list_filter(tk, t -> list_contains(['el','la','de','que','los'], t))) AS n_es,
    len(list_filter(tk, t -> list_contains(['der','die','und','das','ist'], t))) AS n_de,
    len(list_filter(tk, t -> list_contains(['le','la','les','des','est'], t))) AS n_fr
  FROM base
)
SELECT doc_id, ntok::BIGINT AS n_tokens,
  round(
    0.4 * (least(ntok, 100)::DOUBLE / 100.0)
    + 0.3 * least((CASE WHEN ntok > 0 THEN nstop::DOUBLE / ntok ELSE 0.0 END) * 5.0, 1.0)
    + 0.3 * (1.0 - (CASE WHEN nchar > 0 THEN npunct::DOUBLE / nchar ELSE 0.0 END)),
  9) AS quality,
  CASE WHEN greatest(n_de, n_en, n_es, n_fr) > 0 THEN
    CASE greatest(n_de, n_en, n_es, n_fr)
      WHEN n_de THEN 'de' WHEN n_en THEN 'en'
      WHEN n_es THEN 'es' ELSE 'fr' END
  ELSE 'und' END AS lang_guess,
  substr(md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))), 1, 16)
    AS fingerprint
FROM counts
"""


_ORACLE_QUALITY_DECILES = f"""
WITH stats AS ({_ORACLE_DOC_STATS})
SELECT decile, count(*)::BIGINT AS n_docs,
       round(avg(quality), 9) AS avg_quality,
       min(quality) AS min_quality,
       max(quality) AS max_quality
FROM (
  SELECT doc_id, quality,
         ntile(10) OVER (ORDER BY quality ASC, doc_id ASC)::BIGINT AS decile
  FROM stats
)
GROUP BY decile
ORDER BY decile
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document (dup-token,
    dup-bigram, top-bigram fractions). All fractions are single IEEE
    divisions of exact integer aggregates — bit-exact cross-engine."""
    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(docs).select(
        F.col("doc_id").cast("bigint"),
        "n_tokens",
        "dup_token_frac",
        "dup_bigram_frac",
        "top_bigram_frac",
    )


_ORACLE_REPETITION = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKS} AS tk FROM documents
),
tok_tf AS (
  SELECT doc_id, tok, count(*) AS tf
  FROM (SELECT doc_id, unnest(tk) AS tok FROM toks)
  GROUP BY doc_id, tok
),
tok_stats AS (
  SELECT doc_id, sum(tf) AS n_tokens, count(*) AS n_distinct
  FROM tok_tf GROUP BY doc_id
),
bi_tf AS (
  SELECT doc_id, s, count(*) AS tf
  FROM (
    SELECT doc_id,
           unnest([array_to_string(tk[i:i+1], ' ')
                   for i in generate_series(1, len(tk) - 1)]) AS s
    FROM toks
  )
  GROUP BY doc_id, s
),
bi_stats AS (
  SELECT doc_id, sum(tf) AS n_bigrams, count(*) AS n_distinct_bi,
         max(tf) AS top_bi
  FROM bi_tf GROUP BY doc_id
)
SELECT d.doc_id,
  coalesce(t.n_tokens, 0)::BIGINT AS n_tokens,
  CASE WHEN coalesce(t.n_tokens, 0) > 0
       THEN 1.0 - t.n_distinct::DOUBLE / t.n_tokens::DOUBLE
       ELSE 0.0 END AS dup_token_frac,
  CASE WHEN coalesce(b.n_bigrams, 0) > 0
       THEN 1.0 - b.n_distinct_bi::DOUBLE / b.n_bigrams::DOUBLE
       ELSE 0.0 END AS dup_bigram_frac,
  CASE WHEN coalesce(b.n_bigrams, 0) > 0
       THEN b.top_bi::DOUBLE / b.n_bigrams::DOUBLE
       ELSE 0.0 END AS top_bigram_frac
FROM documents d
LEFT JOIN tok_stats t USING (doc_id)
LEFT JOIN bi_stats b USING (doc_id)
"""


def q_clean_markup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup scrub (functions/text.strip_markup): the corpus text is
    plain, so wrap each document in deterministic HTML — tags keyed to
    doc_id, entity-encoded punctuation, a tag split mid-text — then
    strip. Proves tag removal, entity decoding (order-sensitive:
    entities AFTER tags, '&amp;' last), whitespace collapse, and that
    tag boundaries never glue words. Map-only plan, parquet-scan
    speed; the oracle builds the identical dirty text and runs the
    same Java-and-RE2-compatible patterns."""
    from cs6300_vectordbs_spark.functions.text import strip_markup

    docs = _t(spark, sf_dir, "documents")
    dirty = F.concat(
        F.lit('<html><body><p id="'), F.col("doc_id"), F.lit('">'),
        F.substring("text", 1, 80),
        F.lit("</p><p>"),
        F.substring("text", 81, 80),
        F.lit(' &amp; <b class="x">tail</b> &lt;raw&gt; &quot;q&quot;&nbsp;end</body></html>'),
    )
    return docs.select(
        F.col("doc_id").cast("bigint"),
        strip_markup(dirty).alias("clean_text"),
        (F.length(dirty) - F.length(strip_markup(dirty)))
        .cast("bigint")
        .alias("n_removed"),
    )


_ORACLE_CLEAN_MARKUP = r"""
WITH dirty AS (
  SELECT doc_id,
         '<html><body><p id="' || doc_id || '">'
         || substr(text, 1, 80) || '</p><p>' || substr(text, 81, 80)
         || ' &amp; <b class="x">tail</b> &lt;raw&gt; &quot;q&quot;&nbsp;end</body></html>'
           AS d
  FROM documents
),
stripped AS (
  SELECT doc_id, d,
         trim(regexp_replace(
           replace(replace(replace(replace(replace(replace(
             regexp_replace(d, '<[^>]*>', ' ', 'g'),
             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
             '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
           '\s+', ' ', 'g')) AS clean_text
  FROM dirty
)
SELECT doc_id, clean_text,
       (len(d) - len(clean_text))::BIGINT AS n_removed
FROM stripped
"""


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: the corpus text is clean, so inject deterministic PII
    (an email, a URL carrying the doc_id, a 9-digit run) per document,
    then redact. Proves the scrub actually fires — the oracle builds
    the identical dirty text and must agree on every replacement.
    Map-only plan: no shuffle, runs at parquet-scan speed."""
    docs = _t(spark, sf_dir, "documents")
    dirty = F.concat_ws(
        " ",
        F.col("text"),
        F.concat(F.lit("contact-"), F.col("doc_id"), F.lit("@example.com")),
        F.concat(F.lit("http://site.example/p/"), F.col("doc_id")),
        F.lpad(F.col("doc_id"), 9, "0"),
    )
    return docs.select(
        F.col("doc_id").cast("bigint"),
        redact_pii(dirty).alias("clean_text"),
        pii_count(dirty).cast("bigint").alias("n_pii"),
    )


_ORACLE_REDACT = r"""
WITH dirty AS (
  -- concat_ws (NOT ||): Spark's concat_ws skips NULL text, so a
  -- NULL-text document still gets its injected PII redacted instead
  -- of NULL-propagating the whole row.
  SELECT doc_id,
         concat_ws(' ', text,
                   'contact-' || doc_id || '@example.com',
                   'http://site.example/p/' || doc_id,
                   lpad(doc_id::VARCHAR, 9, '0')) AS d
  FROM documents
),
s1 AS (
  SELECT doc_id, d,
         regexp_replace(d, 'https?://[^\s]+', '<URL>', 'g') AS t1
  FROM dirty
),
s2 AS (
  SELECT doc_id, d, t1,
         regexp_replace(t1,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
           '<EMAIL>', 'g') AS t2
  FROM s1
)
SELECT doc_id,
  regexp_replace(t2, '\d{7,}', '<NUM>', 'g') AS clean_text,
  ( len(regexp_extract_all(d,  'https?://[^\s]+'))
  + len(regexp_extract_all(t1,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
  + len(regexp_extract_all(t2, '\d{7,}'))
  )::BIGINT AS n_pii
FROM s2
"""


def q_gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable gap-fill: dense per-type hourly grid with zero-fill
    and LOCF. Raw events are touched once (partial-agg bucketing);
    densify/LOCF run on the tiny aggregated grid."""
    out = gap_fill_hourly(read_events(spark, sf_dir))
    return out.select(
        "event_type",
        F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        F.col("n_events").cast("bigint"),
        "sum_value",
        "locf_sum",
    )


_ORACLE_GAP_FILL = """
WITH agg AS (
  SELECT event_type AS k, date_trunc('hour', ts::TIMESTAMP) AS hour,
         count(*) AS n_events, round(sum(value), 9) AS sum_value
  FROM events GROUP BY 1, 2
),
spans AS (SELECT k, min(hour) AS h0, max(hour) AS h1 FROM agg GROUP BY k),
dense AS (
  SELECT k, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
  FROM spans
)
SELECT d.k AS event_type,
       strftime(d.hour, '%Y-%m-%d %H:%M:%S') AS hour_start,
       coalesce(a.n_events, 0)::BIGINT AS n_events,
       coalesce(a.sum_value, 0.0) AS sum_value,
       last_value(a.sum_value IGNORE NULLS) OVER (
         PARTITION BY d.k ORDER BY d.hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_sum
FROM dense d LEFT JOIN agg a ON a.k = d.k AND a.hour = d.hour
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish pre-tokenizer token counts per document
    (the brief's two token-counting modes side by side). Map-only."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("bigint"),
        token_count("text").cast("bigint").alias("n_ws_tokens"),
        bpe_token_count("text").cast("bigint").alias("n_bpe_tokens"),
    )


_ORACLE_TOKEN_COUNTS = f"""
SELECT doc_id,
  len({_SQL_TOKS})::BIGINT AS n_ws_tokens,
  len(regexp_extract_all(text,
    '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+'
  ))::BIGINT AS n_bpe_tokens
FROM documents
"""


def q_rolling_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 24h moving count/rate per event type over the dense
    gap-filled grid. Integer window sums -> exact in any engine."""
    dense = gap_fill_hourly(read_events(spark, sf_dir))
    out = rolling_hourly(dense, window_hours=24)
    return out.select(
        "event_type",
        F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        F.col("n_events").cast("bigint"),
        "rolling_events",
        "rolling_rate",
    )


_ORACLE_ROLLING = """
WITH agg AS (
  SELECT event_type AS k, date_trunc('hour', ts::TIMESTAMP) AS hour,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
),
spans AS (SELECT k, min(hour) AS h0, max(hour) AS h1 FROM agg GROUP BY k),
dense AS (
  SELECT k, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
  FROM spans
),
grid AS (
  SELECT d.k, d.hour, coalesce(a.n_events, 0) AS n_events
  FROM dense d LEFT JOIN agg a ON a.k = d.k AND a.hour = d.hour
)
SELECT k AS event_type,
       strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour_start,
       n_events::BIGINT AS n_events,
       sum(n_events) OVER w::BIGINT AS rolling_events,
       (sum(n_events) OVER w::DOUBLE / 24.0) AS rolling_rate
FROM grid
WINDOW w AS (PARTITION BY k ORDER BY hour
             ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
"""


_FUNNEL_STEPS = ("view", "click", "purchase")


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view->click->purchase: strict event-time chaining,
    one min(ts) aggregate per step, all shuffles on user_id."""
    return funnel_conversions(read_events(spark, sf_dir), _FUNNEL_STEPS)


def q_funnel_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion cross-classified by customer segment: the
    per-user earliest-completion table (one row per entering user)
    joins the broadcast customer dimension, then one grouped aggregate
    counts survivors per step. Rates are single IEEE divides of exact
    integer counts per segment."""
    from cs6300_vectordbs_spark.operators.funnel import funnel_steps

    per_user = funnel_steps(read_events(spark, sf_dir), _FUNNEL_STEPS)
    seg = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    counts = (
        per_user.join(F.broadcast(seg), on="user_id")
        .groupBy("c_mktsegment")
        .agg(
            *[
                F.count(f"t{i + 1}").cast("bigint").alias(f"n{i + 1}")
                for i in range(len(_FUNNEL_STEPS))
            ]
        )
    )
    rows = None
    for i, name in enumerate(_FUNNEL_STEPS):
        n = F.col(f"n{i + 1}")
        prev = F.col(f"n{i}") if i else F.col("n1")
        r = counts.select(
            "c_mktsegment",
            F.lit(i + 1).cast("bigint").alias("step"),
            F.lit(name).alias("event_type"),
            n.alias("n_users"),
            F.when(prev > 0, n.cast("double") / prev.cast("double"))
            .otherwise(F.lit(0.0))
            .alias("rate_from_prev"),
            F.when(F.col("n1") > 0, n.cast("double") / F.col("n1").cast("double"))
            .otherwise(F.lit(0.0))
            .alias("rate_from_first"),
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows


_ORACLE_FUNNEL_SEG = """
WITH s1 AS (
  SELECT user_id, min(ts::TIMESTAMP) AS t1
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts::TIMESTAMP) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts::TIMESTAMP > s1.t1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts::TIMESTAMP) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts::TIMESTAMP > s2.t2
  GROUP BY e.user_id
),
c AS (
  SELECT c_mktsegment,
         count(s1.t1) AS n1, count(s2.t2) AS n2, count(s3.t3) AS n3
  FROM s1
  LEFT JOIN s2 ON s1.user_id = s2.user_id
  LEFT JOIN s3 ON s1.user_id = s3.user_id
  JOIN customer ON s1.user_id = c_custkey
  GROUP BY c_mktsegment
)
SELECT c_mktsegment, 1::BIGINT AS step, 'view' AS event_type,
       n1::BIGINT AS n_users,
       CASE WHEN n1 > 0 THEN 1.0 ELSE 0.0 END AS rate_from_prev,
       CASE WHEN n1 > 0 THEN 1.0 ELSE 0.0 END AS rate_from_first
FROM c
UNION ALL
SELECT c_mktsegment, 2, 'click', n2,
       CASE WHEN n1 > 0 THEN n2::DOUBLE / n1 ELSE 0.0 END,
       CASE WHEN n1 > 0 THEN n2::DOUBLE / n1 ELSE 0.0 END
FROM c
UNION ALL
SELECT c_mktsegment, 3, 'purchase', n3,
       CASE WHEN n2 > 0 THEN n3::DOUBLE / n2 ELSE 0.0 END,
       CASE WHEN n1 > 0 THEN n3::DOUBLE / n1 ELSE 0.0 END
FROM c
"""


_ORACLE_FUNNEL = """
WITH s1 AS (
  SELECT user_id, min(ts::TIMESTAMP) AS t1
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts::TIMESTAMP) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts::TIMESTAMP > s1.t1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts::TIMESTAMP) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts::TIMESTAMP > s2.t2
  GROUP BY e.user_id
),
c AS (
  SELECT (SELECT count(*) FROM s1) AS n1,
         (SELECT count(*) FROM s2) AS n2,
         (SELECT count(*) FROM s3) AS n3
)
SELECT 1::BIGINT AS step, 'view' AS event_type, n1::BIGINT AS n_users,
       CASE WHEN n1 > 0 THEN n1::DOUBLE / n1::DOUBLE ELSE 0.0 END
         AS rate_from_prev,
       CASE WHEN n1 > 0 THEN n1::DOUBLE / n1::DOUBLE ELSE 0.0 END
         AS rate_from_first
FROM c
UNION ALL
SELECT 2, 'click', n2,
       CASE WHEN n1 > 0 THEN n2::DOUBLE / n1::DOUBLE ELSE 0.0 END,
       CASE WHEN n1 > 0 THEN n2::DOUBLE / n1::DOUBLE ELSE 0.0 END
FROM c
UNION ALL
SELECT 3, 'purchase', n3,
       CASE WHEN n2 > 0 THEN n3::DOUBLE / n2::DOUBLE ELSE 0.0 END,
       CASE WHEN n1 > 0 THEN n3::DOUBLE / n1::DOUBLE ELSE 0.0 END
FROM c
"""


def q_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h z-score anomaly flags on the dense hourly grid.
    Integer window sums -> mean/var/z are exact scalar expressions,
    bit-identical across engines with no rounding."""
    dense = gap_fill_hourly(read_events(spark, sf_dir))
    out = hourly_anomalies(dense, baseline_hours=24, z_thresh=3.0)
    return out.select(
        "event_type",
        F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        F.col("n_events").cast("bigint"),
        "z",
        "is_anomaly",
    )


_SQL_Z_MEAN = "(s::DOUBLE / n::DOUBLE)"
_SQL_Z_VAR = (
    f"((sq::DOUBLE - n::DOUBLE * {_SQL_Z_MEAN} * {_SQL_Z_MEAN})"
    " / (n::DOUBLE - 1.0))"
)
_SQL_Z = f"""CASE WHEN n >= 12 AND {_SQL_Z_VAR} > 0.0
  THEN (n_events::DOUBLE - {_SQL_Z_MEAN}) / sqrt({_SQL_Z_VAR}) END"""

_ORACLE_ANOMALIES = f"""
WITH agg AS (
  SELECT event_type AS k, date_trunc('hour', ts::TIMESTAMP) AS hour,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
),
spans AS (SELECT k, min(hour) AS h0, max(hour) AS h1 FROM agg GROUP BY k),
dense AS (
  SELECT k, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
  FROM spans
),
grid AS (
  SELECT d.k, d.hour, coalesce(a.n_events, 0) AS n_events
  FROM dense d LEFT JOIN agg a ON a.k = d.k AND a.hour = d.hour
),
sc AS (
  SELECT k, hour, n_events,
         count(n_events) OVER w AS n,
         sum(n_events) OVER w AS s,
         sum(n_events * n_events) OVER w AS sq
  FROM grid
  WINDOW w AS (PARTITION BY k ORDER BY hour
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT k AS event_type,
       strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour_start,
       n_events::BIGINT AS n_events,
       {_SQL_Z} AS z,
       coalesce(abs({_SQL_Z}) >= 3.0, FALSE) AS is_anomaly
FROM sc
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-token chunks with 8-token overlap (stride 24): the RAG /
    pre-training windowing stage. Map-only, codegen slice/concat."""
    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=32, overlap=8).select(
        F.col("doc_id").cast("bigint"),
        "chunk_idx",
        "chunk_text",
        "n_chunk_tokens",
    )


_ORACLE_CHUNKS = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKS} AS tk FROM documents
),
st AS (
  SELECT doc_id, tk, len(tk) AS n,
         unnest(generate_series(0, greatest(len(tk) - 1, 0), 24)) AS start
  FROM toks
)
SELECT doc_id,
       (start // 24)::BIGINT AS chunk_idx,
       array_to_string(tk[start + 1 : start + 32], ' ') AS chunk_text,
       len(tk[start + 1 : start + 32])::BIGINT AS n_chunk_tokens
FROM st WHERE start < n
"""


def q_passage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level (chunk) retrieval with doc-level MAX-passage
    aggregation — the standard long-document retrieval pattern (RAG
    serving shape): documents split into overlapping 32-token chunks,
    each chunk embedded, queries scored against CHUNKS, and a
    document's score is its best passage; top-3 docs per query
    (excluding the query's own document). Scale shape: chunking and
    chunk-embedding are map-only; the query batch is tiny and
    broadcast into the scoring join; per-(query, doc) max is one
    map-side-combined aggregate; the final top-3 compiles to
    WindowGroupLimit. Whole-doc search can miss a long document whose
    relevant span is diluted — this is the operator that fixes it."""
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, chunk_tokens=32, overlap=8).select(
        F.col("doc_id").cast("bigint"), "chunk_idx", "chunk_text"
    )
    chunk_emb = chunks.select(
        "doc_id", "chunk_idx", embed_text("chunk_text", dim=8).alias("cvec")
    )
    queries = docs.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"),
        embed_text("text", dim=8).alias("qvec"),
    )
    from cs6300_vectordbs_spark.functions.vector import cosine_sim

    scored = (
        chunk_emb.crossJoin(F.broadcast(queries))
        .filter(F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id",
            "doc_id",
            cosine_sim("qvec", "cvec", 8).alias("sim"),
        )
    )
    per_doc = scored.groupBy("query_id", "doc_id").agg(
        F.max("sim").alias("best_passage_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("best_passage_sim").desc(), F.col("doc_id").asc()
    )
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("query_id").cast("bigint"),
            F.col("rank").cast("bigint"),
            "doc_id",
            "best_passage_sim",
        )
    )


_SQL_EMBED8_CHUNK = (
    "list_transform(range(0, 8), j -> "
    "(('0x' || substr(md5('e' || j || '|' || chunk_text), 1, 15))::BIGINT"
    " % 2000001) / 1000000.0 - 1.0)"
)
_SQL_EMBED8_TEXT = (
    "list_transform(range(0, 8), j -> "
    "(('0x' || substr(md5('e' || j || '|' || text), 1, 15))::BIGINT"
    " % 2000001) / 1000000.0 - 1.0)"
)

def _oracle_passage() -> str:
    # built lazily: _sql_cos is defined later in the module
    return f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKS} AS tk FROM documents
),
st AS (
  SELECT doc_id, tk, len(tk) AS n,
         unnest(generate_series(0, greatest(len(tk) - 1, 0), 24)) AS start
  FROM toks
),
chunks AS (
  SELECT doc_id, array_to_string(tk[start + 1 : start + 32], ' ')
           AS chunk_text
  FROM st WHERE start < n
),
cemb AS (
  SELECT doc_id, {_SQL_EMBED8_CHUNK} AS cvec FROM chunks
),
qemb AS (
  SELECT doc_id AS query_id, {_SQL_EMBED8_TEXT} AS qvec
  FROM documents WHERE doc_id < 5
),
scored AS (
  SELECT q.query_id, c.doc_id,
         {_sql_cos('q.qvec', 'c.cvec')} AS sim
  FROM cemb c CROSS JOIN qemb q
  WHERE c.doc_id != q.query_id
),
per_doc AS (
  SELECT query_id, doc_id, max(sim) AS best_passage_sim
  FROM scored GROUP BY query_id, doc_id
)
SELECT query_id, rank::BIGINT AS rank, doc_id, best_passage_sim
FROM (
  SELECT query_id, doc_id, best_passage_sim,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY best_passage_sim DESC, doc_id ASC) AS rank
  FROM per_doc)
WHERE rank <= 3
"""


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination gate: the 10% hash-sample plays the eval set,
    the complement plays the training corpus; per eval doc, the
    fraction of its 5-gram shingles found anywhere in training."""
    docs = _t(spark, sf_dir, "documents")
    test = docs.filter(hash_bucket("doc_id", 100) < 10)
    train = docs.filter(hash_bucket("doc_id", 100) >= 10)
    return contamination_check(train, test, n=5).select(
        F.col("doc_id").cast("bigint"),
        "n_shingles",
        "n_hits",
        "contamination_frac",
        "is_contaminated",
    )


_SQL_SAMPLE10 = "((doc_id % 2147483648) * 2654435761) % 4294967296 % 100 < 10"

_ORACLE_CONTAMINATION = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKS} AS tk FROM documents
),
ex AS (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(tk[i:i+4], ' ')
                               for i in generate_series(1, len(tk) - 4)])) AS s
  FROM toks
),
tr AS (SELECT DISTINCT s FROM ex WHERE NOT ({_SQL_SAMPLE10})),
te AS (SELECT doc_id, s FROM ex WHERE {_SQL_SAMPLE10}),
totals AS (SELECT doc_id, count(*) AS n_shingles FROM te GROUP BY doc_id),
hits AS (
  SELECT te.doc_id, count(*) AS n_hits
  FROM te JOIN tr USING (s) GROUP BY te.doc_id
)
SELECT t.doc_id,
       t.n_shingles::BIGINT AS n_shingles,
       coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       coalesce(h.n_hits, 0)::DOUBLE / t.n_shingles::DOUBLE
         AS contamination_frac,
       (coalesce(h.n_hits, 0)::DOUBLE / t.n_shingles::DOUBLE) >= 0.5
         AS is_contaminated
FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id
"""


def q_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label cap of 20 vectors chosen by deterministic hash order
    (class rebalancing); WindowGroupLimit pre-truncates map-side."""
    emb = _t(spark, sf_dir, "embeddings")
    return balanced_sample(emb, cap=20).select(
        F.col("label").cast("bigint"),
        F.col("sample_rank").cast("bigint"),
        F.col("vec_id").cast("bigint"),
    )


_ORACLE_BALANCED = """
WITH ranked AS (
  SELECT label, vec_id,
         row_number() OVER (
           PARTITION BY label
           ORDER BY ('0x' || substr(md5('bs|' || vec_id), 1, 15))::BIGINT ASC,
                    vec_id ASC
         ) AS sample_rank
  FROM embeddings
)
SELECT label::BIGINT AS label, sample_rank::BIGINT AS sample_rank, vec_id
FROM ranked WHERE sample_rank <= 20
"""


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-20 tokens: map-side-combined count + heap top-n
    (TakeOrderedAndProject, no global sort)."""
    docs = _t(spark, sf_dir, "documents")
    return heavy_hitters(docs, n=20).select(
        F.col("rank").cast("bigint"), "token", F.col("cnt").cast("bigint")
    )


_ORACLE_HITTERS = f"""
WITH counts AS (
  SELECT tok AS token, count(*) AS cnt
  FROM (SELECT unnest({_SQL_TOKS}) AS tok FROM documents)
  GROUP BY tok
)
SELECT row_number() OVER (ORDER BY cnt DESC, token ASC) AS rank,
       token, cnt
FROM counts
ORDER BY cnt DESC, token ASC
LIMIT 20
"""


def q_sequential_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = sequential_id(docs, order_by="doc_id")
    return out.select(
        F.col("doc_id").cast("bigint"),
        format_doc_id(F.col("seq_id")).alias("movie_id"),
    )


_ORACLE_SEQ_ID = """
SELECT doc_id,
       printf('movie-%06d', row_number() OVER (ORDER BY doc_id)) AS movie_id
FROM documents
"""


def q_embed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding stage (S5/V1) in long form: one (doc_id, dim, value)
    row per vector component, so the output is scalar-typed end to end
    (array columns defeat the driver's row canonicalizer; the
    label_centroids precedent). The wide array form is the same plan
    minus the posexplode projection."""
    docs = _t(spark, sf_dir, "documents")
    emb = docs.select(
        F.col("doc_id").cast("bigint"),
        embed_text("text", dim=8).alias("embedding"),
    )
    return emb.select(
        "doc_id", F.posexplode("embedding").alias("dim", "value")
    ).select("doc_id", F.col("dim").cast("bigint").alias("dim"), "value")


_ORACLE_EMBED = """
SELECT doc_id, j::BIGINT AS dim,
       (('0x' || substr(md5('e' || j || '|' || text), 1, 15))::BIGINT
        % 2000001) / 1000000.0 - 1.0 AS value
FROM documents, generate_series(0, 7) AS t(j)
"""


def q_csv_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1-S3/F6 end-to-end over a REAL CSV file: export `documents`
    with reference-style headers, then ingest through load_corpus_csv
    — header scan, multiLine+escape'"' quoting (lossless for embedded
    commas/quotes/newlines), projection/RENAME map, and the dense
    `doc-%06d` row id (/root/reference/src/db.py:16-51's
    load_movie_plots_csv: DictReader + rename + movie-%06d enumerate).
    Writer options mirror load_corpus_csv's reader fidelity contract:
    quoteAll + no-trim + '\\N' null sentinel, so empty-string,
    whitespace-only, and NULL text each roundtrip distinctly (Spark's
    CSV defaults trim and conflate '' with NULL — a hostile-data
    divergence vs the DictReader semantics the oracle encodes).
    The CSV roundtrip is exercised for real; the oracle applies the
    same logical transform to the parquet source, so a lossy roundtrip
    or a broken rename/id rule breaks the value hash. The id orders by
    the STRING DocId (headers carry no types — the reference's
    untyped-CSV behavior), mirrored by the oracle's ::VARCHAR sort."""
    from cs6300_vectordbs_spark.sources.ingest import load_corpus_csv

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"{WAREHOUSE}/csv_corpus_{tag}"
    docs = _t(spark, sf_dir, "documents")
    (
        docs.select(
            F.col("doc_id").cast("string").alias("DocId"),
            F.col("text").alias("Plot"),
            F.col("lang").alias("Lang"),
            F.col("source").alias("Origin/Ethnicity"),
        )
        .write.mode("overwrite")
        .option("header", True)
        .option("escape", '"')
        .option("quoteAll", True)
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .option("nullValue", "\\N")
        .csv(path)
    )
    corpus = load_corpus_csv(
        spark,
        path,
        column_map={
            "DocId": "src_id",
            "Plot": "text",
            "Lang": "lang",
            "Origin/Ethnicity": "origin",
        },
        id_prefix="doc",
    )
    return corpus.select(
        "id",
        F.col("src_id").cast("bigint").alias("doc_id"),
        F.length("text").cast("bigint").alias("text_len"),
        "lang",
        "origin",
    )


_ORACLE_CSV_INGEST = """
SELECT printf('doc-%06d', row_number() OVER (ORDER BY doc_id::VARCHAR))
         AS id,
       doc_id, length(text)::BIGINT AS text_len, lang,
       source AS origin
FROM documents
"""


def q_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL corpus ingestion with PERMISSIVE quarantine: export
    `documents` as JSONL, plant two deliberately malformed lines in
    the input directory, then ingest via load_corpus_jsonl with an
    EXPLICIT schema (the one-pass, no-inference scale path). Good rows
    aggregate per source; every row carries the quarantine count, so
    the value hash proves both that all clean lines parsed AND that
    exactly the two corrupt lines were rejected rather than failing
    the job — the one-broken-line-in-a-billion contract."""
    from cs6300_vectordbs_spark.sources.ingest import load_corpus_jsonl

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"{WAREHOUSE}/jsonl_corpus_{tag}"
    docs = _t(spark, sf_dir, "documents")
    (
        docs.select("doc_id", "text", "lang", "source")
        .write.mode("overwrite")
        .json(path)
    )
    with open(f"{path}/zz-corrupt.json", "w", encoding="utf-8") as f:
        f.write('{"doc_id": broken,,,\nnot json at all\n')
    good, bad = load_corpus_jsonl(
        spark,
        path,
        "doc_id bigint, text string, lang string, source string",
    )
    n_bad = bad.count()
    return (
        good.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
        )
        .select(
            "source",
            F.col("n_docs").cast("bigint"),
            F.col("total_chars").cast("bigint"),
            F.lit(n_bad).cast("bigint").alias("n_quarantined"),
        )
    )


_ORACLE_JSONL_INGEST = """
SELECT source, count(*)::BIGINT AS n_docs,
       sum(length(text))::BIGINT AS total_chars,
       2::BIGINT AS n_quarantined
FROM documents GROUP BY source
"""


def q_csv_ingest_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-CSV quarantine ingestion (sources/ingest.split_csv_lines)
    — the splittable, corrupt-tolerant CSV path next to csv_ingest's
    multiLine-lossless one: export the typed document columns as CSV,
    plant two malformed lines (an unparseable bigint, a wrong-arity
    row), ingest via text + from_csv under PERMISSIVE. The value hash
    proves typed parsing of every clean line AND exact rejection of
    the two corrupt ones — one broken line in a billion quarantines,
    never kills the ingest."""
    from cs6300_vectordbs_spark.sources.ingest import split_csv_lines

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"{WAREHOUSE}/csv_checked_{tag}"
    docs = _t(spark, sf_dir, "documents")
    (
        docs.select("doc_id", "lang", "source", "n_chars")
        .write.mode("overwrite")
        .option("header", True)
        .csv(path)
    )
    hdr = "doc_id,lang,source,n_chars"
    with open(f"{path}/zz-corrupt.csv", "w", encoding="utf-8") as f:
        f.write(f"{hdr}\nnotanumber,en,src0,10\nbad,row\n")
    raw = spark.read.text(path).filter(F.trim("value") != "")
    good, bad = split_csv_lines(
        raw,
        "doc_id bigint, lang string, source string, n_chars bigint",
        header=hdr,
    )
    n_bad = bad.count()
    return (
        good.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .select(
            "source",
            F.col("n_docs").cast("bigint"),
            F.col("total_chars").cast("bigint"),
            F.col("n_langs").cast("bigint"),
            F.lit(n_bad).cast("bigint").alias("n_quarantined"),
        )
    )


_ORACLE_CSV_CHECKED = """
SELECT source, count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS total_chars,
       count(DISTINCT lang)::BIGINT AS n_langs,
       2::BIGINT AS n_quarantined
FROM documents GROUP BY source
"""


def q_jsonl_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of jsonl_ingest: the same export (documents as
    JSONL + two planted corrupt lines), ingested as a FILE-SOURCE
    STREAM (streaming/ingest.jsonl_corpus_stream — the shared
    split_jsonl_lines parse, availableNow trigger). Good rows run the
    per-source aggregation as a complete-mode STREAMING aggregation;
    quarantined lines drain to a second memory sink and their count
    stamps every row. Unified-API contract: the batch query's oracle
    is the exact bar for this stream."""
    from cs6300_vectordbs_spark.streaming.events import run_stream_to_memory
    from cs6300_vectordbs_spark.streaming.ingest import jsonl_corpus_stream

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"{WAREHOUSE}/jsonl_corpus_stream_{tag}"
    docs = _t(spark, sf_dir, "documents")
    (
        docs.select("doc_id", "text", "lang", "source")
        .write.mode("overwrite")
        .json(path)
    )
    with open(f"{path}/zz-corrupt.json", "w", encoding="utf-8") as f:
        f.write('{"doc_id": broken,,,\nnot json at all\n')
    good, bad = jsonl_corpus_stream(
        spark, path, "doc_id bigint, text string, lang string, source string"
    )
    agg = good.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
    )
    run_stream_to_memory(
        agg, query_name="jsonl_ingest_stream_agg", output_mode="complete"
    )
    run_stream_to_memory(
        bad, query_name="jsonl_ingest_stream_bad", output_mode="append"
    )
    n_bad = spark.table("jsonl_ingest_stream_bad").count()
    return spark.table("jsonl_ingest_stream_agg").select(
        "source",
        F.col("n_docs").cast("bigint"),
        F.col("total_chars").cast("bigint"),
        F.lit(n_bad).cast("bigint").alias("n_quarantined"),
    )


def q_template_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return generate_queries(docs).select(
        F.col("query_id").cast("bigint"), "query"
    )


_ORACLE_TEMPLATE_Q = f"""
SELECT doc_id AS query_id,
       'find documents about '
         || coalesce(array_to_string(({_SQL_TOKS})[1:5], ' '), '')
         AS query
FROM documents
"""
# coalesce: DuckDB's array_to_string([]) is NULL while Spark's
# array_join([]) is '' — a token-less (empty/whitespace) document must
# produce the bare prefix in both engines, not NULL-propagate.


def q_clean_query_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    lines = docs.select(
        F.when(
            F.col("doc_id") % 10 == 0, F.concat(F.lit("# "), F.col("text"))
        )
        .otherwise(
            F.concat(F.col("doc_id").cast("string"), F.lit(". "),
                     F.substring("text", 1, 40))
        )
        .alias("value")
    )
    return clean_query_lines(lines)


_ORACLE_CLEAN_Q = """
WITH lines AS (
  SELECT CASE WHEN doc_id % 10 = 0 THEN '# ' || text
              ELSE doc_id || '. ' || substr(text, 1, 40) END AS value
  FROM documents
), cleaned AS (
  SELECT regexp_replace(trim(value), '^\\d+[.)]\\s*', '') AS query FROM lines
)
SELECT query FROM cleaned
WHERE query != '' AND query NOT LIKE '#%'
"""


def q_blob_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    bin_df = docs.select(
        F.col("doc_id").cast("bigint"),
        F.encode("text", "utf-8").alias("data"),
    )
    out = with_blob_metadata(bin_df)
    return out.select(
        "doc_id",
        F.col("meta.n_bytes").cast("bigint").alias("n_bytes"),
        F.col("meta.content_md5").alias("content_md5"),
    )


_ORACLE_BLOB = """
SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes,
       md5(text) AS content_md5
FROM documents
"""


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode stage end-to-end: binary blobs through the
    mapInPandas Arrow decoder (operators/multimodal.py). The stub
    decoder derives width/height/features from md5(bytes), which is
    SQL-reproducible — so the whole Python/Arrow plumbing (batch
    iteration, schema, null handling) is value-hash-checked against
    DuckDB, not just smoke-tested. A real codec swaps into the marked
    stub section with the identical plan shape."""
    docs = _t(spark, sf_dir, "documents")
    blobs = docs.select(
        F.col("doc_id").cast("bigint"), F.encode("text", "utf-8").alias("data")
    )
    # A NULL blob has no decoded image: the Arrow decoder drops it, and
    # the oracle's WHERE text IS NOT NULL encodes the same contract.
    out = decode_image_stub(blobs, feature_dim=8)
    return out.select(
        "doc_id", "width", "height", "n_channels",
        F.posexplode("feature").alias("dim", "value"),
    ).select(
        "doc_id", "width", "height", "n_channels",
        F.col("dim").cast("bigint").alias("dim"), "value",
    )


_ORACLE_IMAGE = """
WITH h AS (SELECT doc_id, md5(text) AS x FROM documents
           WHERE text IS NOT NULL)
SELECT doc_id,
  (16 + (('0x' || substr(x, 1, 2))::INT % 241))::INT AS width,
  (16 + (('0x' || substr(x, 3, 2))::INT % 241))::INT AS height,
  3::INT AS n_channels,
  j::BIGINT AS dim,
  (('0x' || substr(x, 2 * (2 + j) + 1, 2))::INT) / 255.0 AS value
FROM h, generate_series(0, 7) AS t(j)
"""


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality plumbing end-to-end: byte blobs through the
    mapInPandas frame extractor (256-byte frames, 128 hop) — windowing,
    striding, per-frame explode, Arrow schema all value-hash-checked;
    frame features are integer sums over a power-of-two length, so
    every double is exact and DuckDB reproduces them bit-for-bit. A
    real codec+DSP swaps into the marked stub section."""
    from cs6300_vectordbs_spark.operators.multimodal import (
        extract_audio_frames,
    )

    docs = _t(spark, sf_dir, "documents")
    blobs = docs.select(
        F.col("doc_id").cast("bigint"), F.encode("text", "utf-8").alias("data")
    )
    out = extract_audio_frames(blobs, frame_len=256, hop=128)
    return out.select(
        "doc_id",
        F.col("frame_idx").cast("bigint"),
        "n_bytes",
        "f_mean",
        "f_energy",
    )


_ORACLE_AUDIO = """
WITH base AS (
  SELECT doc_id, text, strlen(text) AS n FROM documents WHERE strlen(text) >= 256
),
frames AS (
  SELECT doc_id, text, n,
         unnest(generate_series(0, (n - 256) // 128)) AS f
  FROM base
),
bl AS (
  SELECT doc_id, f, n,
         [ascii(substr(text, f * 128 + i, 1))
          for i in generate_series(1, 256)] AS b
  FROM frames
)
SELECT doc_id, f::BIGINT AS frame_idx, n::BIGINT AS n_bytes,
       list_sum(b) / 256.0 AS f_mean,
       list_sum(list_transform(b, x -> x * x)) / 256.0 AS f_energy
FROM bl
"""


def q_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling plumbing: every-30th frame index per
    blob (map-side explode, operators/multimodal.py), then a per-frame
    byte-slice chunk fingerprint — the shape of a sampled-frame decode
    at scale, with the codec replaced by binary slicing. BYTE semantics
    throughout (a video blob is bytes): the frame grid comes from
    octet_length and the fingerprint is md5 of the slice's UPPERCASE
    HEX — DuckDB cannot md5 a raw BLOB slice (and decode() of a slice
    that cuts a multibyte char throws), so hex is the portable byte
    spelling; both engines' hex() is uppercase (probed r05 on
    multibyte input)."""
    docs = _t(spark, sf_dir, "documents")
    blobs = docs.select(
        F.col("doc_id").cast("bigint"),
        F.encode("text", "utf-8").alias("data"),
    ).withColumn("n_frames", F.octet_length("data"))
    fs = sample_frames(blobs, "n_frames", every=30)
    return fs.select(
        "doc_id",
        F.col("frame_idx").cast("int"),
        F.expr("md5(hex(substring(data, frame_idx + 1, 32)))").alias("chunk_md5"),
        F.expr("octet_length(substring(data, frame_idx + 1, 32))")
        .cast("int")
        .alias("chunk_len"),
    )


_ORACLE_FRAMES = """
WITH idx AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         unnest(generate_series(0,
           ((octet_length(encode(text)) - 1) // 30)::INT)) AS j
  FROM documents WHERE octet_length(encode(text)) > 0
)
SELECT doc_id, (30 * j)::INT AS frame_idx,
       md5(substr(hx, 60 * j + 1, 64)) AS chunk_md5,
       (length(substr(hx, 60 * j + 1, 64)) // 2)::INT AS chunk_len
FROM idx
"""


def q_scene_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection over the sampled-frame stream: a frame
    is a CUT when its fingerprint agrees with the previous frame's in
    fewer than 4 of the first 8 md5 hex chars (the deterministic
    stand-in for a perceptual-hash distance; the real phash plugs in at
    the decode hook). Per video: frame count, cut count, and the first
    cut's frame index. Scale shape: the frame explode is map-side; the
    only shuffle is the per-video window (lag over frame_idx) followed
    by one groupBy on the same key — Catalyst reuses the partitioning,
    one exchange total."""
    from pyspark.sql.window import Window

    frames = q_frame_samples(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    prev = F.lag("chunk_md5").over(w)
    match_terms = [
        F.when(
            F.substring("chunk_md5", i + 1, 1)
            == F.substring(prev, i + 1, 1),
            1,
        ).otherwise(0)
        for i in range(8)
    ]
    n_match = match_terms[0]
    for t in match_terms[1:]:
        n_match = n_match + t
    is_cut = F.when(prev.isNull(), F.lit(0)).otherwise(
        F.when(n_match < 4, 1).otherwise(0)
    )
    per_frame = frames.select(
        "doc_id", "frame_idx", is_cut.alias("cut")
    )
    return (
        per_frame.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_frames"),
            F.sum("cut").cast("bigint").alias("n_cuts"),
            F.min(
                F.when(F.col("cut") == 1, F.col("frame_idx"))
            ).cast("bigint").alias("first_cut_idx"),
        )
        .select(
            F.col("doc_id").cast("bigint"),
            "n_frames",
            "n_cuts",
            "first_cut_idx",
        )
    )


_ORACLE_SCENES = """
WITH idx AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         unnest(generate_series(0,
           ((octet_length(encode(text)) - 1) // 30)::INT)) AS j
  FROM documents WHERE octet_length(encode(text)) > 0
), fr AS (
  SELECT doc_id, 30 * j AS frame_idx,
         md5(substr(hx, 60 * j + 1, 64)) AS h,
         lag(md5(substr(hx, 60 * j + 1, 64))) OVER (
           PARTITION BY doc_id ORDER BY 30 * j) AS ph
  FROM idx
), flags AS (
  SELECT doc_id, frame_idx,
         CASE WHEN ph IS NULL THEN 0
              WHEN (CASE WHEN substr(h,1,1)=substr(ph,1,1) THEN 1 ELSE 0 END
                  + CASE WHEN substr(h,2,1)=substr(ph,2,1) THEN 1 ELSE 0 END
                  + CASE WHEN substr(h,3,1)=substr(ph,3,1) THEN 1 ELSE 0 END
                  + CASE WHEN substr(h,4,1)=substr(ph,4,1) THEN 1 ELSE 0 END
                  + CASE WHEN substr(h,5,1)=substr(ph,5,1) THEN 1 ELSE 0 END
                  + CASE WHEN substr(h,6,1)=substr(ph,6,1) THEN 1 ELSE 0 END
                  + CASE WHEN substr(h,7,1)=substr(ph,7,1) THEN 1 ELSE 0 END
                  + CASE WHEN substr(h,8,1)=substr(ph,8,1) THEN 1 ELSE 0 END
                   ) < 4 THEN 1 ELSE 0 END AS cut
  FROM fr
)
SELECT doc_id, count(*)::BIGINT AS n_frames,
       sum(cut)::BIGINT AS n_cuts,
       min(CASE WHEN cut = 1 THEN frame_idx END)::BIGINT AS first_cut_idx
FROM flags
GROUP BY doc_id
"""


def q_salted_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event stats through the SALTED two-stage aggregation
    (operators/skew.py) — the hot-key-resistant plan; values match the
    direct groupBy (floats under the repo round(9) policy)."""
    ev = read_events(spark, sf_dir)
    out = salted_agg(
        ev,
        ["user_id"],
        [
            ("event_id", "count", "n_events"),
            ("value", "sum", "sum_value"),
            ("value", "min", "min_value"),
            ("value", "max", "max_value"),
            ("value", "avg", "avg_value"),
        ],
    )
    return out.select(
        F.col("user_id").cast("bigint"),
        F.col("n_events").cast("bigint"),
        F.round("sum_value", 9).alias("sum_value"),
        "min_value",
        "max_value",
        F.round("avg_value", 9).alias("avg_value"),
    )


_ORACLE_SALTED = """
SELECT user_id, count(event_id)::BIGINT AS n_events,
       round(sum(value), 9) AS sum_value,
       min(value) AS min_value, max(value) AS max_value,
       round(sum(value) / count(value), 9) AS avg_value
FROM events GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Relational analytics over the star schema (capability breadth; exact
# DECIMAL accumulation -> DOUBLE, so parallel sums are deterministic)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1).cast("decimal(3,0)") - disc))
            .cast("double").alias("sum_disc_price"),
            F.sum(
                price * (F.lit(1).cast("decimal(3,0)") - disc)
                * (F.lit(1).cast("decimal(3,0)") + tax)
            ).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).cast("bigint").alias("count_order"),
        )
    )


_ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
  sum(l_quantity::DECIMAL(12,2))::DOUBLE AS sum_qty,
  sum(l_extendedprice::DECIMAL(12,2))::DOUBLE AS sum_base_price,
  sum(l_extendedprice::DECIMAL(12,2) * (1 - l_discount::DECIMAL(4,2)))::DOUBLE
    AS sum_disc_price,
  sum(l_extendedprice::DECIMAL(12,2) * (1 - l_discount::DECIMAL(4,2))
      * (1 + l_tax::DECIMAL(4,2)))::DOUBLE AS sum_charge,
  count(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= '2001-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.sum(price * (F.lit(1).cast("decimal(3,0)") - disc))
            .cast("double").alias("revenue")
        )
    )
    return (
        rev.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(10)
        .select(F.col("c_custkey").cast("bigint"), "c_name", "revenue")
    )


_ORACLE_TOP_CUST = """
SELECT c_custkey, c_name,
  sum(l_extendedprice::DECIMAL(12,2) * (1 - l_discount::DECIMAL(4,2)))::DOUBLE
    AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 10
"""


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = windowed_event_counts(read_events(spark, sf_dir), window="1 hour")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        "event_type",
        F.col("n_events").cast("bigint"),
        F.round("sum_value", 9).alias("sum_value"),
    )


_ORACLE_EVENTS_HOURLY = """
SELECT strftime(date_trunc('hour', ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S')
         AS hour_start,
       event_type, count(*)::BIGINT AS n_events,
       round(sum(value), 9) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_partitioned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned storage layout as a VERIFIED query (the
    bucketed_revenue of partitioning): events are laid out once as a
    Hive-partitioned table on event_type (create-if-absent,
    sources/ingest.write_table partition_by), then a per-type serve
    reads ONLY the matching directories — at 100 TB, partition pruning
    on a low-cardinality serving column is the first and cheapest scan
    reducer, ahead of row-group stats and bucketing. The pruning is
    asserted mechanically in tests/test_plans.py (PartitionFilters on
    the scan); the values hash against the raw-table oracle, proving
    the layout changes I/O, never answers. Daily per-user stats for
    the two hottest interaction types."""
    from cs6300_vectordbs_spark.sources.index_common import (
        corpus_fingerprint,
        invalidate_fingerprint,
        read_fingerprint,
        write_fingerprint,
    )
    from cs6300_vectordbs_spark.sources.ingest import write_table

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"{WAREHOUSE}/events_by_type_{tag}"
    ev = read_events(spark, sf_dir)
    # Content-addressed reuse (the persisted-index discipline): a
    # regenerated source under the same path must rebuild the layout,
    # not silently serve stale partitions. The fingerprint is one agg
    # scan per serve — the price of create-if-absent safety.
    fp = corpus_fingerprint(
        ev, ["event_id", "ts", "event_type", "value"],
        {"layout": "hive-partition", "by": "event_type"},
    )
    # Fingerprint lives in a SIBLING meta dir: a stray non-parquet
    # file at the dataset root breaks Hive partition discovery.
    meta = f"{path}__meta"
    if read_fingerprint(meta) != fp:
        invalidate_fingerprint(meta)  # crash mid-rebuild => no marker
        write_table(ev, path, partition_by=["event_type"])
        import os

        os.makedirs(meta, exist_ok=True)
        write_fingerprint(meta, fp)
    part = spark.read.parquet(path)
    return (
        part.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 9).alias("sum_value"),
        )
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("n_events").cast("bigint"),
            F.col("n_users").cast("bigint"),
            "sum_value",
        )
    )


_ORACLE_PARTITIONED_EVENTS = """
SELECT event_type,
       strftime(date_trunc('day', ts::TIMESTAMP), '%Y-%m-%d') AS day,
       count(*)::BIGINT AS n_events,
       count(DISTINCT user_id)::BIGINT AS n_users,
       round(sum(value), 9) AS sum_value
FROM events
WHERE event_type IN ('click', 'purchase')
GROUP BY 1, 2
"""


def q_zordered_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER layout as a verified query (sources/layout.py) — the
    third leg of the storage-layout family: partitioning prunes one
    low-cardinality column (partitioned_events), bucketing co-locates
    one join key (bucketed_revenue), and the Morton curve makes
    row-group min/max stats selective on TWO continuous dimensions at
    once. Events are laid out once clustered on (user_id, event-time),
    create-if-absent with the content-addressed fingerprint
    discipline; the serve filters a user range AND a time range — the
    canonical 'one cohort, one week' slice that a single-column sort
    cannot skip on. Values hash against the raw-table oracle (layout
    changes I/O, never answers); tests/test_layout.py proves each file
    covers a small rectangle of the plane (skippability), not just
    that the rows survive."""
    from cs6300_vectordbs_spark.sources.index_common import (
        corpus_fingerprint,
        invalidate_fingerprint,
        read_fingerprint,
        write_fingerprint,
    )
    from cs6300_vectordbs_spark.sources.layout import write_zordered

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"{WAREHOUSE}/events_zorder_{tag}"
    ev = read_events(spark, sf_dir)
    fp = corpus_fingerprint(
        ev, ["event_id", "ts", "user_id", "value"],
        {"layout": "zorder", "by": "user_id,ts", "bits": "12"},
    )
    meta = f"{path}__meta"
    if read_fingerprint(meta) != fp:
        invalidate_fingerprint(meta)  # crash mid-rebuild => no marker
        write_zordered(
            ev.withColumn("__ts_us", F.unix_micros("ts")),
            path,
            ["user_id", "__ts_us"],
            bits=12,
            num_files=8,
        )
        import os

        os.makedirs(meta, exist_ok=True)
        write_fingerprint(meta, fp)
    z = spark.read.parquet(path).drop("__ts_us")
    served = z.filter(
        (F.col("user_id") >= 30) & (F.col("user_id") <= 59)
        & (F.col("ts") >= F.lit("2024-01-08 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp"))
    )
    return (
        served.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 9).alias("sum_value"),
        )
        .select(
            "event_type",
            F.col("n_events").cast("bigint"),
            F.col("n_users").cast("bigint"),
            "sum_value",
        )
    )


_ORACLE_ZORDERED_EVENTS = """
SELECT event_type, count(*)::BIGINT AS n_events,
       count(DISTINCT user_id)::BIGINT AS n_users,
       round(sum(value), 9) AS sum_value
FROM events
WHERE user_id BETWEEN 30 AND 59
  AND ts::TIMESTAMP >= TIMESTAMP '2024-01-08 00:00:00'
  AND ts::TIMESTAMP <  TIMESTAMP '2024-01-15 00:00:00'
GROUP BY 1
"""


def q_events_hourly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME tumbling-window aggregation as events_hourly, executed as
    a Structured Streaming query (file source, availableNow trigger,
    memory sink). Spark's unified batch/stream API means the batch oracle
    is the exact correctness bar for the streaming run — this entry gets
    the full value-hash check, not a rows-only one.
    """
    from cs6300_vectordbs_spark.streaming.events import (
        read_events_stream,
        run_stream_to_memory,
    )

    stream = read_events_stream(spark, sf_dir)
    out = windowed_event_counts(stream, window="1 hour")
    run_stream_to_memory(out, query_name="events_hourly_stream")
    return spark.table("events_hourly_stream").select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        "event_type",
        F.col("n_events").cast("bigint"),
        F.round("sum_value", 9).alias("sum_value"),
    )


def _sliding_shape(out: DataFrame) -> DataFrame:
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "event_type",
        F.col("n_events").cast("bigint"),
        F.round("sum_value", 9).alias("sum_value"),
    )


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hour windows sliding every hour — each event lands in 3
    overlapping windows. Spark's window generator replicates rows
    BEFORE the hash aggregate (map-side partials apply), so the
    shuffle carries 3x|groups|, not 3x|events|. The oracle expresses
    the same replication as a cross join with range(3): window starts
    are date_trunc('hour', ts) - k hours, k in 0..2."""
    from cs6300_vectordbs_spark.streaming.events import sliding_event_counts

    return _sliding_shape(sliding_event_counts(read_events(spark, sf_dir)))


def q_events_sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME sliding aggregation as a Structured Streaming query
    (file source, availableNow, memory sink). Watermark bounds state:
    windows older than watermark+window are finalized and evicted.
    Full value-hash check against the batch oracle."""
    from cs6300_vectordbs_spark.streaming.events import (
        read_events_stream,
        run_stream_to_memory,
    )
    from cs6300_vectordbs_spark.streaming.events import sliding_event_counts

    out = sliding_event_counts(read_events_stream(spark, sf_dir))
    run_stream_to_memory(out, query_name="events_sliding_stream")
    return _sliding_shape(spark.table("events_sliding_stream"))


_ORACLE_EVENTS_SLIDING = """
SELECT strftime(date_trunc('hour', ts::TIMESTAMP) - (k * INTERVAL 1 HOUR),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*)::BIGINT AS n_events,
       round(sum(value), 9) AS sum_value
FROM events CROSS JOIN (SELECT unnest([0, 1, 2]) AS k)
GROUP BY 1, 2
"""


def q_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction (F-family extension): parse the
    events.props JSON string JVM-side with get_json_object (codegen,
    no Python in the path) and aggregate the extracted key per
    event_type. At 100 TB the parse is a map-side expression fused
    into the scan stage; only the 6-group aggregate shuffles."""
    ev = read_events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 9).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


_ORACLE_PROPS = """
SELECT event_type,
       count(*)::BIGINT AS n_events,
       sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k,
       round(avg(json_extract_string(props, '$.k')::BIGINT), 9) AS avg_k,
       min(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS min_k,
       max(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q_latency_percentiles_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT family: the wide P50/P95/P99 row stacked to long
    (pctile, value) form — the shape metric stores ingest. stack() is a
    zero-shuffle generator over the 1-row aggregate."""
    wide = q_latency_percentiles(spark, sf_dir)
    return wide.select(
        F.expr(
            "stack(3, 'p50', p50, 'p95', p95, 'p99', p99)"
            " AS (pctile, value)"
        )
    ).orderBy("pctile")


_ORACLE_PCT_LONG = """
WITH wide AS (
  SELECT round(quantile_cont(value, 0.5), 9) AS p50,
         round(quantile_cont(value, 0.95), 9) AS p95,
         round(quantile_cont(value, 0.99), 9) AS p99
  FROM events
)
SELECT 'p50' AS pctile, p50 AS value FROM wide
UNION ALL SELECT 'p95', p95 FROM wide
UNION ALL SELECT 'p99', p99 FROM wide
ORDER BY pctile
"""


def q_user_first_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered sequence-feature output: each user's first five event
    types in event-time order, rendered as one '|'-joined string — the
    sequence-feature shape an LLM-behavior pipeline exports.
    Determinism: collect_list order is engine-arbitrary, so the structs
    are sorted AFTER collection by the (ts, event_id) total order and
    sliced. Rendered as a scalar string (not array<string>) because the
    driver's canonicalizer cannot sort list columns — the same reshape
    applied to embed_documents/image_features in r03 (r02 verdict)."""
    ev = read_events(spark, sf_dir)
    return (
        ev.select(
            "user_id",
            F.struct(
                F.col("ts").alias("t"),
                F.col("event_id").alias("e"),
                F.col("event_type").alias("y"),
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.slice(
                    F.transform(
                        F.array_sort(F.collect_list("s")), lambda s: s["y"]
                    ),
                    1,
                    5,
                ),
                "|",
            ).alias("first_events")
        )
        .select(F.col("user_id").cast("bigint"), "first_events")
        .orderBy("user_id")
    )


_ORACLE_FIRST_EVENTS = """
SELECT user_id,
       array_to_string(
         (list(event_type ORDER BY ts::TIMESTAMP, event_id))[1:5], '|')
         AS first_events
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: lag window per user ordered by (ts, event_id) — the same
    total order the sessionizer uses — then transition counts and
    row-normalized probabilities (exact integer quotients). The window
    shuffles once on user_id; the matrix aggregate is 25 cells."""
    from pyspark.sql.window import Window

    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = pairs.groupBy("prev_type").agg(F.sum("n").alias("row_total"))
    return (
        pairs.join(F.broadcast(tot), on="prev_type")
        .select(
            "prev_type",
            "event_type",
            F.col("n").cast("bigint"),
            (F.col("n") / F.col("row_total")).alias("p_transition"),
        )
        .orderBy("prev_type", "event_type")
    )


_ORACLE_TRANSITIONS = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id
         ) AS prev_type
  FROM events
),
pairs AS (
  SELECT prev_type, event_type, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT prev_type, sum(n) AS row_total FROM pairs GROUP BY 1)
SELECT prev_type, event_type, n::BIGINT AS n,
       n::DOUBLE / row_total AS p_transition
FROM pairs JOIN tot USING (prev_type)
ORDER BY prev_type, event_type
"""


def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of document lengths (10 x 200-char
    buckets, last bucket open-ended) with bucket shares — the corpus
    profiling primitive. The bucket id is pure integer math fused into
    the scan stage; one 11-group aggregate."""
    docs = _t(spark, sf_dir, "documents")
    bucket = F.least((F.col("n_chars") / 200).cast("bigint"), F.lit(10))
    by_bucket = (
        docs.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    total = F.broadcast(by_bucket.agg(F.sum("n_docs").alias("total")))
    return (
        by_bucket.crossJoin(total)
        .select(
            "bucket",
            (F.col("bucket") * 200).alias("bucket_lo"),
            F.col("n_docs").cast("bigint"),
            (F.col("n_docs") / F.col("total").cast("double")).alias("share"),
        )
        .orderBy("bucket")
    )


_ORACLE_DOC_HIST = """
WITH b AS (
  SELECT least(n_chars // 200, 10) AS bucket FROM documents
),
t AS (SELECT count(*) AS total FROM documents)
SELECT bucket, bucket * 200 AS bucket_lo, count(*)::BIGINT AS n_docs,
       count(*)::DOUBLE / max(t.total) AS share
FROM b, t
GROUP BY bucket
ORDER BY bucket
"""


def q_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diurnal profile: events per (hour-of-day, type) with each cell's
    share of its type's total — seasonality shape for anomaly baselines.
    One aggregate + a broadcast join-back of 5 per-type totals; shares
    are exact integer quotients."""
    ev = read_events(spark, sf_dir)
    by_hour = (
        ev.select(F.hour("ts").alias("hod"), "event_type")
        .groupBy("hod", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = by_hour.groupBy("event_type").agg(F.sum("n").alias("total"))
    return (
        by_hour.join(F.broadcast(totals), on="event_type")
        .select(
            F.col("hod").cast("bigint"),
            "event_type",
            F.col("n").cast("bigint"),
            (F.col("n") / F.col("total")).alias("share"),
        )
        .orderBy("hod", "event_type")
    )


_ORACLE_SEASONALITY = """
WITH by_hour AS (
  SELECT extract(hour FROM ts::TIMESTAMP) AS hod, event_type,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
totals AS (SELECT event_type, sum(n) AS total FROM by_hour GROUP BY 1)
SELECT hod::BIGINT AS hod, event_type, n::BIGINT AS n,
       n::DOUBLE / total AS share
FROM by_hour JOIN totals USING (event_type)
ORDER BY hod, event_type
"""


def q_parts_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (brand, size-bucket): all four grouping sets in ONE
    Expand + hash-aggregate pass (the cross-classified twin of the
    ROLLUP hierarchy in sales_rollup). grouping_id bit-matches DuckDB's
    GROUPING; retail-price averages follow the round-9 float policy."""
    part = _t(spark, sf_dir, "part")
    bucket = (F.col("p_size") / 10).cast("bigint")
    return (
        part.select(
            "p_brand",
            bucket.alias("size_bucket"),
            "p_retailprice",
        )
        .cube("p_brand", "size_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.avg("p_retailprice"), 9).alias("avg_price"),
            F.grouping_id().alias("lvl"),
        )
    )


_ORACLE_PARTS_CUBE = """
SELECT p_brand, (p_size // 10)::BIGINT AS size_bucket,
       count(*)::BIGINT AS n_parts,
       round(avg(p_retailprice), 9) AS avg_price,
       GROUPING(p_brand, (p_size // 10)::BIGINT) AS lvl
FROM part
GROUP BY CUBE (p_brand, (p_size // 10)::BIGINT)
"""


def q_dup_ratio_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality dashboard metric: per-source exact-duplicate ratio
    (docs whose normalized fingerprint appears more than once corpus-
    wide count as duplicated). One fingerprint aggregate + a broadcast
    join-back of the per-fingerprint counts; the ratio is an exact
    integer quotient."""
    from cs6300_vectordbs_spark.functions.text import doc_fingerprint

    docs = _t(spark, sf_dir, "documents")
    fp = docs.select("doc_id", "source", doc_fingerprint("text").alias("fp"))
    counts = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("n_same"))
    return (
        fp.join(F.broadcast(counts), on="fp")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n_same") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_duplicated"),
            (
                F.sum(F.when(F.col("n_same") > 1, 1).otherwise(0))
                / F.count(F.lit(1))
            ).alias("dup_ratio"),
        )
        .orderBy("source")
    )


_ORACLE_DUP_RATIO = """
WITH fp AS (
  SELECT doc_id, source,
         substr(md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))), 1, 16)
           AS fp
  FROM documents
),
counts AS (SELECT fp, count(*) AS n_same FROM fp GROUP BY fp)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(CASE WHEN n_same > 1 THEN 1 ELSE 0 END)::BIGINT AS n_duplicated,
       (sum(CASE WHEN n_same > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*))
         AS dup_ratio
FROM fp JOIN counts USING (fp)
GROUP BY source
ORDER BY source
"""


def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-data quality profile: per-label L2-norm distribution and
    zero/degenerate-vector counts — the sanity pass before any
    similarity work (norm-0 vectors silently poison cosine math).
    Norms are the unrolled codegen expression computed once per row;
    the per-label aggregate is a 10-group shuffle."""
    from cs6300_vectordbs_spark.functions.vector import l2_norm

    emb = _t(spark, sf_dir, "embeddings")
    n = l2_norm("embedding", EMB_DIM)
    return (
        emb.select("label", n.alias("norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("norm"), 9).alias("avg_norm"),
            F.min("norm").alias("min_norm"),
            F.max("norm").alias("max_norm"),
            F.sum(F.when(F.col("norm") == 0.0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_zero"),
        )
        .orderBy("label")
    )


_ORACLE_NORM_STATS = """
WITH n AS (
  SELECT label,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS norm
  FROM embeddings
)
SELECT label, count(*)::BIGINT AS n_vectors,
       round(avg(norm), 9) AS avg_norm,
       min(norm) AS min_norm, max(norm) AS max_norm,
       sum(CASE WHEN norm = 0.0 THEN 1 ELSE 0 END)::BIGINT AS n_zero
FROM n GROUP BY label ORDER BY label
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week,
    counted per subsequent activity-week offset — the standard growth
    matrix. Two aggregates: per-user first week (groupBy user, map-side
    combine), then distinct (cohort, offset, user) counts. The
    first-week table joins back BROADCAST (users << events); week
    arithmetic is pure integer epoch-day math, identical in any
    engine."""
    ev = read_events(spark, sf_dir)
    # floor-division (matches DuckDB //) — plain cast truncates toward
    # zero and disagrees for any event before the anchor date.
    week = F.floor(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01")) / 7
    ).cast("bigint")
    acts = ev.select("user_id", week.alias("week"))
    first = acts.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        acts.join(F.broadcast(first), on="user_id")
        .select(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
            "user_id",
        )
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


_ORACLE_RETENTION = """
WITH acts AS (
  SELECT user_id,
         (datediff('day', DATE '2024-01-01', ts::TIMESTAMP::DATE) // 7)::BIGINT
           AS week
  FROM events
),
first AS (SELECT user_id, min(week) AS cohort_week FROM acts GROUP BY 1)
SELECT cohort_week, week_offset, count(*)::BIGINT AS n_users
FROM (
  SELECT DISTINCT f.cohort_week, a.week - f.cohort_week AS week_offset,
         a.user_id
  FROM acts a JOIN first f USING (user_id)
)
GROUP BY 1, 2
ORDER BY 1, 2
"""


def q_props_map_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP-type family: parse props into map<string,bigint> with
    from_json, explode to (key, value) pairs, aggregate per key. The
    parse + explode are map-side generators fused after the scan; only
    the tiny per-key aggregate shuffles. (The testdata's props carries
    one key per row — the plan is the general N-key shape.)"""
    ev = read_events(spark, sf_dir)
    m = F.from_json(F.col("props"), "map<string,bigint>")
    return (
        ev.select(F.explode(m).alias("key", "val"))
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("val").alias("sum_val"),
            F.round(F.avg("val"), 9).alias("avg_val"),
        )
        .orderBy("key")
    )


_ORACLE_PROPS_MAP = """
WITH kv AS (
  SELECT unnest(json_keys(props)) AS key,
         json_extract_string(props, '$.' || unnest(json_keys(props)))::BIGINT
           AS val
  FROM events
)
SELECT key, count(*)::BIGINT AS n, sum(val)::BIGINT AS sum_val,
       round(avg(val), 9) AS avg_val
FROM kv GROUP BY key ORDER BY key
"""


def q_above_average_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape (customers above their segment's mean
    balance) done scale-first: aggregate the 5-row per-segment means,
    broadcast them BACK onto the scan, filter. A window-function
    formulation would shuffle the whole table on 5 skewed segment keys;
    the join-back touches the fact table once with no wide shuffle.
    The comparison uses the round(9) mean on BOTH engines so the
    boundary is the same bit pattern (repo float policy)."""
    cust = _t(spark, sf_dir, "customer")
    seg = cust.groupBy("c_mktsegment").agg(
        F.round(F.avg("c_acctbal"), 9).alias("seg_avg")
    )
    return (
        cust.join(F.broadcast(seg), on="c_mktsegment")
        .filter(F.col("c_acctbal") > F.col("seg_avg"))
        .select(
            F.col("c_custkey").cast("bigint"),
            "c_name",
            "c_mktsegment",
            "c_acctbal",
            "seg_avg",
        )
    )


_ORACLE_ABOVE_AVG = """
WITH seg AS (
  SELECT c_mktsegment, round(avg(c_acctbal), 9) AS seg_avg
  FROM customer GROUP BY c_mktsegment
)
SELECT c_custkey, c_name, c_mktsegment, c_acctbal, seg_avg
FROM customer JOIN seg USING (c_mktsegment)
WHERE c_acctbal > seg_avg
"""


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: hourly event counts in wide format, one column per type.

    The pivot value list is EXPLICIT — with an inferred list Spark runs
    an extra distinct-collect job over the full input before planning
    (a hidden scan at 100 TB) and the output schema becomes
    data-dependent. With explicit values the pivot compiles to one
    partial+final hash aggregate of CASE-WHEN counts — exactly the
    conditional-aggregation SQL the oracle spells out."""
    ev = read_events(spark, sf_dir)
    return (
        ev.withColumn(
            "hour_start", F.date_format(F.date_trunc("hour", "ts"),
                                        "yyyy-MM-dd HH:mm:ss")
        )
        .groupBy("hour_start")
        .pivot("event_type", _EVENT_TYPES)
        .count()
        .select(
            "hour_start",
            *[
                F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}")
                for t in _EVENT_TYPES
            ],
        )
    )


_ORACLE_PIVOT = f"""
SELECT strftime(date_trunc('hour', ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S')
         AS hour_start,
       {", ".join(f"count(*) FILTER (event_type = '{t}')::BIGINT AS n_{t}" for t in _EVENT_TYPES)}
FROM events
GROUP BY 1
"""


def q_fresh_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (EXCEPT DISTINCT): content fingerprints present in
    the 10%-sample slice but in NO document of the complement — "what is
    genuinely new in this batch vs the corpus". Spark compiles except()
    to a left-anti hash join on all columns after per-side distinct —
    the same shuffle shape as the anti-join family, no sort."""
    from cs6300_vectordbs_spark.functions.text import doc_fingerprint
    from cs6300_vectordbs_spark.operators.sampling import hash_bucket

    docs = _t(spark, sf_dir, "documents")
    fp = docs.select(
        hash_bucket("doc_id", 100).alias("bucket"),
        doc_fingerprint("text").alias("fingerprint"),
    )
    sample = fp.filter(F.col("bucket") < 10).select("fingerprint")
    rest = fp.filter(F.col("bucket") >= 10).select("fingerprint")
    # subtract == EXCEPT DISTINCT (dedups the left side before the
    # anti-join); exceptAll+distinct would be bag difference and keeps a
    # fingerprint that appears twice in the sample and once in rest.
    return sample.subtract(rest)


_ORACLE_FRESH = f"""
WITH fp AS (
  SELECT {_SQL_SAMPLE10} AS in_sample,
         substr(md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))), 1, 16)
           AS fingerprint
  FROM documents
)
SELECT fingerprint FROM fp WHERE in_sample
EXCEPT
SELECT fingerprint FROM fp WHERE NOT in_sample
"""


def q_latency_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx twin of latency_percentiles — the sketch the
    exact percentile swaps to at 100 TB (bounded-memory mergeable
    summary, no global sort). Sketch internals are engine-specific, so
    this entry is rows-only checked by the driver; the accuracy bound
    vs the exact percentiles is pinned by a pytest tolerance test."""
    ev = read_events(spark, sf_dir)
    acc = 10000
    return ev.agg(
        F.percentile_approx("value", 0.5, acc).alias("p50"),
        F.percentile_approx("value", 0.95, acc).alias("p95"),
        F.percentile_approx("value", 0.99, acc).alias("p99"),
    )


def _enriched_shape(out: DataFrame) -> DataFrame:
    return out.select(
        "c_mktsegment",
        "event_type",
        F.col("n_events").cast("bigint"),
        F.round("sum_value", 9).alias("sum_value"),
    )


def q_events_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-static enrichment join (events joined
    to the broadcast customer dimension, aggregated per segment/type)."""
    from cs6300_vectordbs_spark.streaming.events import enriched_event_stats

    out = enriched_event_stats(
        read_events(spark, sf_dir), _t(spark, sf_dir, "customer")
    )
    return _enriched_shape(out)


def q_events_enriched_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: each micro-batch probes the broadcast static
    dimension — STATELESS (no watermark, no state store), the canonical
    enrichment shape for a 100 TB/day event feed. Full value-hash check
    against the batch oracle."""
    from cs6300_vectordbs_spark.streaming.events import (
        enriched_event_stats,
        read_events_stream,
        run_stream_to_memory,
    )

    out = enriched_event_stats(
        read_events_stream(spark, sf_dir), _t(spark, sf_dir, "customer")
    )
    run_stream_to_memory(out, query_name="events_enriched_stream")
    return _enriched_shape(spark.table("events_enriched_stream"))


_ORACLE_EVENTS_ENRICHED = """
SELECT c_mktsegment, event_type,
       count(*)::BIGINT AS n_events,
       round(sum(value), 9) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
"""


def q_events_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once restoration under simulated double delivery: union
    of two reads of the stream, deduped by event_id within the
    watermark. The untouched batch table is the full value-hash oracle
    — every event must come out exactly once, bit-identical."""
    from cs6300_vectordbs_spark.streaming.events import (
        dedup_events_stream,
        run_stream_to_memory,
    )

    out = dedup_events_stream(spark, sf_dir)
    run_stream_to_memory(
        out, query_name="events_dedup_stream", output_mode="append"
    )
    return spark.table("events_dedup_stream").select(
        F.col("event_id").cast("bigint"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
        F.col("user_id").cast("bigint"),
        "event_type",
        "value",
    )


_ORACLE_DEDUP_STREAM = """
SELECT event_id,
       strftime(ts::TIMESTAMP, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
       user_id, event_type, value
FROM events
"""


def q_user_sessions_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sessionization (applyInPandasWithState, one
    in-flight session per user in state, event-time timeouts). With the
    availableNow trigger, one input file and an effectively-infinite
    watermark delay, the emitted set is deterministic: every closed
    session, i.e. all sessions except each user's LAST — which is the
    SQL the oracle expresses. The batch window-function twin is
    ``user_sessions``; this entry proves the stateful streaming operator
    against a full value-hash oracle.
    """
    from cs6300_vectordbs_spark.streaming.events import (
        read_events_stream,
        run_stream_to_memory,
    )
    from cs6300_vectordbs_spark.streaming.sessions import sessionize_stream

    stream = read_events_stream(spark, sf_dir)
    out = sessionize_stream(stream, gap_minutes=30, watermark="3650 days")
    run_stream_to_memory(out, "user_sessions_stream", output_mode="append")
    return spark.table("user_sessions_stream").select(
        F.col("user_id").cast("bigint"),
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_start"
        ),
        F.col("n_events").cast("bigint"),
        F.round("sum_value", 9).alias("sum_value"),
    )


_ORACLE_SESSIONS_STREAM = """
WITH marked AS (
  SELECT user_id, ts::TIMESTAMP AS t, event_id, value,
         CASE WHEN lag(epoch_us(ts::TIMESTAMP)) OVER w IS NULL THEN 1
              WHEN epoch_us(ts::TIMESTAMP) - lag(epoch_us(ts::TIMESTAMP)) OVER w
                   > 1800000000 THEN 1
              ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id)
), sess AS (
  SELECT user_id, t, value,
         sum(ns) OVER (PARTITION BY user_id ORDER BY t, event_id
                       ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
), agg AS (
  SELECT user_id, sid,
         strftime(min(t), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
         count(*)::BIGINT AS n_events, round(sum(value), 9) AS sum_value
  FROM sess GROUP BY user_id, sid
), last AS (SELECT user_id, max(sid) AS mx FROM agg GROUP BY user_id)
SELECT a.user_id::BIGINT AS user_id, a.session_start, a.n_events, a.sum_value
FROM agg a JOIN last l ON a.user_id = l.user_id AND a.sid < l.mx
"""


def q_judge_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference F2/F3/F4 parity: parse 'Score:'/'Explanation:' responses
    (/root/reference/src/queries.py:193-208), clamp to [1,5]
    (src/queries.py:202-204), default 3.0 on parse failure
    (src/queries.py:194), threshold is_relevant at >= 4.0
    (src/queries.py:25-29). Responses are synthesized deterministically
    from doc_id to cover all four parser branches; the score text is
    built from integers on both engines so no float-formatting
    differences can leak in.
    """
    from cs6300_vectordbs_spark.operators.judge import (
        is_relevant,
        parse_judge_response,
    )

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4
    s = F.concat(
        (F.col("doc_id") % 9).cast("string"),
        F.lit("."),
        (F.col("doc_id") % 10).cast("string"),
    )
    resp = (
        F.when(m == 0, F.concat(F.lit("Score: "), s, F.lit("\nExplanation: topical match")))
        .when(m == 1, F.concat(F.lit("Score: "), s))
        .when(m == 2, F.lit("the model rambled and produced no score line"))
        .otherwise(F.lit("Score: N/A\nExplanation: parser must fall back"))
    )
    parsed = parse_judge_response(resp)
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        parsed["score"].alias("score"),
        parsed["explanation"].alias("explanation"),
        is_relevant(parsed["score"]).cast("bigint").alias("is_relevant"),
    )


_ORACLE_JUDGE = """
WITH resp AS (
  SELECT doc_id,
         CASE
           WHEN doc_id % 4 = 0 THEN 'Score: ' || (doc_id % 9)::VARCHAR || '.'
                || (doc_id % 10)::VARCHAR || chr(10) || 'Explanation: topical match'
           WHEN doc_id % 4 = 1 THEN 'Score: ' || (doc_id % 9)::VARCHAR || '.'
                || (doc_id % 10)::VARCHAR
           WHEN doc_id % 4 = 2 THEN 'the model rambled and produced no score line'
           ELSE 'Score: N/A' || chr(10) || 'Explanation: parser must fall back'
         END AS r
  FROM documents
), parsed AS (
  SELECT doc_id,
         greatest(1.0, least(5.0, coalesce(
           try_cast(regexp_extract(r, 'Score:\\s*([0-9.]+)', 1) AS DOUBLE),
           3.0))) AS score,
         regexp_extract(r, 'Explanation:\\s*(.*)', 1) AS explanation
  FROM resp
)
SELECT doc_id::BIGINT AS doc_id, score, explanation,
       (CASE WHEN score >= 4.0 THEN 1 ELSE 0 END)::BIGINT AS is_relevant
FROM parsed
"""


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    marked = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1_800_000_000), F.lit(1)).otherwise(F.lit(0)),
    )
    return (
        marked.groupBy("user_id")
        .agg(
            F.sum("new_session").cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
        .select(F.col("user_id").cast("bigint"), "n_sessions", "n_events")
    )


_ORACLE_SESSIONS = """
WITH marked AS (
  SELECT user_id,
    CASE WHEN epoch_us(ts::TIMESTAMP)
              - lag(epoch_us(ts::TIMESTAMP))
                  OVER (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id)
           IS NULL THEN 1
         WHEN epoch_us(ts::TIMESTAMP)
              - lag(epoch_us(ts::TIMESTAMP))
                  OVER (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id)
           > 1800000000 THEN 1
         ELSE 0 END AS new_session
  FROM events
)
SELECT user_id, sum(new_session)::BIGINT AS n_sessions,
       count(*)::BIGINT AS n_events
FROM marked GROUP BY user_id
"""


def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session rows via the BUILT-IN session_window operator (the
    streaming-native twin of the lag-based q_user_sessions): dynamic
    gap-merge windows, one hash aggregate keyed by (merged window,
    user). Merge rule: windows overlap iff next_ts < prev_ts + gap, so
    a gap of EXACTLY 30 min starts a new session — the oracle's island
    marker uses >= to mirror that closed/open boundary. Works unchanged
    on a stream (with watermark-based state eviction); here the batch
    run gets the full value-hash oracle."""
    ev = read_events(spark, sf_dir)
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("user_id").cast("bigint"),
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_end"
            ),
            F.col("n_events").cast("bigint"),
        )
    )


_ORACLE_SESSION_WINDOWS = """
WITH marked AS (
  SELECT user_id, ts::TIMESTAMP AS ts, event_id,
    CASE WHEN epoch_us(ts::TIMESTAMP)
              - lag(epoch_us(ts::TIMESTAMP))
                  OVER (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id)
           IS NULL THEN 1
         WHEN epoch_us(ts::TIMESTAMP)
              - lag(epoch_us(ts::TIMESTAMP))
                  OVER (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id)
           >= 1800000000 THEN 1
         ELSE 0 END AS new_session
  FROM events
),
numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM marked
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(max(ts) + INTERVAL 30 MINUTE,
                '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       count(*)::BIGINT AS n_events
FROM numbered
GROUP BY user_id, sess_id
"""


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval twin of the vector top-k: Okapi BM25 over an
    inverted postings table (operators/text_search.py), queries = first
    5 tokens of a 10% hash-sample of the corpus. Scores round(9) before
    ranking, ties by doc id — deterministic across engines despite
    ln()'s ulp differences."""
    docs = _t(spark, sf_dir, "documents")
    qs = hash_sample(docs, "doc_id", pct=10).select(
        F.col("doc_id").alias("query_id"),
        template_query("text", 5, prefix="").alias("query"),
    )
    out = bm25_topk(docs, qs, k=5)
    return out.select(
        F.col("query_id").cast("bigint"),
        F.col("rank").cast("bigint"),
        F.col("doc_id").cast("bigint"),
        "score",
    )


_BM25_K1 = 1.2
_BM25_B = 0.75

_ORACLE_BM25 = f"""
WITH toks AS (
  SELECT doc_id AS id, unnest({_SQL_TOKS}) AS s FROM documents
),
postings AS (SELECT id, s, count(*) AS tf FROM toks GROUP BY id, s),
dl AS (SELECT id, count(*) AS dl FROM toks GROUP BY id),
stats AS (SELECT s, count(*) AS df FROM postings GROUP BY s),
totals AS (
  SELECT count(*) AS n_docs, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl
),
qsel AS (
  SELECT doc_id AS query_id, {_SQL_TOKS}[1:5] AS qtk
  FROM documents
  WHERE ((doc_id % 2147483648) * 2654435761) % 4294967296 % 100 < 10
),
qt AS (SELECT query_id, unnest(list_distinct(qtk)) AS s FROM qsel),
hit AS (
  SELECT qt.query_id, p.id, p.tf, st.df, d.dl, t.n_docs, t.avgdl
  FROM qt JOIN postings p USING (s) JOIN stats st USING (s)
  JOIN dl d ON d.id = p.id, totals t
),
scored AS (
  SELECT query_id, id AS doc_id,
    round(sum(
      ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
      * tf * {_BM25_K1 + 1.0!r}
      / (tf + {_BM25_K1!r} * ({1.0 - _BM25_B!r} + {_BM25_B!r} * dl / avgdl))
    ), 9) AS score
  FROM hit GROUP BY query_id, id
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::BIGINT AS rank, doc_id, score
FROM ranked WHERE rank <= 5
"""


def q_bm25_pruned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bm25_topk with the stop-term df ceiling (max_df_ratio=0.8): terms
    in >80% of docs are dropped from the TERM TABLE before the postings
    join — they contribute near-zero IDF but dominate the candidate
    volume (the skewed hot keys). The pruning is part of the scoring
    contract, so the oracle applies the identical ceiling. (The
    synthetic corpus draws from a tiny shared vocabulary — median query
    term df is ~78%% of docs — so the ceiling sits at 0.8; on a natural
    corpus 0.1-0.3 is typical.)"""
    docs = _t(spark, sf_dir, "documents")
    qs = hash_sample(docs, "doc_id", pct=10).select(
        F.col("doc_id").alias("query_id"),
        template_query("text", 5, prefix="").alias("query"),
    )
    out = bm25_topk(docs, qs, k=5, max_df_ratio=0.8)
    return out.select(
        F.col("query_id").cast("bigint"),
        F.col("rank").cast("bigint"),
        F.col("doc_id").cast("bigint"),
        "score",
    )


_ORACLE_BM25_PRUNED = _ORACLE_BM25.replace(
    "qsel AS (",
    "pruned AS (\n"
    "  SELECT st.s, st.df FROM stats st, totals t\n"
    "  WHERE st.df <= 0.8 * t.n_docs\n"
    "),\n"
    "qsel AS (",
).replace("JOIN stats st USING (s)", "JOIN pruned st USING (s)")


def q_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: exact cosine top-10 recall stage, then a
    cross-encoder PRECISION stage re-ranking each query's candidates
    to the final top-3. The cross-encoder is the deterministic
    md5-pair-score stand-in (operators/rerank.py — the real model
    plugs in via rerank_with_model, same contract, tested in
    tests/test_model_hooks.py). Scale shape: the expensive scorer
    touches only O(queries x 10) candidate pairs, never the corpus;
    text joins are equi-joins on doc id; final top-3 compiles to
    WindowGroupLimit. Reference parity: the rerank slot the reference
    delegates to its vector DB's distance ordering
    (/root/reference/src/chroma.py:77-96)."""
    from cs6300_vectordbs_spark.operators.rerank import rerank_topk

    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    cand = similarity_topk(
        emb, _query_batch(emb), 10, exclude_self=True, dim=EMB_DIM
    ).select("query_id", "vec_id")
    pairs = (
        cand.join(docs, cand["vec_id"] == docs["doc_id"])
        .select("query_id", F.col("vec_id"), F.col("text").alias("doc_text"))
        .join(
            docs.select(
                F.col("doc_id").alias("qid"),
                F.col("text").alias("query_text"),
            ),
            F.col("query_id") == F.col("qid"),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            "query_text",
            "doc_text",
        )
    )
    out = rerank_topk(pairs, 3)
    return out.select(
        F.col("query_id").cast("bigint"),
        "rank",
        F.col("doc_id").cast("bigint"),
        "ce_score",
    )


_ORACLE_RERANK = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS vec_id, {_SQL_COSINE} AS sim
  FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}
), cand AS (
  SELECT query_id, vec_id
  FROM (SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, vec_id ASC) AS r
        FROM scored)
  WHERE r <= 10
), pairs AS (
  SELECT c.query_id, c.vec_id AS doc_id,
         (('0x' || substr(md5('ce|' || qd.text || '|' || dd.text), 1, 15))
            ::BIGINT % 1000001) / 1000000.0 AS ce_score
  FROM cand c
  JOIN documents dd ON c.vec_id = dd.doc_id
  JOIN documents qd ON c.query_id = qd.doc_id
)
SELECT query_id, rank::BIGINT AS rank, doc_id, ce_score
FROM (SELECT query_id, doc_id, ce_score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY ce_score DESC, doc_id ASC) AS rank
      FROM pairs)
WHERE rank <= 3
"""


def q_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    ranking and the embedding cosine ranking (pool depth 20 each,
    fused top-5). RRF terms come from integer ranks only, so the fused
    scores are bit-exact across engines with no rounding."""
    docs = _t(spark, sf_dir, "documents")
    qs = hash_sample(docs, "doc_id", pct=10).select(
        F.col("doc_id").alias("query_id"),
        template_query("text", 5, prefix="").alias("query"),
    )

    # The two retrieval arms are mutually independent until the fusion
    # union, and EACH serializes driver-synchronized work during
    # construction (bm25_topk: the postings persist + the collection-
    # constants collect; similarity_topk: the bounded query-batch load
    # that evaluates embed_text over the sample). Built from a thread
    # pool so Spark overlaps those jobs (guide §2.6 — the tuning-report
    # pattern). Results and plan shapes are identical.
    from concurrent.futures import ThreadPoolExecutor

    def _lex():
        return bm25_topk(docs, qs, k=20)

    def _vec():
        # NULL text embeds to nothing: dropped from the vector corpus
        # on both sides (oracle: WHERE text IS NOT NULL in the corpus
        # CTE).
        corpus = docs.filter(F.col("text").isNotNull()).select(
            "doc_id", embed_text("text", dim=16).alias("embedding")
        )
        qv = qs.withColumn("query_vec", embed_text("query", dim=16))
        return similarity_topk(
            corpus, qv, 20, corpus_id="doc_id", exclude_self=False
        ).select("query_id", "doc_id", "rank")

    with ThreadPoolExecutor(max_workers=2) as pool:
        lex_f, vec_f = pool.submit(_lex), pool.submit(_vec)
        lex, vec = lex_f.result(), vec_f.result()
    out = rrf_fuse([lex, vec], k=5)
    return out.select(
        F.col("query_id").cast("bigint"),
        F.col("rank").cast("bigint"),
        F.col("doc_id").cast("bigint"),
        "rrf_score",
    )


_SQL_EMBED16_QQ = (
    "[(('0x' || substr(md5('e' || j || '|' || query), 1, 15))::BIGINT"
    " % 2000001) / 1000000.0 - 1.0 for j in generate_series(0, 15)]"
)


# Lazy: references _SQL_EMBED16_DOC, defined later in the module.
def _oracle_hybrid() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id AS id, unnest({_SQL_TOKS}) AS s FROM documents
),
postings AS (SELECT id, s, count(*) AS tf FROM toks GROUP BY id, s),
dl AS (SELECT id, count(*) AS dl FROM toks GROUP BY id),
stats AS (SELECT s, count(*) AS df FROM postings GROUP BY s),
totals AS (
  SELECT count(*) AS n_docs, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl
),
qsel AS (
  SELECT doc_id AS query_id,
         coalesce(array_to_string(({_SQL_TOKS})[1:5], ' '), '') AS query
  FROM documents
  WHERE ((doc_id % 2147483648) * 2654435761) % 4294967296 % 100 < 10
),
qt AS (
  SELECT query_id,
         unnest(list_distinct(list_filter(
           regexp_split_to_array(lower(trim(query)), '\\s+'), t -> t != ''
         ))) AS s
  FROM qsel
),
hit AS (
  SELECT qt.query_id, p.id, p.tf, st.df, d.dl, t.n_docs, t.avgdl
  FROM qt JOIN postings p USING (s) JOIN stats st USING (s)
  JOIN dl d ON d.id = p.id, totals t
),
bm_scored AS (
  SELECT query_id, id AS doc_id,
    round(sum(
      ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
      * tf * {1.2 + 1.0!r}
      / (tf + {1.2!r} * ({1.0 - 0.75!r} + {0.75!r} * dl / avgdl))
    ), 9) AS score
  FROM hit GROUP BY query_id, id
),
bm_ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM bm_scored
),
corpus AS (
  SELECT doc_id, {_SQL_EMBED16_DOC} AS embedding FROM documents
  WHERE text IS NOT NULL
),
qv AS (SELECT query_id, {_SQL_EMBED16_QQ} AS v FROM qsel),
vec_scored AS (
  SELECT q.query_id, c.doc_id,
    list_dot_product(q.v, c.embedding) /
    (sqrt(list_dot_product(q.v, q.v)) *
     sqrt(list_dot_product(c.embedding, c.embedding))) AS sim
  FROM qv q CROSS JOIN corpus c
),
vec_ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, doc_id ASC) AS rank
  FROM vec_scored
),
pool AS (
  SELECT query_id, doc_id, 1.0 / (60 + rank) AS term
  FROM bm_ranked WHERE rank <= 20
  UNION ALL
  SELECT query_id, doc_id, 1.0 / (60 + rank) AS term
  FROM vec_ranked WHERE rank <= 20
),
fused AS (
  SELECT query_id, doc_id, sum(term) AS rrf_score
  FROM pool GROUP BY query_id, doc_id
),
final AS (
  SELECT query_id, doc_id, rrf_score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rrf_score DESC, doc_id ASC) AS rank
  FROM fused
)
SELECT query_id, rank::BIGINT AS rank, doc_id, rrf_score
FROM final WHERE rank <= 5
"""  # noqa: E501 — end _oracle_hybrid


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: unshipped-order revenue for one market segment.

    Plan: customer is filtered to one segment then joined to orders on
    c_custkey — both big tables at scale, so this is a shuffle hash
    join on the key (NO broadcast hint; AQE may still pick one at small
    SF). lineitem joins on l_orderkey (its natural shuffle key), the
    revenue aggregate is decimal-exact with map-side partials, and the
    top-10 compiles to TakeOrderedAndProject (heap merge, no global
    sort). Date filters push down to the parquet scans.
    """
    cutoff = "1998-07-01"
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(price * (F.lit(1).cast("decimal(3,0)") - disc))
            .cast("double").alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select(
            F.col("l_orderkey").cast("bigint"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
            "revenue",
        )
    )


_ORACLE_SHIPPING = """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       o_orderpriority,
       sum(l_extendedprice::DECIMAL(12,2)
           * (1 - l_discount::DECIMAL(4,2)))::DOUBLE AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-07-01'
  AND l_shipdate > TIMESTAMP '1998-07-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's yearly share of PROMO-part revenue.

    Plan: part is filtered then joined on l_partkey, supplier on
    l_suppkey, orders on l_orderkey — the lineitem side never
    re-partitions more than once per key. nation (25 rows) is
    broadcast. The share is a single IEEE divide of two decimal-exact
    sums, so no rounding policy is needed.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supp = _t(spark, sf_dir, "supplier")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    orders = _t(spark, sf_dir, "orders")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    rev = price * (F.lit(1).cast("decimal(3,0)") - disc)
    zero = F.lit(0).cast("decimal(16,4)")
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("n_name") == "NATION_3", rev).otherwise(zero))
            .alias("nation_rev"),
            F.sum(rev).alias("total_rev"),
        )
        .select(
            F.col("o_year").cast("bigint"),
            (F.col("nation_rev").cast("double")
             / F.col("total_rev").cast("double")).alias("mkt_share"),
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
    )


_ORACLE_MARKET_SHARE = """
WITH rev AS (
  SELECT year(o_orderdate) AS o_year, n_name,
         l_extendedprice::DECIMAL(12,2)
           * (1 - l_discount::DECIMAL(4,2)) AS r
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  WHERE p_type = 'PROMO'
)
SELECT o_year,
  (sum(CASE WHEN n_name = 'NATION_3' THEN r
            ELSE 0::DECIMAL(16,4) END)::DOUBLE
   / sum(r)::DOUBLE) AS mkt_share,
  sum(r)::DOUBLE AS total_revenue
FROM rev
GROUP BY o_year
"""


def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority counts via an EXISTS SEMI-join.

    Plan: ``left_semi`` join orders->lineitem on the equi key
    l_orderkey = o_orderkey with the non-equi residual
    l_shipdate > o_orderdate evaluated inside the join — Spark keeps
    the equi key as the shuffle/broadcast key and applies the residual
    as a join filter, so there is NO cartesian blowup and the semi
    form never duplicates orders (an order with 7 qualifying lineitems
    still counts once — no post-join distinct needed). The date-range
    filter pushes to the orders parquet scan. At 100 TB both sides
    shuffle on the natural orderkey; AQE handles skew.
    """
    lo, hi = "1997-01-01", "1997-04-01"
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


_ORACLE_ORDER_PRIORITY = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with NO recent orders, via ANTI-join.

    Plan: ``left_anti`` join customer->orders on c_custkey with the
    orders side pre-filtered to the recent window (filter pushes below
    the join to the parquet scan, shrinking the build side by ~10x).
    The anti join is a plain equi hash join — null-safe, no distinct
    needed on the right side. The per-segment average is a shuffled
    float aggregate -> round(9) on both engines per the float policy.
    """
    cutoff = "2001-01-01"
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    recent = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= cutoff)
    return (
        cust.join(
            recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_dormant"),
            F.round(F.avg("c_acctbal"), 9).alias("avg_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


_ORACLE_DORMANT = """
SELECT c_mktsegment,
       count(*) AS n_dormant,
       round(avg(c_acctbal), 9) AS avg_acctbal
FROM customer c
WHERE c_acctbal > 0
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2001-01-01')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def q_sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP revenue: (region, nation) -> region -> total.

    Plan: supplier->nation->region dims all broadcast; the fact scans
    once and the ROLLUP compiles to a single Expand + hash aggregate
    (each input row emits 3 grouping-set rows BEFORE the shuffle, so
    partial aggregation still applies and the shuffle moves at most
    3x|groups| rows, not 3x|fact|). ``grouping_id()`` uses the standard
    bit encoding (first column = MSB) — identical to DuckDB's
    GROUPING(a, b), so the level marker hash-matches. Money in exact
    DECIMAL, cast to DOUBLE at the end.
    """
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (
        li.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(
            F.sum(price * (F.lit(1).cast("decimal(3,0)") - disc))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
            F.grouping_id().alias("lvl"),
        )
    )


_ORACLE_ROLLUP = """
SELECT r_name, n_name,
       sum(l_extendedprice::DECIMAL(12,2)
           * (1 - l_discount::DECIMAL(4,2)))::DOUBLE AS revenue,
       count(*) AS n_items,
       GROUPING(r_name, n_name) AS lvl
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
"""


def q_revenue_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-window family: monthly revenue per nation with LAG
    month-over-month delta and PERCENT_RANK of each month within its
    nation. The windows run on the AGGREGATED grid (25 nations x ~80
    months), thousands of times smaller than the fact table — the
    orders scan feeds one partial+final aggregate and never shuffles
    for the windows. Money stays DECIMAL through the lag subtraction
    (exact), doubles only at the end; percent_rank orders by
    (revenue, month) — a total order, so the rank fractions are
    engine-independent exact rationals."""
    from pyspark.sql.window import Window

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    price = F.col("o_totalprice").cast("decimal(14,2)")
    monthly = (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "n_name", F.date_format("o_orderdate", "yyyy-MM").alias("month")
        )
        .agg(F.sum(price).alias("rev_dec"))
    )
    wlag = Window.partitionBy("n_name").orderBy("month")
    wpr = Window.partitionBy("n_name").orderBy(
        F.col("rev_dec").asc(), F.col("month").asc()
    )
    return monthly.select(
        "n_name",
        "month",
        F.col("rev_dec").cast("double").alias("revenue"),
        (F.col("rev_dec") - F.lag("rev_dec").over(wlag))
        .cast("double")
        .alias("mom_delta"),
        F.percent_rank().over(wpr).alias("rev_pctrank"),
    )


_ORACLE_MOMENTUM = """
WITH monthly AS (
  SELECT n_name, strftime(o_orderdate, '%Y-%m') AS month,
         sum(o_totalprice::DECIMAL(14,2)) AS rev_dec
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
)
SELECT n_name, month,
       rev_dec::DOUBLE AS revenue,
       (rev_dec - lag(rev_dec) OVER (
          PARTITION BY n_name ORDER BY month))::DOUBLE AS mom_delta,
       percent_rank() OVER (
          PARTITION BY n_name ORDER BY rev_dec ASC, month ASC)
         AS rev_pctrank
FROM monthly
"""


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + single-row aggregate — the
    pushdown showcase. All three predicates reach the parquet scan
    (PushedFilters on l_shipdate/l_discount/l_quantity), so row groups
    outside the date/discount range never leave disk; the aggregate is
    one map-side-combined DECIMAL sum, shuffle volume = one row per
    task."""
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(price * disc).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_ORACLE_FORECAST = """
SELECT sum(l_extendedprice::DECIMAL(12,2) * l_discount::DECIMAL(4,2))::DOUBLE
         AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


def q_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + conditional aggregation. lineitem's date
    filter pushes to its scan; the join shuffles both sides on the
    natural orderkey; the CASE-WHEN split into high/low priority counts
    is a partial+final hash aggregate on one 2-value key."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-07-01")
    )
    orders = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias("low_count"),
        )
        .orderBy("l_returnflag")
    )


_ORACLE_PRIORITY_SHIP = """
SELECT l_returnflag,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS high_count,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END)::BIGINT AS low_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1996-07-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake join across the full dimension chain (lineitem ->
    supplier -> nation -> region): every dim side is BROADCAST (nation/
    region are constant-size; supplier grows ~10k rows/SF — still
    broadcast-range at warehouse scale, and AQE would demote it to
    shuffle join if not). The fact table never shuffles for the joins;
    the only exchange is the final low-cardinality groupBy. Money in
    exact DECIMAL (repo float policy)."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    rev = price * (F.lit(1).cast("decimal(3,0)") - disc)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02"))
        .join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
        .select(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            "revenue",
            "n_items",
        )
    )


_ORACLE_REVENUE = """
SELECT r.r_name AS region, n.n_name AS nation,
  sum(l.l_extendedprice::DECIMAL(12,2)
      * (1 - l.l_discount::DECIMAL(4,2)))::DOUBLE AS revenue,
  count(*)::BIGINT AS n_items
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE l.l_shipdate <= '2001-09-02'
GROUP BY r.r_name, n.n_name
"""


# ---------------------------------------------------------------------------
# Temporal / graph / sketch extensions (as-of join, dedup clustering,
# corpus cleaning, cardinality sketch)
# ---------------------------------------------------------------------------

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


def q_asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time attribution: each purchase event joined to the
    user's most recent view at-or-before it (backward-inclusive as-of
    join; union + window merge, ONE shuffle — see operators/asof.py).
    Oracle is DuckDB's native ASOF LEFT JOIN."""
    ev = read_events(spark, sf_dir)
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    vw = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join(
        pur, vw, on="user_id", right_cols=["event_id", "value"],
        tie_cols=["event_id"],
    )
    return out.select(
        F.col("event_id").cast("bigint"),
        F.col("user_id").cast("bigint"),
        F.date_format("ts", _TS_FMT_SPARK).alias("ts"),
        "value",
        F.date_format("ts_matched", _TS_FMT_SPARK).alias("ts_matched"),
        F.col("event_id_matched").cast("bigint"),
        "value_matched",
    )


_ORACLE_ASOF = f"""
WITH pur AS (
  SELECT event_id, user_id, ts::TIMESTAMP AS t, value
  FROM events WHERE event_type = 'purchase'
), vw AS (
  SELECT user_id, ts::TIMESTAMP AS t,
         arg_max(event_id, event_id) AS event_id,
         arg_max(value, event_id) AS value
  FROM events WHERE event_type = 'view'
  GROUP BY user_id, ts::TIMESTAMP
)
SELECT p.event_id, p.user_id,
       strftime(p.t, '{_TS_FMT_DUCK}') AS ts, p.value,
       strftime(v.t, '{_TS_FMT_DUCK}') AS ts_matched,
       v.event_id AS event_id_matched, v.value AS value_matched
FROM pur p ASOF LEFT JOIN vw v
  ON p.user_id = v.user_id AND p.t >= v.t
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS (MinHash-LSH) -> duplicate CLUSTERS via
    connected components (iterative min-label propagation,
    operators/graph.py); cluster_id = min doc id in the component.
    Oracle: recursive-CTE transitive closure over the same pair set."""
    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, num_hashes=_MH_HASHES, bands=_MH_BANDS, shingle_n=3,
        min_jaccard=0.3,
    )
    return dedup_clusters(pairs).select(
        F.col("doc_id").cast("bigint"), F.col("cluster_id").cast("bigint")
    )


def _oracle_clusters() -> str:
    return f"""
WITH RECURSIVE {_minhash_ctes()},
{_SQL_CLOSURE}
SELECT a::BIGINT AS doc_id, least(min(b), a)::BIGINT AS cluster_id
FROM reach GROUP BY a
"""


def q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data corpus cleaning composite: quality floor + lang-id
    gate, drop exact-dup non-canonicals (fingerprint groupBy) and
    near-dup non-canonicals (MinHash-LSH pairs -> connected-component
    clusters, keep the min-id representative)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, num_hashes=_MH_HASHES, bands=_MH_BANDS, shingle_n=3,
        min_jaccard=0.3,
    )
    near_drop = (
        dedup_clusters(pairs)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
    )
    from pyspark.sql.window import Window

    fp = docs.select("doc_id", doc_fingerprint("text").alias("fp"))
    exact_drop = (
        fp.withColumn(
            "keep_id", F.min("doc_id").over(Window.partitionBy("fp"))
        )
        .filter(F.col("doc_id") != F.col("keep_id"))
        .select("doc_id")
    )
    drop = near_drop.unionByName(exact_drop).distinct()
    return (
        docs.select(
            "doc_id",
            "text",
            token_count("text").alias("n_tokens"),
            F.round(quality_score("text"), 9).alias("quality"),
            lang_id("text").alias("lang_guess"),
        )
        .filter((F.col("quality") >= 0.5) & (F.col("lang_guess") == "en"))
        .join(drop, "doc_id", "left_anti")
        .select(
            F.col("doc_id").cast("bigint"),
            F.col("n_tokens").cast("bigint"),
            "quality",
        )
    )


def _oracle_clean_corpus() -> str:
    return f"""
WITH RECURSIVE {_minhash_ctes()},
{_SQL_CLOSURE},
drop_near AS (
  SELECT a AS doc_id FROM reach GROUP BY a HAVING least(min(b), a) != a
),
fp AS (
  SELECT doc_id, substr(md5({_SQL_NORM_TEXT}), 1, 16) AS f FROM documents
),
drop_exact AS (
  SELECT doc_id FROM fp
  QUALIFY doc_id != min(doc_id) OVER (PARTITION BY f)
),
base AS (
  SELECT doc_id, text, {_SQL_TOKS} AS tk,
         len(text) AS nchar,
         len(text) - len(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS npunct
  FROM documents
), counts AS (
  SELECT doc_id, nchar, npunct, len(tk) AS ntok,
    len(list_filter(tk, t -> list_contains(
      ['the','a','an','and','or','of','to','in','is','it'], t))) AS nstop,
    len(list_filter(tk, t -> list_contains(['the','and','of','to','is'], t))) AS n_en,
    len(list_filter(tk, t -> list_contains(['el','la','de','que','los'], t))) AS n_es,
    len(list_filter(tk, t -> list_contains(['der','die','und','das','ist'], t))) AS n_de,
    len(list_filter(tk, t -> list_contains(['le','la','les','des','est'], t))) AS n_fr
  FROM base
), stats AS (
  SELECT doc_id, ntok,
    round(
      0.4 * (least(ntok, 100)::DOUBLE / 100.0)
      + 0.3 * least((CASE WHEN ntok > 0 THEN nstop::DOUBLE / ntok ELSE 0.0 END) * 5.0, 1.0)
      + 0.3 * (1.0 - (CASE WHEN nchar > 0 THEN npunct::DOUBLE / nchar ELSE 0.0 END)),
    9) AS quality,
    CASE WHEN greatest(n_de, n_en, n_es, n_fr) > 0 THEN
      CASE greatest(n_de, n_en, n_es, n_fr)
        WHEN n_de THEN 'de' WHEN n_en THEN 'en'
        WHEN n_es THEN 'es' ELSE 'fr' END
    ELSE 'und' END AS lang_guess
  FROM counts
)
SELECT doc_id::BIGINT AS doc_id, ntok::BIGINT AS n_tokens, quality
FROM stats
WHERE quality >= 0.5 AND lang_guess = 'en'
  AND doc_id NOT IN (
    SELECT doc_id FROM drop_near UNION SELECT doc_id FROM drop_exact
  )
"""


def q_curation_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE end-to-end training-data pipeline as ONE oracle-able query:
    quality floor + lang gate + exact-dup drop + MinHash-LSH near-dup
    clustering (clean_corpus) feeding the distributed concat-and-chunk
    packer (pack_sequences, 256-token budget), aggregated to the
    training-batch manifest a loader consumes: per sequence, how many
    document spans it packs, its token fill, and its first document.
    Every stage is individually oracled elsewhere; this query proves
    the COMPOSITION — gates, dedup survivors, token counts, and the
    global prefix-sum all agree end-to-end with the SQL twin. Scale
    shape: clean_corpus's candidate equi-joins + component rounds,
    then the range-exchange prefix sum; the final manifest aggregate
    is map-side combined on seq_id."""
    from cs6300_vectordbs_spark.operators.packing import pack_sequences

    cleaned = q_clean_corpus(spark, sf_dir).select("doc_id", "n_tokens")
    manifest = pack_sequences(cleaned, budget=256)
    return (
        manifest.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tok"),
            F.min("doc_id").alias("first_doc"),
        )
        .select(
            F.col("seq_id").cast("bigint"),
            F.col("n_docs").cast("bigint"),
            F.col("n_tok").cast("bigint"),
            F.col("first_doc").cast("bigint"),
        )
    )


def _oracle_curation_batches() -> str:
    """The clean_corpus oracle's survivor set piped through the
    pack_sequences oracle's span arithmetic, grouped to the manifest."""
    return f"""
WITH RECURSIVE {_minhash_ctes()},
{_SQL_CLOSURE},
drop_near AS (
  SELECT a AS doc_id FROM reach GROUP BY a HAVING least(min(b), a) != a
),
fp AS (
  SELECT doc_id, substr(md5({_SQL_NORM_TEXT}), 1, 16) AS f FROM documents
),
drop_exact AS (
  SELECT doc_id FROM fp
  QUALIFY doc_id != min(doc_id) OVER (PARTITION BY f)
),
base AS (
  SELECT doc_id, text, {_SQL_TOKS} AS tk,
         len(text) AS nchar,
         len(text) - len(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS npunct
  FROM documents
), counts AS (
  SELECT doc_id, nchar, npunct, len(tk) AS ntok,
    len(list_filter(tk, t -> list_contains(
      ['the','a','an','and','or','of','to','in','is','it'], t))) AS nstop,
    len(list_filter(tk, t -> list_contains(['the','and','of','to','is'], t))) AS n_en,
    len(list_filter(tk, t -> list_contains(['el','la','de','que','los'], t))) AS n_es,
    len(list_filter(tk, t -> list_contains(['der','die','und','das','ist'], t))) AS n_de,
    len(list_filter(tk, t -> list_contains(['le','la','les','des','est'], t))) AS n_fr
  FROM base
), stats AS (
  SELECT doc_id, ntok,
    round(
      0.4 * (least(ntok, 100)::DOUBLE / 100.0)
      + 0.3 * least((CASE WHEN ntok > 0 THEN nstop::DOUBLE / ntok ELSE 0.0 END) * 5.0, 1.0)
      + 0.3 * (1.0 - (CASE WHEN nchar > 0 THEN npunct::DOUBLE / nchar ELSE 0.0 END)),
    9) AS quality,
    CASE WHEN greatest(n_de, n_en, n_es, n_fr) > 0 THEN
      CASE greatest(n_de, n_en, n_es, n_fr)
        WHEN n_de THEN 'de' WHEN n_en THEN 'en'
        WHEN n_es THEN 'es' ELSE 'fr' END
    ELSE 'und' END AS lang_guess
  FROM counts
), cleaned AS (
  SELECT doc_id, ntok FROM stats
  WHERE quality >= 0.5 AND lang_guess = 'en'
    AND doc_id NOT IN (
      SELECT doc_id FROM drop_near UNION SELECT doc_id FROM drop_exact
    )
), pk_pos AS (
  SELECT doc_id, ntok,
         sum(ntok) OVER (ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING) AS e
  FROM cleaned
), pk_spans AS (
  SELECT doc_id, ntok, e - ntok AS s, e FROM pk_pos WHERE ntok > 0
), pk_ex AS (
  SELECT doc_id, s, e, (s // 256 + g.i) AS seq_id
  FROM pk_spans CROSS JOIN generate_series(0, 64) AS g(i)
  WHERE (s // 256 + g.i) <= (e - 1) // 256
), pk_mani AS (
  SELECT seq_id, doc_id,
         least(e, (seq_id + 1) * 256) - greatest(s, seq_id * 256) AS n_tok
  FROM pk_ex
)
SELECT seq_id::BIGINT AS seq_id, count(*)::BIGINT AS n_docs,
       sum(n_tok)::BIGINT AS n_tok, min(doc_id)::BIGINT AS first_doc
FROM pk_mani GROUP BY seq_id
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language downsampling (training-data mix rebalancing): keep
    20% of English, 60% of the rarer languages, drop unlisted — a pure
    scan-side CASE filter, no join/shuffle (operators/sampling.py)."""
    docs = _t(spark, sf_dir, "documents")
    out = stratified_hash_sample(
        docs, "lang", "doc_id",
        {"en": 20, "de": 60, "fr": 60, "es": 60}, default_pct=0,
    )
    return out.select(
        F.col("doc_id").cast("bigint"), "lang",
        F.col("n_chars").cast("bigint"),
    )


_ORACLE_STRATIFIED = """
SELECT doc_id, lang, n_chars::BIGINT AS n_chars
FROM documents
WHERE ((doc_id % 2147483648) * 2654435761) % 4294967296 % 100 <
      (CASE WHEN lang = 'en' THEN 20
            WHEN lang IN ('de', 'fr', 'es') THEN 60 ELSE 0 END)
"""


def q_clicks_before_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal window aggregation: for every error event, how many
    clicks did the same user make in the preceding 5 minutes? Runs as a
    bucketed range join (equi-join on (user, time-bucket) + exact
    refine — operators/interval.py), never a per-key cartesian."""
    ev = read_events(spark, sf_dir)
    err = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clk = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    matched = range_join_bucketed(
        err, clk, on="user_id", lower_us=0, upper_us=300_000_000,
        right_cols=["click_id"],
    )
    counts = matched.groupBy("event_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clicks")
    )
    return (
        err.join(counts, on="event_id", how="left")
        .select(
            F.col("event_id").cast("bigint"),
            F.col("user_id").cast("bigint"),
            F.date_format("ts", _TS_FMT_SPARK).alias("ts"),
            F.coalesce("n_clicks", F.lit(0)).cast("bigint").alias("n_clicks"),
        )
    )


_ORACLE_CLICKS_BEFORE = f"""
WITH err AS (
  SELECT event_id, user_id, ts::TIMESTAMP AS t
  FROM events WHERE event_type = 'error'
), clk AS (
  SELECT user_id, ts::TIMESTAMP AS t FROM events WHERE event_type = 'click'
)
SELECT e.event_id, e.user_id, strftime(e.t, '{_TS_FMT_DUCK}') AS ts,
       count(c.t)::BIGINT AS n_clicks
FROM err e LEFT JOIN clk c ON c.user_id = e.user_id
  AND epoch_us(e.t) - epoch_us(c.t) BETWEEN 0 AND 300000000
GROUP BY e.event_id, e.user_id, e.t
"""


def q_clicks_before_error_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM watermarked interval join (streaming/joins.py):
    error-stream rows matched to same-user click-stream rows from the
    preceding 2 hours. One input file + availableNow -> the emitted
    pair set is deterministic and equals the batch inner join, so this
    stateful two-stream operator gets a full value-hash oracle."""
    from cs6300_vectordbs_spark.streaming.events import (
        read_events_stream,
        run_stream_to_memory,
    )
    from cs6300_vectordbs_spark.streaming.joins import interval_join_streams

    err = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "error"
    ).select("event_id", "user_id", "ts")
    clk = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "click"
    ).select("event_id", "user_id", "ts")
    out = interval_join_streams(
        err, clk, "user_id", lower_us=0, upper_us=7_200_000_000,
        watermark="3650 days",
    )
    run_stream_to_memory(out, "clicks_before_error_stream", output_mode="append")
    return spark.table("clicks_before_error_stream").select(
        F.col("event_id").cast("bigint"),
        F.col("user_id").cast("bigint"),
        F.date_format("ts", _TS_FMT_SPARK).alias("ts"),
        F.col("r_event_id").cast("bigint").alias("click_id"),
        F.date_format("r_ts", _TS_FMT_SPARK).alias("click_ts"),
    )


_ORACLE_CLICKS_BEFORE_STREAM = f"""
WITH err AS (
  SELECT event_id, user_id, ts::TIMESTAMP AS t
  FROM events WHERE event_type = 'error'
), clk AS (
  SELECT event_id, user_id, ts::TIMESTAMP AS t
  FROM events WHERE event_type = 'click'
)
SELECT e.event_id, e.user_id, strftime(e.t, '{_TS_FMT_DUCK}') AS ts,
       c.event_id AS click_id, strftime(c.t, '{_TS_FMT_DUCK}') AS click_ts
FROM err e JOIN clk c ON c.user_id = e.user_id
  AND epoch_us(e.t) - epoch_us(c.t) BETWEEN 0 AND 7200000000
"""


_KMV_K = 256


def q_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation: build a 4x1024 portable
    md5 sketch over event user_ids, then point-query the 20 truest
    heavy users and report estimate next to truth (estimate >= truth
    always — collisions only inflate). The sketch is 4096 rows
    regardless of input size and mergeable by counter addition. All
    integer counters + portable hashing -> full value-hash oracle."""
    from cs6300_vectordbs_spark.operators.sketch import (
        cms_build,
        cms_estimate,
    )
    from pyspark.sql.window import Window

    ev = read_events(spark, sf_dir)
    cms = cms_build(ev, "user_id", depth=4, width=1024)
    tru = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .orderBy(F.col("true_count").desc(), F.col("user_id").asc())
        .limit(20)
    )
    est = cms_estimate(cms, tru.select("user_id"), "user_id",
                       depth=4, width=1024)
    return tru.join(est, on="user_id").select(
        F.col("user_id").cast("bigint"),
        F.col("true_count").cast("bigint"),
        F.col("cms_estimate").cast("bigint"),
    )


_ORACLE_CMS = """
WITH js AS (SELECT unnest(generate_series(0, 3)) AS j),
ex AS (
  SELECT j, (('0x' || substr(md5(j::VARCHAR || '|' || user_id::VARCHAR),
              1, 15))::BIGINT % 1024) AS bucket
  FROM events CROSS JOIN js
),
cms AS (SELECT j, bucket, count(*) AS cnt FROM ex GROUP BY 1, 2),
tru AS (
  SELECT user_id, count(*) AS true_count FROM events GROUP BY 1
  ORDER BY true_count DESC, user_id ASC LIMIT 20
),
probes AS (
  SELECT t.user_id, t.true_count, js.j,
         (('0x' || substr(md5(js.j::VARCHAR || '|' || t.user_id::VARCHAR),
           1, 15))::BIGINT % 1024) AS bucket
  FROM tru t CROSS JOIN js
)
SELECT p.user_id, max(p.true_count)::BIGINT AS true_count,
       min(coalesce(c.cnt, 0))::BIGINT AS cms_estimate
FROM probes p LEFT JOIN cms c USING (j, bucket)
GROUP BY p.user_id
"""


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic KMV (bottom-k) distinct-count sketch over
    lineitem.l_orderkey — portable md5 hashing so DuckDB replays the
    identical estimate (operators/sketch.py)."""
    li = _t(spark, sf_dir, "lineitem")
    return kmv_distinct(li, "l_orderkey", k=_KMV_K)


_ORACLE_KMV = f"""
WITH h AS (
  SELECT DISTINCT
    ((('0x' || substr(md5('kmv|' || l_orderkey::VARCHAR), 1, 15))::BIGINT + 1)
     / 1152921504606846976.0) AS hv
  FROM lineitem
),
top AS (SELECT hv FROM h ORDER BY hv LIMIT {_KMV_K}),
est AS (
  SELECT CASE WHEN count(*) < {_KMV_K} THEN count(*)::DOUBLE
              ELSE {float(_KMV_K - 1)} / max(hv) END AS est_distinct
  FROM top
)
SELECT est_distinct, n AS exact_distinct,
       round(abs(est_distinct - n) / n, 9) AS rel_err
FROM est, (SELECT count(*)::BIGINT AS n FROM h)
"""


# ---------------------------------------------------------------------------
# End-to-end pipeline report (integration query)
# ---------------------------------------------------------------------------

def q_pipeline_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    rep = pipeline_report(search_pipeline(docs))
    return rep.select(
        F.col("n_queries").cast("bigint"),
        F.col("n_results").cast("bigint"),
        F.round("avg_recall", 9).alias("avg_recall"),
        F.col("n_recall_queries").cast("bigint"),
        F.round("avg_ndcg", 9).alias("avg_ndcg"),
        F.col("n_ndcg_queries").cast("bigint"),
    )


_SQL_EMBED16_DOC = (
    "[(('0x' || substr(md5('e' || j || '|' || text), 1, 15))::BIGINT"
    " % 2000001) / 1000000.0 - 1.0 for j in generate_series(0, 15)]"
)
_SQL_EMBED16_Q = (
    "[(('0x' || substr(md5('e' || j || '|' || query), 1, 15))::BIGINT"
    " % 2000001) / 1000000.0 - 1.0 for j in generate_series(0, 15)]"
)

_ORACLE_PIPELINE = f"""
WITH corpus AS (
  SELECT doc_id, {_SQL_EMBED16_DOC} AS embedding FROM documents
  WHERE text IS NOT NULL
),
qdocs AS (
  SELECT doc_id AS query_id,
         'find documents about '
           || coalesce(array_to_string(({_SQL_TOKS})[1:5], ' '), '')
           AS query
  FROM documents
  WHERE ((doc_id % 2147483648) * 2654435761) % 4294967296 % 100 < 10
),
queries AS (
  SELECT query_id, {_SQL_EMBED16_Q} AS qv FROM qdocs
),
scored AS (
  SELECT q.query_id, c.doc_id,
    list_dot_product(q.qv, c.embedding) /
    (sqrt(list_dot_product(q.qv, q.qv)) *
     sqrt(list_dot_product(c.embedding, c.embedding))) AS sim
  FROM queries q CROSS JOIN corpus c
),
ranked AS (
  SELECT query_id, doc_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, doc_id ASC)
           AS rank
  FROM scored
),
judged AS (
  SELECT query_id, rank, sim,
         CASE WHEN greatest(1.0, least(5.0, -1.0 + 8.0 * sim)) >= 4.0
              THEN 1 ELSE 0 END AS is_relevant
  FROM ranked WHERE rank <= {TOPK}
),
per_query AS (
  SELECT query_id,
         sum(is_relevant)::DOUBLE / count(*) AS recall,
         sum(is_relevant / log2(rank + 1.0)) AS dcg,
         sum(is_relevant) AS n_relevant
  FROM judged GROUP BY query_id
),
rec AS (
  SELECT round(coalesce(avg(recall), 0.0), 9) AS avg_recall,
         count(*)::BIGINT AS n_recall_queries
  FROM per_query WHERE n_relevant > 0
),
with_idcg AS (
  SELECT query_id, dcg, n_relevant,
         CASE WHEN n_relevant > 0 THEN
           (SELECT sum(1.0 / log2(i + 1.0))
            FROM unnest(generate_series(1, n_relevant::BIGINT)) AS t(i))
         ELSE 0.0 END AS idcg
  FROM per_query
),
ndcg AS (
  SELECT round(avg(CASE WHEN n_relevant > 0 THEN dcg / idcg ELSE 0.0 END), 9)
           AS avg_ndcg,
         count(*)::BIGINT AS n_ndcg_queries
  FROM with_idcg
),
totals AS (
  SELECT count(DISTINCT query_id)::BIGINT AS n_queries,
         count(*)::BIGINT AS n_results
  FROM judged
)
SELECT totals.n_queries, totals.n_results, rec.avg_recall,
       rec.n_recall_queries, ndcg.avg_ndcg, ndcg.n_ndcg_queries
FROM totals, rec, ndcg
"""


# ---------------------------------------------------------------------------
# Approximate paths — rows-only checks (seeded hyperplanes / MLlib
# internals are not SQL-expressible; exact path above is their oracle)
# ---------------------------------------------------------------------------

_IVF_CELLS = 16
_IVF_PROBE = 4


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    out = ivf_topk(
        emb, _query_batch(emb), TOPK, dim=EMB_DIM,
        n_cells=_IVF_CELLS, n_probe=_IVF_PROBE, exclude_self=True,
    )
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("rank").cast("bigint").alias("rank"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("sim"),
        F.col("dist"),
    )


def _sql_cos(a: str, b: str) -> str:
    """DuckDB cosine with the zero-norm -> 0.0 guard, bit-identical to
    functions/vector.cosine_sim in ALL cases: the plain division would
    match only when the denominator is nonzero (DuckDB yields NULL on
    0.0/0.0)."""
    na = f"sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]))"
    nb = f"sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[]))"
    return (
        f"CASE WHEN ({na} * {nb}) = 0.0 THEN 0.0 ELSE "
        f"list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / ({na} * {nb}) END"
    )


def _sql_ivf_cells(
    src: str = "embeddings", corpus: str = "", probes: bool = False
) -> str:
    """The IVF CTEs over ``src``: ``cent`` (its first _IVF_CELLS vectors
    as centroids) and ``cells`` (each vector of ``corpus``, default
    ``src``, in its nearest centroid's cell, ties to the lower id); with
    ``probes``, each query's cells ranked by centroid cosine (rn)."""
    ctes = f"""cent AS (
  SELECT vec_id AS cid, embedding AS cvec FROM {src}
  ORDER BY vec_id LIMIT {_IVF_CELLS}
),
assign AS (
  SELECT e.vec_id, e.embedding, c.cid,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_sql_cos('e.embedding', 'c.cvec')} DESC, c.cid ASC) AS rn
  FROM {corpus or src} e CROSS JOIN cent c
),
cells AS (SELECT vec_id, embedding, cid AS cell FROM assign WHERE rn = 1)"""
    if probes:
        ctes += f""",
probes AS (
  SELECT q.vec_id AS query_id, q.embedding AS qvec, c.cid AS cell,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY {_sql_cos('q.embedding', 'c.cvec')} DESC, c.cid ASC) AS rn
  FROM {src} q CROSS JOIN cent c WHERE q.vec_id < {N_QUERIES}
)"""
    return ctes


# IVF is deterministic end-to-end (sampled centroids, id tie-breaks), so
# unlike the LSH paths it gets a full value-hash oracle. ``src`` lets
# the auto-dispatch twins re-run the identical plan over a derived
# corpus CTE (the clustered fixture) instead of the embeddings table.
def _oracle_ivf(src: str = "embeddings") -> str:
    return f"""
WITH {_sql_ivf_cells(src, probes=True)},
cand AS (
  SELECT p.query_id, p.qvec, e.vec_id, e.embedding
  FROM (SELECT query_id, qvec, cell FROM probes WHERE rn <= {_IVF_PROBE}) p
  JOIN cells e ON e.cell = p.cell AND e.vec_id != p.query_id
),
ranked AS (
  SELECT query_id, vec_id, {_sql_cos('qvec', 'embedding')} AS sim,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY {_sql_cos('qvec', 'embedding')} DESC, vec_id ASC) AS rank
  FROM cand
)
SELECT query_id, rank::BIGINT AS rank, vec_id, sim, 1.0 - sim AS dist
FROM ranked WHERE rank <= {TOPK}
"""


_ORACLE_IVF = _oracle_ivf()


_TUNE_PROBES = (1, 4, 16)


def _recall_sweep(
    emb: DataFrame,
    q: DataFrame,
    label: str,
    arms: tuple[int, ...],
    inputs: tuple[Callable[[], DataFrame], ...],
    candidates: Callable[..., DataFrame],
) -> DataFrame:
    """The recall sweep both tuning reports run: one
    ``(<label>, n_hits, recall_at_k)`` row per arm value.

    The exact top-k and the report's ``inputs`` (builders of eager
    tables) are mutually independent, so they are materialized from a
    small thread pool and Spark overlaps the jobs (guide §2.6).
    ``candidates(arm, *tables)`` gives an arm's candidate pairs in the
    input contract of the shared exact re-rank (similarity._rerank),
    whose top-k is then counted against the exact top-k."""
    from concurrent.futures import ThreadPoolExecutor
    from functools import reduce

    from cs6300_vectordbs_spark.operators.similarity import _rerank

    def _exact():
        return similarity_topk(
            emb, q, TOPK, exclude_self=True, dim=EMB_DIM
        ).select("query_id", "vec_id").localCheckpoint(eager=True)

    with ThreadPoolExecutor(max_workers=3) as pool:
        futures = [pool.submit(f) for f in (_exact, *inputs)]
        exact, *tables = [f.result() for f in futures]
    n_exact = exact.count()

    parts = []
    for arm in arms:
        approx = _rerank(
            candidates(arm, *tables), TOPK, dim=EMB_DIM,
            id_col="vec_id", vec_col="embedding",
        ).select("query_id", "vec_id")
        hits = exact.join(approx, on=["query_id", "vec_id"], how="inner")
        parts.append(
            hits.agg(F.count(F.lit(1)).alias("n_hits")).select(
                F.lit(arm).cast("bigint").alias(label),
                F.col("n_hits").cast("bigint"),
                F.round(
                    F.col("n_hits") / F.lit(float(n_exact)), 9
                ).alias("recall_at_k"),
            )
        )
    return reduce(DataFrame.unionByName, parts)


def q_ann_tuning_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN tuning sweep — the reference harness's core loop (measure
    recall across index configurations, BASELINE.json north star)
    lifted to one query: IVF top-k at n_probe in {1, 4, 16} scored
    against the exact top-k, reporting micro-averaged recall@k per
    probe width. n_probe = n_cells (16) probes every cell, so its
    recall row is exactly 1.0 — a built-in sanity anchor. All three
    IVF runs share the deterministic sampled quantizer, so the whole
    report is value-hash oracled (the SQL twin ranks once over all
    cells and slices by probe depth). Scale shape: the exact arm is
    the WindowGroupLimit broadcast plan; each IVF arm scans only its
    probed cells; the recall join is queries x k rows."""
    from cs6300_vectordbs_spark.operators.ann import (
        assign_cells,
        ivf_centroids,
        probe_cells,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = _query_batch(emb)
    cent = ivf_centroids(emb, _IVF_CELLS)

    # Cell assignment and full probe ranking are computed ONCE and
    # sliced per probe depth — the per-arm work is only the probed-cell
    # scan + re-rank (the oracle is structured identically). Re-running
    # ivf_topk per arm would redo the corpus-side argmax three times.
    # Both tables carry their per-row norms for the re-rank.
    def _assigned():
        return assign_cells(
            emb, cent, dim=EMB_DIM, carry=("embedding", "__vn")
        ).localCheckpoint(eager=True)

    def _probes():
        return probe_cells(
            q, cent, dim=EMB_DIM, n_probe=max(_TUNE_PROBES)
        ).localCheckpoint(eager=True)

    def _cand(p, assigned, probes):
        return assigned.join(
            F.broadcast(probes.filter(F.col("__rn") <= p)), on="cell"
        ).filter(F.col("vec_id") != F.col("__qid"))

    return _recall_sweep(
        emb, q, "n_probe", _TUNE_PROBES, (_assigned, _probes), _cand
    )


def _oracle_ann_tuning() -> str:
    probes_sql = ", ".join(str(p) for p in _TUNE_PROBES)
    return f"""
WITH {_sql_ivf_cells(probes=True)},
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_sql_cos('q.embedding', 'e.embedding')} DESC,
                      e.vec_id ASC) AS rank
    FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
    WHERE q.vec_id < {N_QUERIES})
  WHERE rank <= {TOPK}
),
n_exact AS (SELECT count(*)::DOUBLE AS n FROM exact),
sweep AS (SELECT unnest([{probes_sql}]) AS n_probe),
approx AS (
  SELECT s.n_probe, r.query_id, r.vec_id FROM sweep s, LATERAL (
    SELECT query_id, vec_id FROM (
      SELECT c2.query_id, e.vec_id,
             row_number() OVER (
               PARTITION BY c2.query_id
               ORDER BY {_sql_cos('c2.qvec', 'e.embedding')} DESC,
                        e.vec_id ASC) AS rank
      FROM (SELECT query_id, qvec, cell FROM probes
            WHERE rn <= s.n_probe) c2
      JOIN cells e ON e.cell = c2.cell AND e.vec_id != c2.query_id)
    WHERE rank <= {TOPK}) r
),
hits AS (
  SELECT a.n_probe, count(*) AS c
  FROM approx a JOIN exact x
    ON a.query_id = x.query_id AND a.vec_id = x.vec_id
  GROUP BY a.n_probe
)
SELECT s.n_probe::BIGINT AS n_probe,
       coalesce(h.c, 0)::BIGINT AS n_hits,
       round(coalesce(h.c, 0) / (SELECT n FROM n_exact), 9) AS recall_at_k
FROM sweep s LEFT JOIN hits h ON s.n_probe = h.n_probe
"""


_TUNE_BANDS = (2, 4, 8)
_SRP_BITS = 16
_SRP_SEED = 42


def q_lsh_tuning_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH tuning sweep — the band-count knob of the SRP-LSH index
    measured against exact top-k (recall@k per band count), the
    companion of ann_tuning_report's n_probe sweep: together they
    cover both approximate-index families' recall/cost dials, the
    measurement loop the reference assignment runs across store
    configs. More bands = fewer sign bits per band key = easier
    collisions = more candidates = higher recall — the sweep makes the
    monotone trade-off a verifiable result. The 16 sign BITS are
    computed once per vector (checkpointed) and regrouped into band
    keys per config; the seeded hyperplanes are plan literals, so the
    whole report — candidates, re-rank, recall — is value-hash
    oracled. Scale shape per arm: candidates from an equi-join on
    band keys vs the broadcast query keys, O(collisions) shuffle,
    WindowGroupLimit re-rank, then a queries x k recall join."""
    from cs6300_vectordbs_spark.functions.vector import l2_norm
    from cs6300_vectordbs_spark.operators.ann import srp_bits

    emb = _t(spark, sf_dir, "embeddings")
    q = _query_batch(emb)

    # The corpus and query sign bits are eager inputs of the sweep,
    # each with its per-row norm for the re-rank.
    def _cbits():
        return emb.select(
            "vec_id",
            "embedding",
            l2_norm("embedding", EMB_DIM).alias("__vn"),
            *[
                b.alias(f"b{i}")
                for i, b in enumerate(
                    srp_bits("embedding", EMB_DIM, _SRP_BITS, _SRP_SEED)
                )
            ],
        ).localCheckpoint(eager=True)

    def _qbits():
        return q.select(
            F.col("query_id").alias("__qid"),
            F.col("query_vec").alias("__qvec"),
            l2_norm("query_vec", EMB_DIM).alias("__qn"),
            *[
                b.alias(f"b{i}")
                for i, b in enumerate(
                    srp_bits("query_vec", EMB_DIM, _SRP_BITS, _SRP_SEED)
                )
            ],
        ).localCheckpoint(eager=True)

    def keys(bands: int) -> F.Column:
        rows = _SRP_BITS // bands
        return F.array(
            *[
                F.concat_ws(
                    ",",
                    F.lit(str(t)),
                    *[F.col(f"b{i}") for i in range(t * rows, (t + 1) * rows)],
                )
                for t in range(bands)
            ]
        )

    def _cand(bands, cbits, qbits):
        ck = cbits.select(
            "vec_id", "embedding", "__vn", F.explode(keys(bands)).alias("bk")
        )
        qk = qbits.select(
            "__qid", "__qvec", "__qn", F.explode(keys(bands)).alias("bk")
        )
        return (
            ck.join(F.broadcast(qk), on="bk")
            .filter(F.col("vec_id") != F.col("__qid"))
            .dropDuplicates(["__qid", "vec_id"])
        )

    return _recall_sweep(emb, q, "bands", _TUNE_BANDS, (_cbits, _qbits), _cand)


def _oracle_lsh_tuning() -> str:
    """Value-hash twin for the band-count sweep: the SAME hyperplane
    literals produce 16 shared bit columns; each arm regroups them
    into band keys, joins candidates, exact-cosine re-ranks, and
    counts hits against the exact top-k. The shared ``cbits``,
    ``qbits`` and ``exact`` CTEs are MATERIALIZED: every band arm reads
    them, and DuckDB would otherwise recompute them per arm."""
    from cs6300_vectordbs_spark.operators.ann import _hyperplanes

    planes = _hyperplanes(EMB_DIM, _SRP_BITS, _SRP_SEED)

    def bit_sql(alias: str, p: list[float]) -> str:
        terms = " + ".join(
            f"{alias}.embedding[{i + 1}]::DOUBLE * {w!r}"
            for i, w in enumerate(p)
        )
        return f"CAST((0.0 + {terms}) > 0.0 AS VARCHAR)"

    cbit_cols = ", ".join(
        f"{bit_sql('e', p)} AS b{i}" for i, p in enumerate(planes)
    )
    qbit_cols = ", ".join(
        f"{bit_sql('q', p)} AS b{i}" for i, p in enumerate(planes)
    )

    arms = []
    finals = []
    for bands in _TUNE_BANDS:
        rows = _SRP_BITS // bands
        def key_list(prefix: str) -> str:
            ks = []
            for t in range(bands):
                bs = ", ".join(
                    f"{prefix}b{i}" for i in range(t * rows, (t + 1) * rows)
                )
                ks.append(f"concat_ws(',', '{t}', {bs})")
            return "[" + ", ".join(ks) + "]"

        arms.append(f"""
ck{bands} AS (
  SELECT vec_id, embedding, unnest({key_list('')}) AS bk FROM cbits
),
qk{bands} AS (
  SELECT query_id, qvec, unnest({key_list('')}) AS bk FROM qbits
),
cand{bands} AS (
  SELECT DISTINCT s.query_id, s.qvec, c.vec_id, c.embedding
  FROM qk{bands} s JOIN ck{bands} c ON s.bk = c.bk
  WHERE c.vec_id != s.query_id
),
approx{bands} AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (
             PARTITION BY query_id
             ORDER BY {_sql_cos('qvec', 'embedding')} DESC, vec_id ASC
           ) AS rank
    FROM cand{bands})
  WHERE rank <= {TOPK}
),
hits{bands} AS (
  SELECT count(*) AS c FROM approx{bands} a
  JOIN exact x ON a.query_id = x.query_id AND a.vec_id = x.vec_id
)""")
        finals.append(
            f"SELECT {bands}::BIGINT AS bands,"
            f" (SELECT c FROM hits{bands})::BIGINT AS n_hits,"
            f" round((SELECT c FROM hits{bands})"
            f" / (SELECT n FROM n_exact), 9) AS recall_at_k"
        )
    return f"""
WITH cbits AS MATERIALIZED (
  SELECT e.vec_id, e.embedding, {cbit_cols} FROM embeddings e
),
qbits AS MATERIALIZED (
  SELECT q.vec_id AS query_id, q.embedding AS qvec, {qbit_cols}
  FROM embeddings q WHERE q.vec_id < {N_QUERIES}
),
exact AS MATERIALIZED (
  SELECT query_id, vec_id FROM (
    SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_sql_cos('q.embedding', 'e.embedding')} DESC,
                      e.vec_id ASC) AS rank
    FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
    WHERE q.vec_id < {N_QUERIES})
  WHERE rank <= {TOPK}
),
n_exact AS (SELECT count(*)::DOUBLE AS n FROM exact),{",".join(arms)}
{" UNION ALL ".join(finals)}
"""


_PQ_M = 8
_PQ_KSUB = 16
_PQ_SUB = EMB_DIM // _PQ_M
_PQ_CAND = 4 * TOPK


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN (FAISS-PQ shape): m=8 subspaces, 16-entry
    sampled codebooks, ADC table-lookup candidates, exact re-rank.
    Deterministic end-to-end -> full value-hash oracle."""
    from cs6300_vectordbs_spark.operators.ann import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    out = pq_topk(
        emb, _query_batch(emb), TOPK, dim=EMB_DIM, m=_PQ_M, ksub=_PQ_KSUB,
        candidates_per_query=_PQ_CAND, exclude_self=True,
    )
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("rank").cast("bigint").alias("rank"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("sim"),
        F.col("adc"),
    )


def _sql_pq_d2(mi: int) -> str:
    """Unrolled squared-L2 over subspace mi — same left-to-right adds
    and per-element (x-y)*(x-y) as the Spark side, so argmin ties are
    bit-identical."""
    return " + ".join(
        f"((e.embedding[{mi * _PQ_SUB + i}]::DOUBLE - "
        f"c.cvec[{mi * _PQ_SUB + i}]::DOUBLE) * "
        f"(e.embedding[{mi * _PQ_SUB + i}]::DOUBLE - "
        f"c.cvec[{mi * _PQ_SUB + i}]::DOUBLE))"
        for i in range(1, _PQ_SUB + 1)
    )


def _sql_pq_pd(mi: int) -> str:
    return " + ".join(
        f"(q.embedding[{mi * _PQ_SUB + i}]::DOUBLE * "
        f"c.cvec[{mi * _PQ_SUB + i}]::DOUBLE)"
        for i in range(1, _PQ_SUB + 1)
    )


# PQ is deterministic (sampled codebooks, id tie-breaks, fixed-order ADC
# sums — each partial dot is a sequential fold on both engines), so it
# gets a full value-hash oracle. The 8 qt joins pin the ADC sum order.
_ORACLE_PQ = f"""
WITH cb AS (
  SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cid,
         embedding AS cvec
  FROM (SELECT * FROM embeddings ORDER BY vec_id ASC LIMIT {_PQ_KSUB})
),
dists AS (
  SELECT e.vec_id, e.embedding, c.cid,
         {", ".join(f"{_sql_pq_d2(mi)} AS d{mi}" for mi in range(_PQ_M))}
  FROM embeddings e CROSS JOIN cb c
),
codes AS (
  SELECT vec_id, any_value(embedding) AS embedding,
         {", ".join(f"(min({{'d': d{mi}, 'c': cid}}))['c'] AS code{mi}" for mi in range(_PQ_M))}
  FROM dists GROUP BY vec_id
),
qt AS (
  SELECT q.vec_id AS query_id, q.embedding AS qvec, c.cid,
         {", ".join(f"{_sql_pq_pd(mi)} AS pd{mi}" for mi in range(_PQ_M))}
  FROM embeddings q CROSS JOIN cb c
  WHERE q.vec_id < {N_QUERIES}
),
scored AS (
  SELECT t0.query_id, v.vec_id, t0.qvec, v.embedding,
         {" + ".join(f"t{mi}.pd{mi}" for mi in range(_PQ_M))} AS adc
  FROM codes v
  JOIN qt t0 ON t0.cid = v.code0
  {" ".join(f"JOIN qt t{mi} ON t{mi}.query_id = t0.query_id AND t{mi}.cid = v.code{mi}" for mi in range(1, _PQ_M))}
  WHERE v.vec_id != t0.query_id
),
shortlist AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY adc DESC, vec_id ASC) AS crn
  FROM scored
),
ranked AS (
  SELECT query_id, vec_id, {_sql_cos('qvec', 'embedding')} AS sim, adc,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY {_sql_cos('qvec', 'embedding')} DESC, vec_id ASC) AS rank
  FROM shortlist WHERE crn <= {_PQ_CAND}
)
SELECT query_id, rank::BIGINT AS rank, vec_id, sim, adc
FROM ranked WHERE rank <= {TOPK}
"""


# Shared memory-lean exact-kNN(3) CTE chain for the graph oracles.
# The naive form ordered the window by a cosine computed from the raw
# embedding columns, which dragged two 64-dim arrays per pair through
# the window's materialization — at sf0.1 that is 25M pairs x 1 KiB
# and DuckDB OOMs building it. Factoring the norms per vector and
# projecting pairs down to (query_id, vec_id, sim) BEFORE the QUALIFY
# window keeps the materialization at 3 scalars per pair. The float
# expression is unchanged bit-for-bit: dot / (sqrt(aa) * sqrt(bb))
# with the same grouping as _sql_cos.
_SQL_KNN3 = """
nv AS (
  SELECT vec_id, embedding,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS nrm
  FROM embeddings
),
sims AS (
  SELECT q.vec_id AS query_id, e.vec_id,
         list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
           / (q.nrm * e.nrm) AS sim
  FROM nv q JOIN nv e ON e.vec_id != q.vec_id
),
knn AS (
  SELECT query_id, vec_id FROM sims
  QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) <= 3
),
"""

_ORACLE_KNN_GRAPH = f"""
WITH {_SQL_KNN3}
edges AS (
  SELECT DISTINCT least(query_id, vec_id) AS a,
                  greatest(query_id, vec_id) AS b
  FROM knn
),
deg AS (
  SELECT v, count(*) AS degree FROM (
    SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges
  ) GROUP BY v
),
tri AS (
  SELECT e1.a, e1.b, e2.c
  FROM edges e1
  JOIN (SELECT a AS b, b AS c FROM edges) e2 USING (b)
  JOIN (SELECT a AS ta, b AS c2 FROM edges) e3
    ON e1.a = e3.ta AND e2.c = e3.c2
),
tric AS (
  SELECT v, count(*) AS n_triangles FROM (
    SELECT a AS v FROM tri UNION ALL SELECT b AS v FROM tri
    UNION ALL SELECT c AS v FROM tri
  ) GROUP BY v
)
SELECT d.v AS vec_id, d.degree,
       coalesce(t.n_triangles, 0)::BIGINT AS n_triangles
FROM deg d LEFT JOIN tric t ON d.v = t.v
"""


def q_ivf_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored-index serving path: ensure the on-disk IVF index
    exists (create-if-absent, S9 — the reference's PersistentClient /
    count-guard lifecycle), then serve top-k from it with directory-
    level partition pruning on the probed cells. The index is built
    with ivf_topk's quantizer (ann.ivf_centroids, ann.assign_cells) ->
    shares its full value-hash oracle."""
    from cs6300_vectordbs_spark.sources.vector_index import (
        ensure_ivf_index,
        search_ivf_index,
    )

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"{WAREHOUSE}/ivf_index_{tag}"
    emb = _t(spark, sf_dir, "embeddings")
    ensure_ivf_index(spark, emb, path, dim=EMB_DIM, n_cells=_IVF_CELLS)
    out = search_ivf_index(
        spark, path, _query_batch(emb), TOPK,
        dim=EMB_DIM, n_probe=_IVF_PROBE, exclude_self=True,
    )
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("rank").cast("bigint").alias("rank"),
        F.col("id").cast("bigint").alias("vec_id"),
        F.col("sim"),
        F.col("dist"),
    )


def q_ivf_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index balance diagnostics — the operational health check a
    serving team watches: per-cell vector counts summarized as
    min/max/avg plus the imbalance factor (max/avg). A skewed cell
    means one probe scans far more than its share (the latency tail at
    100 TB); the fix is more cells or a trained quantizer. One
    ann.assign_cells argmax (the cells ivf_topk scans) + a 16-row
    aggregate."""
    from cs6300_vectordbs_spark.operators.ann import assign_cells, ivf_centroids
    from cs6300_vectordbs_spark.operators.util import spread

    emb = _t(spark, sf_dir, "embeddings")
    assigned = assign_cells(
        spread(emb), ivf_centroids(emb, _IVF_CELLS), dim=EMB_DIM
    )
    per_cell = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    return per_cell.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.min("n_vecs").cast("bigint").alias("min_cell"),
        F.max("n_vecs").cast("bigint").alias("max_cell"),
        F.round(F.avg("n_vecs"), 9).alias("avg_cell"),
        F.round(
            F.max("n_vecs") / F.avg("n_vecs"), 9
        ).alias("imbalance"),
    )


_ORACLE_IVF_CELLS = f"""
WITH {_sql_ivf_cells()},
per_cell AS (SELECT cell, count(*) AS n_vecs FROM cells GROUP BY cell)
SELECT count(*)::BIGINT AS n_cells,
       min(n_vecs)::BIGINT AS min_cell,
       max(n_vecs)::BIGINT AS max_cell,
       round(avg(n_vecs), 9) AS avg_cell,
       round(max(n_vecs)::DOUBLE / avg(n_vecs), 9) AS imbalance
FROM per_cell
"""


def q_ivf_upsert_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full LSM index lifecycle as one driver-checked row: build
    the index, UPSERT modified vectors (every vec_id % 10 == 7 gets
    its FIRST COORDINATE NEGATED — IEEE-exact, and cosine-VISIBLE, so
    sims/ranks/cells genuinely change; a uniform scale would be
    invisible to cosine and make this check vacuous) as gen=1 appends
    re-assigned against the STALE stored centroids, COMPACT (resolve
    generations, restore one-row-per-id — without it a vector whose
    new version changed cells could still be served from its stale
    old-cell copy, the documented pre-compaction LSM contract), then
    serve top-k. The oracle recomputes the post-upsert corpus directly
    (original centroids, modified vectors), so a broken upsert,
    compaction, or reassignment value-hash-fails. Hermetic: fresh temp
    dir per run (persistence is ivf_persisted_topk's row)."""
    import shutil
    import tempfile

    from cs6300_vectordbs_spark.sources.vector_index import (
        build_ivf_index,
        compact_ivf_index,
        search_ivf_index,
        upsert_ivf_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    path = tempfile.mkdtemp(prefix="ivf_upsert_")
    try:
        build_ivf_index(emb, path, dim=EMB_DIM, n_cells=_IVF_CELLS)
        flipped = emb.filter(F.col("vec_id") % 10 == 7).select(
            "vec_id",
            F.concat(
                F.array(-F.col("embedding")[0]),
                F.slice(F.col("embedding"), 2, EMB_DIM - 1),
            ).alias("embedding"),
        )
        upsert_ivf_index(spark, flipped, path, dim=EMB_DIM, gen=1)
        compact_ivf_index(spark, path)
        out = search_ivf_index(
            spark, path, _query_batch(emb), TOPK,
            dim=EMB_DIM, n_probe=_IVF_PROBE, exclude_self=True,
        )
        return out.select(
            F.col("query_id").cast("bigint").alias("query_id"),
            F.col("rank").cast("bigint").alias("rank"),
            F.col("id").cast("bigint").alias("vec_id"),
            F.col("sim"),
            F.col("dist"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(path, ignore_errors=True)


_ORACLE_IVF_UPSERT = f"""
WITH mod AS (
  SELECT vec_id,
         CASE WHEN vec_id % 10 = 7
              THEN list_concat([(-embedding[1])::FLOAT], embedding[2:])
              ELSE embedding END AS embedding
  FROM embeddings
),
{_sql_ivf_cells(corpus="mod", probes=True)},
cand AS (
  SELECT p.query_id, p.qvec, e.vec_id, e.embedding
  FROM (SELECT query_id, qvec, cell FROM probes WHERE rn <= {_IVF_PROBE}) p
  JOIN cells e ON e.cell = p.cell AND e.vec_id != p.query_id
),
ranked AS (
  SELECT query_id, vec_id, {_sql_cos('qvec', 'embedding')} AS sim,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY {_sql_cos('qvec', 'embedding')} DESC, vec_id ASC) AS rank
  FROM cand
)
SELECT query_id, rank::BIGINT AS rank, vec_id, sim, 1.0 - sim AS dist
FROM ranked WHERE rank <= {TOPK}
"""


_KM_ITERS = 3
_KM_TRAIN_N = 1024


def q_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat with a TRAINED coarse quantizer (BASELINE.json north
    star: batch-trained indexing): deterministic Lloyd's k-means —
    lowest-id init, a bounded lowest-md5(vec_id) training sample
    (layout-independent AND SQL-reproducible, vs the MLlib variant's
    RNG sampling), the ann.assign_cells assignment,
    per-iteration centroid means rounded to 9 dp on both engines — so
    the trained index gets a FULL value-hash oracle (_oracle_ivf_kmeans
    unrolls the identical three Lloyd iterations as CTEs). The
    MLlib-KMeans quantizer variant (operators/ann.py ivf_topk_kmeans)
    remains the MLlib-interop path, recall-tested in
    tests/ rather than driver-oracled, since its learned state lives
    in JVM RNG."""
    from cs6300_vectordbs_spark.operators.ann import ivf_topk_kmeans_det

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk_kmeans_det(
        emb, _query_batch(emb), TOPK, dim=EMB_DIM,
        n_cells=_IVF_CELLS, n_probe=_IVF_PROBE, n_iters=_KM_ITERS,
        train_n=_KM_TRAIN_N,
        exclude_self=True,
    ).select(
        F.col("query_id").cast("bigint"),
        F.col("rank").cast("bigint"),
        F.col("vec_id").cast("bigint"),
        "sim",
        "dist",
    )


def _oracle_ivf_kmeans() -> str:
    """Value-hash twin for the deterministic-Lloyd IVF: the same init,
    the same bounded lowest-md5 training sample, the same per-iteration
    (assign -> rounded mean -> empty-cell keep) chain, then the
    standard IVF serve. Means are the ORDER-INDEPENDENT quantized
    form on BOTH engines (round(x*1e12)::BIGINT, exact integer sum,
    divide by count, round 9 dp) — no float accumulation anywhere in
    the mean, so partial-aggregate merge order cannot flip a digit;
    every other float op is a fixed left fold shared with the Spark
    plan (the Spark side factors norms out of the pair loop, which
    changes WHERE the identical sqrt values are computed, not their
    bits)."""
    dims = range(EMB_DIM)
    mean_cols = ", ".join(
        f"round((sum(round(embedding[{d + 1}]::DOUBLE * 1e12)::BIGINT)::DOUBLE"
        f" / count(*)) / 1e12, 9) AS c{d}"
        for d in dims
    )
    mean_list = "[" + ", ".join(f"m.c{d}" for d in dims) + "]"
    parts = [f"""
train AS (
  SELECT vec_id, embedding FROM embeddings
  ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {_KM_TRAIN_N}
),
cent0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
         embedding::DOUBLE[] AS cvec
  FROM (SELECT vec_id, embedding FROM embeddings
        ORDER BY vec_id LIMIT {_IVF_CELLS})
)"""]
    for i in range(_KM_ITERS):
        parts.append(f"""
assign{i + 1} AS (
  SELECT e.vec_id, e.embedding, c.cid,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_sql_cos('e.embedding', 'c.cvec')} DESC, c.cid ASC) AS rn
  FROM train e CROSS JOIN cent{i} c
),
mean{i + 1} AS (
  SELECT cid AS cell, {mean_cols}
  FROM assign{i + 1} WHERE rn = 1 GROUP BY cid
),
cent{i + 1} AS (
  SELECT c.cid,
         CASE WHEN m.cell IS NULL THEN c.cvec ELSE {mean_list} END AS cvec
  FROM cent{i} c LEFT JOIN mean{i + 1} m ON m.cell = c.cid
)""")
    last = f"cent{_KM_ITERS}"
    parts.append(f"""
sassign AS (
  SELECT e.vec_id, e.embedding, c.cid,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_sql_cos('e.embedding', 'c.cvec')} DESC, c.cid ASC) AS rn
  FROM embeddings e CROSS JOIN {last} c
),
cells AS (SELECT vec_id, embedding, cid AS cell FROM sassign WHERE rn = 1),
probes AS (
  SELECT q.vec_id AS query_id, q.embedding AS qvec, c.cid AS cell,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY {_sql_cos('q.embedding', 'c.cvec')} DESC, c.cid ASC) AS rn
  FROM embeddings q CROSS JOIN {last} c WHERE q.vec_id < {N_QUERIES}
),
cand AS (
  SELECT p.query_id, p.qvec, e.vec_id, e.embedding
  FROM (SELECT query_id, qvec, cell FROM probes WHERE rn <= {_IVF_PROBE}) p
  JOIN cells e ON e.cell = p.cell AND e.vec_id != p.query_id
),
ranked AS (
  SELECT query_id, vec_id, {_sql_cos('qvec', 'embedding')} AS sim,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY {_sql_cos('qvec', 'embedding')} DESC, vec_id ASC) AS rank
  FROM cand
)""")
    return (
        "WITH " + ",".join(parts)
        + f"""
SELECT query_id, rank::BIGINT AS rank, vec_id, sim, 1.0 - sim AS dist
FROM ranked WHERE rank <= {TOPK}
"""
    )


def q_srp_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    # dim MUST be the same constant the oracle generator uses for its
    # hyperplane literals (deriving it from the data here would let
    # the two sides silently disagree).
    out = srp_lsh_topk(
        emb, _query_batch(emb), TOPK, dim=EMB_DIM, n_bits=16, bands=8,
        exclude_self=True,
    )
    return out.select(
        F.col("query_id").cast("bigint"),
        F.col("rank").cast("bigint"),
        F.col("vec_id").cast("bigint"),
        "sim",
        "dist",
    )


def _oracle_srp() -> str:
    """Full value-hash twin for the SRP-LSH path. The seeded
    hyperplanes are deterministic Python constants baked into the
    Spark plan as literals, so the SAME literals are embedded here —
    the oracle does not need to re-derive them in SQL, only to apply
    the identical sign/band/candidate/re-rank pipeline. Each sign dot
    is written as an explicit LEFT-ASSOCIATED sum starting at 0.0,
    matching Spark's aggregate() fold order bit-for-bit; a sign flip
    would need |dot| < ~1e-15, far below any real margin."""
    from cs6300_vectordbs_spark.operators.ann import _hyperplanes

    n_bits, bands, seed = 16, 8, 42
    planes = _hyperplanes(EMB_DIM, n_bits, seed)
    rows = n_bits // bands

    def bit_sql(alias: str, p: list[float]) -> str:
        terms = " + ".join(
            f"{alias}.embedding[{i + 1}]::DOUBLE * {w!r}"
            for i, w in enumerate(p)
        )
        return f"CAST((0.0 + {terms}) > 0.0 AS VARCHAR)"

    def keys_sql(alias: str) -> str:
        ks = []
        for b in range(bands):
            bits = ", ".join(
                bit_sql(alias, planes[i])
                for i in range(b * rows, (b + 1) * rows)
            )
            ks.append(f"concat_ws(',', '{b}', {bits})")
        return "[" + ", ".join(ks) + "]"

    return f"""
WITH csig AS (
  SELECT e.vec_id, e.embedding, unnest({keys_sql('e')}) AS band_key
  FROM embeddings e
),
qsig AS (
  SELECT q.vec_id AS query_id, q.embedding AS qvec,
         unnest({keys_sql('q')}) AS band_key
  FROM embeddings q WHERE q.vec_id < {N_QUERIES}
),
cand AS (
  SELECT DISTINCT s.query_id, s.qvec, c.vec_id, c.embedding
  FROM qsig s JOIN csig c ON s.band_key = c.band_key
  WHERE c.vec_id != s.query_id
),
ranked AS (
  SELECT query_id, vec_id, {_sql_cos('qvec', 'embedding')} AS sim,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY {_sql_cos('qvec', 'embedding')} DESC, vec_id ASC) AS rank
  FROM cand
)
SELECT query_id, rank::BIGINT AS rank, vec_id, sim, 1.0 - sim AS dist
FROM ranked WHERE rank <= {TOPK}
"""


def q_brp_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-random-projection LSH candidate pairs (Euclidean LSH
    on implicitly L2-normalized vectors; collision in ANY of 4 tables,
    exact-cosine filter at 0.2 — on unit vectors identical to MLlib's
    d <= sqrt(2(1-s)) threshold). Uses the literal-projection variant
    (operators/ann.py brp_lsh_pairs_det) so the seeded Gaussian
    projections are plan literals a SQL twin reproduces — giving this
    path the full value-hash oracle the MLlib-RNG variant
    (brp_lsh_pairs, still the MLlib-interop path, recall-tested in
    tests/) cannot have."""
    from cs6300_vectordbs_spark.operators.ann import brp_lsh_pairs_det

    emb = _t(spark, sf_dir, "embeddings")
    out = brp_lsh_pairs_det(emb, _query_batch(emb, N_QUERIES), dim=EMB_DIM)
    return out.select(
        F.col("query_id").cast("bigint"),
        F.col("vec_id").cast("bigint"),
        "sim",
    )


def _oracle_brp() -> str:
    """Value-hash twin for the deterministic BRP path: the SAME
    projection literals (ann._hyperplanes, seed 42), the same
    floor(dot / (norm * L)) bucket rule, the same any-table collision
    candidate join, the same exact-cosine filter. Dots are explicit
    left-associated sums matching Spark's unrolled fold bit-for-bit."""
    from cs6300_vectordbs_spark.operators.ann import _hyperplanes

    n_tables, bucket_length, min_sim, seed = 4, 0.5, 0.2, 42
    planes = _hyperplanes(EMB_DIM, n_tables, seed)

    def keys_sql(alias: str) -> str:
        norm = "sqrt(" + " + ".join(
            f"({alias}.embedding[{i + 1}]::DOUBLE * {alias}.embedding[{i + 1}]::DOUBLE)"
            for i in range(EMB_DIM)
        ) + ")"
        ks = []
        for t, p in enumerate(planes):
            dots = " + ".join(
                f"({alias}.embedding[{i + 1}]::DOUBLE * {w!r})"
                for i, w in enumerate(p)
            )
            # zero-norm sentinel mirrored from brp_bucket_keys
            ks.append(
                f"concat_ws(',', '{t}', CASE WHEN {norm} = 0.0 THEN 'z' "
                f"ELSE (floor(({dots}) / ({norm} * {bucket_length!r})))::BIGINT::VARCHAR END)"
            )
        return "[" + ", ".join(ks) + "]"

    return f"""
WITH csig AS (
  SELECT e.vec_id, e.embedding, unnest({keys_sql('e')}) AS bucket_key
  FROM embeddings e
),
qsig AS (
  SELECT q.vec_id AS query_id, q.embedding AS qvec,
         unnest({keys_sql('q')}) AS bucket_key
  FROM embeddings q WHERE q.vec_id < {N_QUERIES}
),
cand AS (
  SELECT DISTINCT s.query_id, s.qvec, c.vec_id, c.embedding
  FROM qsig s JOIN csig c ON s.bucket_key = c.bucket_key
)
SELECT query_id, vec_id, {_sql_cos('qvec', 'embedding')} AS sim
FROM cand
WHERE {_sql_cos('qvec', 'embedding')} >= {min_sim!r}
"""


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (operators/text_search.py
    tfidf_topterms): document-sharded postings, broadcast vocab stats,
    per-doc top-k window that runs inside the shard partitions. Scores
    round(9) before ranking, ties by term ascending."""
    from cs6300_vectordbs_spark.operators.text_search import tfidf_topterms

    docs = _t(spark, sf_dir, "documents")
    out = tfidf_topterms(docs, k=3)
    return out.select(
        F.col("doc_id").cast("bigint"),
        F.col("rank").cast("bigint"),
        "term",
        "score",
    )


_ORACLE_TFIDF = f"""
WITH toks AS (
  SELECT doc_id AS id, unnest({_SQL_TOKS}) AS s FROM documents
),
postings AS (SELECT id, s, count(*) AS tf FROM toks GROUP BY id, s),
stats AS (SELECT s, count(*) AS df FROM postings GROUP BY s),
nd AS (SELECT count(DISTINCT id) AS n FROM postings),
scored AS (
  SELECT id, s,
         round(tf::DOUBLE * ln((SELECT n FROM nd)::DOUBLE / df), 9) AS score
  FROM postings JOIN stats USING (s)
),
ranked AS (
  SELECT id, s, score,
         row_number() OVER (PARTITION BY id ORDER BY score DESC, s ASC) AS rnk
  FROM scored
)
SELECT id AS doc_id, rnk::BIGINT AS rank, s AS term, score
FROM ranked WHERE rnk <= 3
"""


def q_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 state intervals from the append-only event log
    (operators/timeseries.py state_history): each user's event_type
    runs collapsed to (state, valid_from, valid_to, n_events) with the
    open interval's valid_to NULL. One shuffle on user_id; both windows
    and the run groupBy reuse the same (ts, event_id) total order."""
    from cs6300_vectordbs_spark.operators.timeseries import state_history

    ev = read_events(spark, sf_dir)
    out = state_history(ev)
    return out.select(
        F.col("user_id").cast("bigint"),
        "state",
        "valid_from",
        "valid_to",
        F.col("n_events").cast("bigint"),
    )


_ORACLE_STATE_HISTORY = """
WITH ordered AS (
  SELECT user_id, ts::TIMESTAMP AS ts, event_id, event_type,
         CASE WHEN lag(event_type) OVER w IS NULL
                   OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id)
),
runs0 AS (
  SELECT user_id, ts, event_id, event_type,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS run
  FROM ordered
),
runs AS (
  SELECT user_id, run, min(ts) AS valid_from, min(event_type) AS state,
         count(*) AS n_events
  FROM runs0 GROUP BY user_id, run
)
SELECT user_id, state, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY run) AS valid_to,
       n_events
FROM runs
"""


_RP_OUT_DIM = 16


def q_rp_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign-projection dimensionality reduction
    of the embedding corpus, 64 -> 16 dims (functions/vector.py
    random_projection): the ±1 matrix is md5-derived driver-side and
    baked into ONE codegen'd expression per output dim — a pure
    map-only pass, no shuffle, no UDF, the canonical way to cheapen
    downstream ANN/clustering at 100 TB. Output exploded to
    (vec_id, dim, value) rows per the hashable-output policy."""
    from cs6300_vectordbs_spark.functions.vector import random_projection

    emb = _t(spark, sf_dir, "embeddings")
    cols = random_projection("embedding", EMB_DIM, _RP_OUT_DIM)
    return (
        emb.select(F.col("vec_id").cast("bigint"), *cols)
        .select(
            "vec_id",
            F.posexplode(F.array(*[F.col(f"rp{j}") for j in range(_RP_OUT_DIM)]))
            .alias("dim", "__v"),
        )
        .select(
            "vec_id",
            F.col("dim").cast("bigint"),
            # + 0.0 canonicalizes IEEE -0.0 to +0.0 (a tiny-negative
            # projection rounds to -0.0 in DuckDB's C-style round but
            # +0.0 in Spark's BigDecimal round; x + 0.0 == x for every
            # other finite double). Mirrored in the oracle.
            (F.round("__v", 9) + F.lit(0.0)).alias("value"),
        )
    )


def _oracle_rp() -> str:
    from cs6300_vectordbs_spark.functions.vector import projection_signs

    signs = projection_signs(EMB_DIM, _RP_OUT_DIM)
    selects = []
    for j in range(_RP_OUT_DIM):
        expr = " + ".join(
            f"({'' if signs[j][i] > 0 else '- '}CAST(embedding[{i + 1}] AS DOUBLE))"
            for i in range(EMB_DIM)
        )
        selects.append(
            f"SELECT vec_id, {j}::BIGINT AS dim, "
            f"round(({expr}) / 8.0, 9) + 0.0 AS value FROM embeddings"
        )
    return "\nUNION ALL\n".join(selects)


def q_split_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split report (80/10/10 by the
    Knuth hash bucket of doc_id — the same keyed hash every sampling
    operator uses, so the split is stable across runs, engines, and
    re-partitioning). One map-side-combined groupBy; the scale cost is
    a single corpus pass."""
    docs = _t(spark, sf_dir, "documents")
    b = hash_bucket("doc_id", 100)
    split = (
        F.when(b < 80, F.lit("train"))
        .when(b < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


_ORACLE_SPLIT = """
WITH b AS (
  SELECT ((doc_id % 2147483648) * 2654435761) % 4294967296 % 100 AS bucket,
         n_chars
  FROM documents
)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       sum(n_chars)::BIGINT AS total_chars
FROM b GROUP BY 1
"""


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid outliers (operators/similarity.py
    centroid_outliers): 3 farthest vectors from their own label's
    rounded centroid — the mislabeled-sample diagnostic. Broadcast
    centroid arrays, map-only unrolled distance, WindowGroupLimit
    top-k per label."""
    from cs6300_vectordbs_spark.operators.similarity import centroid_outliers

    emb = _t(spark, sf_dir, "embeddings")
    out = centroid_outliers(emb, k=3, dim=EMB_DIM)
    return out.select(
        F.col("label").cast("bigint"),
        F.col("rank").cast("bigint"),
        F.col("vec_id").cast("bigint"),
        "dist",
    )


def _oracle_outliers() -> str:
    sq = " + ".join(
        f"((CAST(embedding[{i + 1}] AS DOUBLE) - cv[{i + 1}])"
        f" * (CAST(embedding[{i + 1}] AS DOUBLE) - cv[{i + 1}]))"
        for i in range(EMB_DIM)
    )
    return f"""
WITH cent AS (
  SELECT label, j, round(avg(embedding[j + 1]::DOUBLE), 9) AS c
  FROM embeddings
  CROSS JOIN generate_series(0, {EMB_DIM - 1}) AS t(j)
  GROUP BY label, j
),
carr AS (SELECT label, list(c ORDER BY j) AS cv FROM cent GROUP BY label),
d AS (
  SELECT e.label, e.vec_id, sqrt({sq}) AS dist
  FROM embeddings e JOIN carr USING (label)
),
ranked AS (
  SELECT label, vec_id, dist,
         row_number() OVER (PARTITION BY label
                            ORDER BY dist DESC, vec_id ASC) AS rnk
  FROM d
)
SELECT label::BIGINT AS label, rnk::BIGINT AS rank, vec_id::BIGINT AS vec_id,
       round(dist, 9) AS dist
FROM ranked WHERE rnk <= 3
"""


def q_best_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup survivor selection: MinHash-LSH pair
    graph -> connected-component clusters -> keep the HIGHEST-QUALITY
    member per cluster (ties to lowest id) instead of clean_corpus's
    min-id canonical — what a curation pipeline actually ships. The
    survivor pick is one max_by aggregate over the (tiny) cluster
    membership joined to the oracle-verified quality score."""
    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, num_hashes=_MH_HASHES, bands=_MH_BANDS, shingle_n=3,
        min_jaccard=0.3,
    )
    clusters = dedup_clusters(pairs)
    qual = q_doc_stats(spark, sf_dir).select("doc_id", "quality")
    j = clusters.join(qual, on="doc_id")
    return (
        j.groupBy("cluster_id")
        .agg(
            F.max_by(
                F.col("doc_id"),
                F.struct(
                    F.col("quality").alias("q"),
                    (-F.col("doc_id")).alias("nid"),
                ),
            ).alias("survivor_id"),
            F.max("quality").alias("best_quality"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            F.col("cluster_id").cast("bigint"),
            F.col("survivor_id").cast("bigint"),
            "best_quality",
            F.col("n_members").cast("bigint"),
        )
    )


def _oracle_best_survivors() -> str:
    return f"""
WITH RECURSIVE {_minhash_ctes()},
{_SQL_CLOSURE},
clusters AS (
  SELECT a AS doc_id, least(min(b), a) AS cluster_id FROM reach GROUP BY a
),
qual AS (
  SELECT doc_id, quality FROM ({_ORACLE_DOC_STATS})
),
j AS (
  SELECT c.cluster_id, c.doc_id, q.quality
  FROM clusters c JOIN qual q USING (doc_id)
),
ranked AS (
  SELECT cluster_id, doc_id, quality,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY quality DESC, doc_id ASC) AS rnk,
         count(*) OVER (PARTITION BY cluster_id) AS n
  FROM j
)
SELECT cluster_id::BIGINT AS cluster_id, doc_id::BIGINT AS survivor_id,
       quality AS best_quality, n::BIGINT AS n_members
FROM ranked WHERE rnk = 1
"""


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granular exact dedup: fingerprint every 32-token chunk
    (md5 of the whitespace-normalized chunk text) and report
    fingerprints appearing in more than one DOCUMENT — the
    sub-document duplication a doc-level dedup misses (boilerplate,
    shared headers, license blocks). Map-only chunking + one
    fingerprint groupBy with map-side combine; at 100 TB this is the
    cheapest dedup pass in the pipeline."""
    docs = _t(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, chunk_tokens=32, overlap=8)
    fp = chunks.select(
        F.col("doc_id"),
        F.substring(
            F.md5(
                F.regexp_replace(F.lower(F.trim("chunk_text")), r"\s+", " ")
            ),
            1,
            16,
        ).alias("chunk_fp"),
    )
    return (
        fp.groupBy("chunk_fp")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
        )
        .filter(F.col("n_docs") > 1)
        .select(
            "chunk_fp",
            F.col("n_chunks").cast("bigint"),
            F.col("n_docs").cast("bigint"),
            F.col("min_doc").cast("bigint"),
        )
    )


_ORACLE_CHUNK_DEDUP = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKS} AS tk FROM documents
),
st AS (
  SELECT doc_id, tk, len(tk) AS n,
         unnest(generate_series(0, greatest(len(tk) - 1, 0), 24)) AS start
  FROM toks
),
chunks AS (
  SELECT doc_id,
         array_to_string(tk[start + 1 : start + 32], ' ') AS chunk_text
  FROM st WHERE start < n
),
fp AS (
  SELECT doc_id,
         substr(md5(trim(regexp_replace(lower(chunk_text), '\\s+', ' ', 'g'))),
                1, 16) AS chunk_fp
  FROM chunks
)
SELECT chunk_fp, count(*) AS n_chunks,
       count(DISTINCT doc_id) AS n_docs, min(doc_id) AS min_doc
FROM fp GROUP BY chunk_fp HAVING count(DISTINCT doc_id) > 1
"""


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier by quarterly revenue): the scalar
    MAX subquery decorrelates to a 1-row aggregate broadcast-crossed
    against the per-supplier revenue table — no second scan of
    lineitem, no window over a single partition. Money stays DECIMAL
    through the sum and the equality compare (exact), cast to double
    only in the output projection."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    rev = price * (F.lit(1).cast("decimal(3,0)") - disc)
    per_sup = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(rev).alias("__r"))
    )
    mx = per_sup.agg(F.max("__r").alias("__mx"))
    return (
        per_sup.crossJoin(F.broadcast(mx))
        .filter(F.col("__r") == F.col("__mx"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").cast("bigint"),
            "s_name",
            F.col("__r").cast("double").alias("total_revenue"),
        )
    )


_ORACLE_TOP_SUPPLIER = """
WITH rev AS (
  SELECT l_suppkey,
         sum(l_extendedprice::DECIMAL(12,2) * (1 - l_discount::DECIMAL(4,2))) AS r
  FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, r::DOUBLE AS total_revenue
FROM rev JOIN supplier ON s_suppkey = l_suppkey
WHERE r = (SELECT max(r) FROM rev)
"""


def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (parts above a global-revenue-share floor, 0.075%): the
    correlated HAVING against a corpus-wide total decorrelates to a
    1-row total aggregated FROM the per-part table (one lineitem scan
    feeds both sides) broadcast-crossed back. Exact DECIMAL sums; the
    threshold compare and the share column go through double
    identically in both engines."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    rev = price * (F.lit(1).cast("decimal(3,0)") - disc)
    per_part = li.groupBy("l_partkey").agg(F.sum(rev).alias("__r"))
    tot = per_part.agg(F.sum("__r").alias("__tot"))
    return (
        per_part.crossJoin(F.broadcast(tot))
        .filter(
            F.col("__r").cast("double")
            > F.col("__tot").cast("double") * F.lit(0.00075)
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.col("p_partkey").cast("bigint"),
            "p_name",
            F.col("__r").cast("double").alias("revenue"),
            F.round(
                F.col("__r").cast("double") / F.col("__tot").cast("double"), 9
            ).alias("share"),
        )
    )


_ORACLE_IMPORTANT_PARTS = """
WITH rev AS (
  SELECT l_partkey,
         sum(l_extendedprice::DECIMAL(12,2) * (1 - l_discount::DECIMAL(4,2))) AS r
  FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT sum(r) AS t FROM rev)
SELECT p_partkey, p_name, r::DOUBLE AS revenue,
       round(r::DOUBLE / t::DOUBLE, 9) AS share
FROM rev CROSS JOIN tot
JOIN part ON p_partkey = l_partkey
WHERE r::DOUBLE > t::DOUBLE * 0.00075
"""


def q_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-user growth curve: cumulative unique users by
    day. The naive form (COUNT(DISTINCT) OVER ORDER BY day) re-scans
    ever-growing state; the scale form DEDUPLICATES FIRST — each
    user's first-seen day (one groupBy min), then daily new-user
    counts, then a prefix sum over the DAY GRID, whose cardinality is
    bounded by the calendar (~365 rows/year), not the corpus — so the
    one ordered window is over a provably tiny frame.

    Output shape (r05 driver-red fix): ``day`` is a 'yyyy-MM-dd'
    STRING, not a DATE — a DATE here is derived through the session-tz
    LTZ cast and shifts day boundaries if the gate's session runs
    non-UTC (read_events now also pins UTC); the string of the UTC
    wall-clock is canonical in both engines. The oracle's running sum
    is cast ::BIGINT because DuckDB widens windowed SUM(BIGINT) to
    HUGEINT, which a dtype-sensitive canonicalizer hashes differently
    even when the values are equal."""
    ev = read_events(spark, sf_dir)
    from pyspark.sql.window import Window

    first = ev.groupBy("user_id").agg(
        F.min(F.date_format("ts", "yyyy-MM-dd")).alias("first_day")
    )
    daily = first.groupBy("first_day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    # 'yyyy-MM-dd' strings sort chronologically, so the string ORDER BY
    # is the date ORDER BY.
    w = Window.orderBy("first_day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        F.col("first_day").alias("day"),
        F.col("new_users").cast("bigint"),
        F.sum("new_users").over(w).cast("bigint").alias("cumulative_users"),
    )


_ORACLE_CUMULATIVE_USERS = """
WITH first AS (
  SELECT user_id, min(strftime(ts::TIMESTAMP, '%Y-%m-%d')) AS first_day
  FROM events GROUP BY user_id
),
daily AS (
  SELECT first_day, count(*) AS new_users FROM first GROUP BY first_day
)
SELECT first_day AS day, new_users::BIGINT AS new_users,
       (sum(new_users) OVER (ORDER BY first_day
                             ROWS UNBOUNDED PRECEDING))::BIGINT
         AS cumulative_users
FROM daily
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-proportional sampling — keep each doc with probability
    equal to its (oracle-verified) quality score, using the keyed
    Knuth-hash uniform instead of an RNG, so the sample is
    deterministic across runs, engines, and partitionings (the
    property that makes distributed pipeline re-runs reproducible).
    Map-only: the uniform and the keep decision are scan-fused."""
    stats = q_doc_stats(spark, sf_dir).select("doc_id", "quality")
    u = hash_bucket("doc_id", 1000000).cast("double") / F.lit(1000000.0)
    return (
        stats.withColumn("u", F.round(u, 9))
        .filter(F.col("u") < F.col("quality"))
        .select("doc_id", "quality", "u")
    )


_ORACLE_WEIGHTED_SAMPLE = f"""
WITH stats AS ({_ORACLE_DOC_STATS}),
s AS (
  SELECT doc_id, quality,
         round((((doc_id % 2147483648) * 2654435761) % 4294967296 % 1000000)
               / 1000000.0, 9) AS u
  FROM stats
)
SELECT doc_id, quality, u FROM s WHERE u < quality
"""


def q_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding profile (mean / min / max / zero count
    per coordinate) — the dead-dimension and scale-drift health check
    run before any index build. One posexplode aggregate whose reduce
    cardinality is exactly ``dim`` rows no matter the corpus size;
    shuffled float means round(9) per the cross-engine policy."""
    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select(F.posexplode("embedding").alias("dim", "__x"))
    return (
        ex.groupBy("dim")
        .agg(
            F.round(F.avg(F.col("__x").cast("double")), 9).alias("mean"),
            F.min(F.col("__x").cast("double")).alias("min"),
            F.max(F.col("__x").cast("double")).alias("max"),
            F.sum(
                F.when(F.col("__x") == 0.0, F.lit(1)).otherwise(F.lit(0))
            ).cast("bigint").alias("n_zero"),
        )
        .select(F.col("dim").cast("bigint"), "mean", "min", "max", "n_zero")
    )


_ORACLE_DIM_STATS = f"""
SELECT j::BIGINT AS dim,
       round(avg(embedding[j + 1]::DOUBLE), 9) AS mean,
       min(embedding[j + 1]::DOUBLE) AS min,
       max(embedding[j + 1]::DOUBLE) AS max,
       sum(CASE WHEN embedding[j + 1] = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero
FROM embeddings
CROSS JOIN generate_series(0, {EMB_DIM - 1}) AS t(j)
GROUP BY j
"""


def q_ivf_search_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming vector search: the query batch arrives as a file
    STREAM and each micro-batch is served from the persisted IVF index
    (streaming/search.py — foreachBatch over the same pruned serving
    plan as ivf_persisted_topk). Per-query independence makes the
    drained stream bit-identical to the batch serve, so this shares
    the ivf family's full value-hash oracle."""
    from cs6300_vectordbs_spark.sources.vector_index import ensure_ivf_index
    from cs6300_vectordbs_spark.streaming.search import (
        read_query_stream,
        serve_query_stream,
    )

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"{WAREHOUSE}/ivf_index_{tag}"
    emb = _t(spark, sf_dir, "embeddings")
    ensure_ivf_index(spark, emb, path, dim=EMB_DIM, n_cells=_IVF_CELLS)
    qs = read_query_stream(spark, sf_dir, N_QUERIES)
    out = serve_query_stream(
        spark, qs, path, TOPK,
        dim=EMB_DIM, n_probe=_IVF_PROBE, exclude_self=True,
    )
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("rank").cast("bigint").alias("rank"),
        F.col("id").cast("bigint").alias("vec_id"),
        F.col("sim"),
        F.col("dist"),
    )


def q_nsw_search_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming GRAPH-ANN search: the query batch arrives as a file
    STREAM and every micro-batch is served over the persisted NSW
    graph by ONE broadcast server built before the first batch
    (streaming/search.serve_graph_query_stream — the index collects
    and broadcasts once per drain, the long-lived-HNSW-process shape).
    Per-query independence makes the drained stream row-identical to
    the batch serve, so this shares nsw_beam_topk's full value-hash
    oracle. Same exactly-once contract as the IVF stream (per-batch
    overwrite dirs, params sidecars)."""
    from cs6300_vectordbs_spark.sources.graph_index import ensure_nsw_graph
    from cs6300_vectordbs_spark.streaming.search import (
        read_query_stream,
        serve_graph_query_stream,
    )

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"{WAREHOUSE}/nsw_graph_{tag}"
    emb = _t(spark, sf_dir, "embeddings")
    ensure_nsw_graph(spark, emb, path, k=_NSW_K)
    qs = read_query_stream(spark, sf_dir, N_QUERIES)
    out = serve_graph_query_stream(
        spark, qs, emb, path, TOPK,
        dim=EMB_DIM, beam_width=_NSW_BEAM, n_iters=_NSW_HOPS,
        n_entries=_NSW_ENTRIES, exclude_self=True,
    )
    return _topk_rows(out)


def q_hnsw_search_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HIERARCHICAL graph search: the query batch arrives
    as a file stream and every micro-batch runs the full HNSW
    descent-and-beam over the persisted layered store, served by ONE
    layered broadcast server built before the first batch
    (streaming/search.serve_hnsw_query_stream). Per-query
    independence makes the drained stream row-identical to the batch
    layered serve, so this shares hnsw_topk's full value-hash oracle.
    Same exactly-once contract as the other drains (per-batch
    overwrite dirs, params sidecar pinning graph/corpus/tombstone
    content and every descent parameter)."""
    from cs6300_vectordbs_spark.sources.hnsw_index import ensure_hnsw_graph
    from cs6300_vectordbs_spark.streaming.search import (
        read_query_stream,
        serve_hnsw_query_stream,
    )

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"{WAREHOUSE}/hnsw_graph_{tag}"
    emb = _t(spark, sf_dir, "embeddings")
    ensure_hnsw_graph(
        spark, emb, path, k=_NSW_K, branch=_HNSW_BRANCH,
        max_level=_HNSW_MAXLVL, level_salt=_HNSW_LSALT, k_upper=_HNSW_KUP,
    )
    qs = read_query_stream(spark, sf_dir, N_QUERIES)
    out = serve_hnsw_query_stream(
        spark, qs, emb, path, TOPK,
        dim=EMB_DIM, beam_width=_NSW_BEAM, n_iters=_NSW_HOPS,
        max_level=_HNSW_MAXLVL, descent_beam=_HNSW_DBEAM,
        descent_iters=_HNSW_DITERS, exclude_self=True,
    )
    return _topk_rows(out)


def q_bm25_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored-text-index serving path (sources/text_index.py): ensure
    the on-disk BM25 impact index exists (create-if-absent with
    content-addressed invalidation, S9), then serve top-k with
    term-bucket PARTITION pruning — the lexical analog of the IVF
    cell-pruned serve. Impacts are precomputed at build time; serving
    reads |query buckets|/64 of the index and shares bm25_topk's full
    value-hash oracle."""
    from cs6300_vectordbs_spark.sources.text_index import (
        ensure_text_index,
        search_text_index,
    )

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"{WAREHOUSE}/text_index_{tag}"
    docs = _t(spark, sf_dir, "documents")
    ensure_text_index(spark, docs, path)
    qs = hash_sample(docs, "doc_id", pct=10).select(
        F.col("doc_id").alias("query_id"),
        template_query("text", 5, prefix="").alias("query"),
    )
    out = search_text_index(spark, path, qs, k=5)
    return out.select(
        F.col("query_id").cast("bigint"),
        F.col("rank").cast("bigint"),
        F.col("doc_id").cast("bigint"),
        "score",
    )


def q_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit between the text corpus and the
    embedding store — the first check a pipeline runs before serving:
    docs without vectors (un-embedded backlog), vectors without docs
    (orphans from deletes), and the matched core. One full-outer join
    on the id (both sides pre-projected to the key column only, so the
    shuffle moves ids, not payloads) and a 3-row conditional count."""
    docs = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("d"))
    emb = _t(spark, sf_dir, "embeddings").select(F.col("vec_id").alias("v"))
    j = docs.join(emb, docs["d"] == emb["v"], "full_outer")
    status = (
        F.when(F.col("d").isNull(), F.lit("vector_only"))
        .when(F.col("v").isNull(), F.lit("doc_only"))
        .otherwise(F.lit("matched"))
    )
    return (
        j.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


_ORACLE_INTEGRITY = """
SELECT CASE WHEN d.doc_id IS NULL THEN 'vector_only'
            WHEN e.vec_id IS NULL THEN 'doc_only'
            ELSE 'matched' END AS status,
       count(*) AS n
FROM documents d FULL OUTER JOIN embeddings e ON d.doc_id = e.vec_id
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.
    Routed through the auto-dispatch search() facade — identical rows
    to q_topk_cosine_exact (the dispatch lands on the same exact
    top-k at this scale), so the
    smoke test exercises the engine's one-call entry point end-to-end."""
    return q_auto_search(spark, "/root/testdata/sf0.001")


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining sequence packing (concat-and-chunk): documents in
    doc_id order are laid end-to-end and the token stream is cut into
    256-token training sequences; output is the (seq_id, doc_id,
    offset, n_tok) span manifest. The global token prefix sum runs
    DISTRIBUTED (operators/packing.py — range exchange + local cumsum
    + P-integer offsets), never a single-partition window; pure
    integer arithmetic, so the DuckDB twin matches exactly."""
    from cs6300_vectordbs_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id").cast("bigint"),
        token_count("text").cast("bigint").alias("n_tokens"),
    )
    return pack_sequences(toks, budget=256)


_ORACLE_PACK = f"""
WITH t AS (
  SELECT doc_id, len({_SQL_TOKS}) AS ntok FROM documents
), pos AS (
  SELECT doc_id, ntok,
         sum(ntok) OVER (ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING) AS e
  FROM t
), spans AS (
  SELECT doc_id, ntok, e - ntok AS s, e FROM pos WHERE ntok > 0
), ex AS (
  -- constant series + filter (this DuckDB build rejects lateral
  -- column bounds in generate_series); 64 covers any doc up to
  -- 16384 tokens at budget 256
  SELECT doc_id, s, e, (s // 256 + g.i) AS seq_id
  FROM spans CROSS JOIN generate_series(0, 64) AS g(i)
  WHERE (s // 256 + g.i) <= (e - 1) // 256
)
SELECT seq_id::BIGINT AS seq_id, doc_id,
       (greatest(s, seq_id * 256) - seq_id * 256)::BIGINT AS offset,
       (least(e, (seq_id + 1) * 256)
        - greatest(s, seq_id * 256))::BIGINT AS n_tok
FROM ex
"""


def q_lm_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document LM quality score: mean negative log conditional
    probability of the doc's bigrams under the CORPUS bigram LM (the
    classic perplexity-style filter — boilerplate and spam score low
    surprise, gibberish high). Corpus counts C(w1,w2)/C(w1) come from
    two map-side-combined aggregates over the codegen shingle
    pipeline; each doc's bigrams equi-join the (broadcastable at this
    cardinality, shuffled at scale) LM table. -ln of an exact integer
    ratio → identical doubles in any engine; the mean is a shuffled
    float agg → round 9."""
    from pyspark.sql.window import Window

    from cs6300_vectordbs_spark.operators.util import spread

    docs = _t(spark, sf_dir, "documents")
    t = F.lower(F.trim(F.col("text")))
    ex = (
        spread(docs)
        .select(
            F.col("doc_id").alias("id"),
            F.posexplode(F.split(t, r"\s+")).alias("pos", "tok"),
        )
        .filter(F.col("tok") != "")
    )
    wlead = Window.partitionBy("id").orderBy("pos")
    pairs = (
        ex.select(
            "id",
            F.col("tok").alias("w1"),
            F.lead("tok", 1).over(wlead).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
    )
    lm = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    tot = lm.groupBy("w1").agg(F.sum("n12").alias("n1"))
    scored = (
        pairs.join(lm, on=["w1", "w2"])
        .join(tot, on="w1")
        .select(
            "id",
            (-F.log(F.col("n12").cast("double") / F.col("n1"))).alias("nll"),
        )
    )
    return scored.groupBy(F.col("id").cast("bigint").alias("doc_id")).agg(
        F.round(F.avg("nll"), 9).alias("avg_nll"),
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
    )


_ORACLE_LM_SCORES = f"""
WITH {_sql_shingles(2)},
pairs AS (
  SELECT doc_id, string_split(unnest(sh_all), ' ') AS p
  FROM (SELECT doc_id,
               [array_to_string(tk[i:i+1], ' ')
                for i in generate_series(1, len(tk) - 1)] AS sh_all
        FROM toks)
), bi AS (
  SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM pairs
), lm AS (
  SELECT w1, w2, count(*) AS n12 FROM bi GROUP BY 1, 2
), tot AS (
  SELECT w1, sum(n12) AS n1 FROM lm GROUP BY 1
)
SELECT b.doc_id, round(avg(-ln(n12 / n1)), 9) AS avg_nll,
       count(*)::BIGINT AS n_bigrams
FROM bi b JOIN lm USING (w1, w2) JOIN tot USING (w1)
GROUP BY b.doc_id
"""


def q_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix weights: per-source token share raised to
    temperature 0.7 and renormalized — the standard multi-corpus
    sampling rule (T<1 upsamples rare sources). Two tiny aggregates;
    nothing corpus-sized shuffles."""
    from cs6300_vectordbs_spark.operators.packing import (
        source_mixture_weights,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "source", token_count("text").cast("bigint").alias("n_tokens")
    )
    return source_mixture_weights(
        docs, tokens_col="n_tokens", temperature=0.7
    )


def q_mixture_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch planning (packing.mixture_epoch_plan): allocate a 1M-token
    training budget across sources by temperature-0.5 mixing weights
    and report per-source repetition factors — the Pile/LLaMA "epochs
    per source" table. All floats derive from the round(9) weight, so
    cross-engine arithmetic is bit-identical; the boolean oversampled
    flag compares the same deterministic double on both sides."""
    from cs6300_vectordbs_spark.operators.packing import (
        mixture_epoch_plan,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "source", token_count("text").cast("bigint").alias("n_tokens")
    )
    return mixture_epoch_plan(
        docs, budget=1_000_000, temperature=0.5
    )


_ORACLE_EPOCH_PLAN = f"""
WITH per AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         sum(len({_SQL_TOKS}))::BIGINT AS avail_tokens
  FROM documents GROUP BY source
), tot AS (SELECT sum(avail_tokens)::DOUBLE AS t FROM per),
powed AS (
  SELECT source, n_docs, avail_tokens,
         pow(avail_tokens / t, 0.5) AS p
  FROM per, tot
), ptot AS (SELECT sum(p) AS pt FROM powed),
w AS (
  SELECT source, n_docs, avail_tokens, round(p / pt, 9) AS weight
  FROM powed, ptot
)
SELECT source, n_docs, avail_tokens, weight,
       round(1000000.0 * weight, 3) AS target_tokens,
       round(1000000.0 * weight / avail_tokens, 9) AS epochs,
       round(1000000.0 * weight, 3) > avail_tokens AS oversampled
FROM w
"""


_ORACLE_MIXTURE = f"""
WITH per AS (
  SELECT source, sum(len({_SQL_TOKS}))::BIGINT AS n_items
  FROM documents GROUP BY source
), tot AS (SELECT sum(n_items)::DOUBLE AS t FROM per),
powed AS (
  SELECT source, n_items, n_items / t AS share,
         pow(n_items / t, 0.7) AS p
  FROM per, tot
), ptot AS (SELECT sum(p) AS pt FROM powed)
SELECT source, n_items, round(share, 9) AS share,
       round(p / pt, 9) AS weight
FROM powed, ptot
"""





def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume-customer query (TPC-H Q18 shape): orders whose
    total line quantity exceeds a threshold, with customer identity
    attached. The HAVING aggregate runs FIRST on lineitem alone
    (map-side partial, shuffle keyed l_orderkey), and only qualifying
    orderkeys — a tiny set — flow into the joins: at 100 TB the two
    dimension probes see thousands of rows, not billions. Quantity
    sums are exact integer-valued decimals; total order value stays
    DECIMAL until the final cast."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    qty = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(12,2)"))
        .alias("sum_qty")
    ).filter(F.col("sum_qty") > 250)
    return (
        qty.join(orders, qty.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            F.col("c_custkey").cast("bigint"),
            "c_name",
            F.col("o_orderkey").cast("bigint"),
            F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd")
            .alias("o_orderdate"),
            F.col("o_totalprice").cast("decimal(12,2)").cast("double")
            .alias("o_totalprice"),
            F.col("sum_qty").cast("double").alias("sum_qty"),
        )
    )


_ORACLE_LARGE_ORDERS = """
WITH qty AS (
  SELECT l_orderkey, sum(l_quantity::DECIMAL(12,2)) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum_qty > 250
)
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate::DATE, '%Y-%m-%d') AS o_orderdate,
       o_totalprice::DECIMAL(12,2)::DOUBLE AS o_totalprice,
       sum_qty::DOUBLE AS sum_qty
FROM qty JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item revenue report (TPC-H Q10 shape): per-customer
    revenue lost to returns in a one-quarter order window, top 20.
    The returnflag filter rides INTO the lineitem scan and the date
    window into the orders scan (PushedFilters); revenue accumulates
    in exact DECIMAL through a partial+final aggregate; the top-20 is
    TakeOrderedAndProject (heap merge), never a global sort."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    rev = (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter(
                (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1996-04-01")
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(price * (F.lit(1).cast("decimal(3,0)") - disc))
            .cast("double").alias("revenue")
        )
    )
    return (
        rev.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            F.col("c_custkey").cast("bigint"), "c_name", "n_name", "revenue"
        )
    )


_ORACLE_RETURNED = """
SELECT c_custkey, c_name, n_name,
  sum(l_extendedprice::DECIMAL(12,2) * (1 - l_discount::DECIMAL(4,2)))::DOUBLE
    AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-revenue-change query (TPC-H Q6 shape): a single
    scan-heavy conditional sum with NO join — the purest predicate-
    pushdown benchmark. The ship-year and quantity predicates reach
    the parquet scan as PushedFilters (row groups prune before any row
    materializes); the discount band compares through a DECIMAL cast,
    which parquet filter translation cannot push — it evaluates in the
    first codegen stage on already-pruned rows; the aggregate is
    a one-row partial+final sum in exact DECIMAL. The discount-band
    comparison runs on DECIMAL(4,2) (values are exact hundredths;
    comparing the raw doubles to 0.05/0.07 literals would be a
    float-representation trap on both engines)."""
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_quantity") < 24)
        )
        .filter(
            (disc >= F.lit("0.05").cast("decimal(4,2)"))
            & (disc <= F.lit("0.07").cast("decimal(4,2)"))
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)") * disc)
            .cast("double").alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )


_ORACLE_DISCOUNT_REVENUE = """
SELECT
  sum(l_extendedprice::DECIMAL(12,2) * l_discount::DECIMAL(4,2))::DOUBLE
    AS revenue,
  count(*)::BIGINT AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_quantity < 24
  AND l_discount::DECIMAL(4,2) BETWEEN 0.05 AND 0.07
"""


def q_bucketed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by order priority served from BUCKETED catalog tables —
    the stored-layout path for repeated big-to-big joins: lineitem and
    orders are both bucketed on the order key (create-if-absent with
    content-addressed invalidation, sources/ingest.ensure_bucketed_
    table), so the join reads co-located buckets with NO Exchange on
    either side — at 100 TB the shuffle being skipped is the dominant
    join cost, paid once at layout time and amortized over every
    subsequent query. The only exchange in the plan is the final
    6-row priority aggregate. Values are identical to the plain-scan
    join (shared SQL oracle over the raw tables)."""
    from cs6300_vectordbs_spark.sources.ingest import ensure_bucketed_table

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    li_t, ord_t = f"li_bkt_{tag}", f"ord_bkt_{tag}"
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    # Fingerprint EVERY served column: omitting l_discount would let a
    # discount-only regeneration reuse the stale layout and serve
    # revenue computed from old discounts. assume_unchanged skips the
    # per-serve full-scan fingerprint aggregate (r03 advisory) — safe
    # here because the catalog is in-memory: a fresh session always
    # takes the build path (where the fingerprint is computed and
    # stored), and within a session the source parquet is immutable,
    # so only repeat serves in the SAME session skip the rescan.
    ensure_bucketed_table(
        spark, li, li_t, "l_orderkey", 16,
        fingerprint_cols=["l_orderkey", "l_extendedprice", "l_discount"],
        assume_unchanged=True,
    )
    ensure_bucketed_table(
        spark, orders, ord_t, "o_orderkey", 16,
        fingerprint_cols=["o_orderkey", "o_orderpriority"],
        assume_unchanged=True,
    )
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (
        spark.table(li_t)
        .join(
            spark.table(ord_t),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.sum(price * (F.lit(1).cast("decimal(3,0)") - disc))
            .cast("double").alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )


_ORACLE_BUCKETED_REVENUE = """
SELECT o_orderpriority,
       sum(l_extendedprice::DECIMAL(12,2)
           * (1 - l_discount::DECIMAL(4,2)))::DOUBLE AS revenue,
       count(*)::BIGINT AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-cost-supplier lookup (TPC-H Q2 shape, adapted: this
    schema has no partsupp, so the supply relation is derived as the
    distinct (part, supplier) pairs observed in lineitem with cost =
    MIN(l_extendedprice) — a pure MIN, no arithmetic, so the value is
    bit-exact across engines). For every size-15 part supplied from
    EUROPE, return the supplier(s) achieving the per-part minimum cost.

    Scale shape: the supply-pair aggregate shuffles lineitem once on
    (l_partkey, l_suppkey) with map-side partial MIN; part and the
    supplier->nation->region chain are BROADCAST (dims); the per-part
    minimum is a window on the already-shuffled partkey — Catalyst
    reuses the hash-partitioning, no second exchange of the big side."""
    from pyspark.sql.window import Window

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    euro_sup = (
        sup.join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    supply = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(euro_sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(F.min("l_extendedprice").alias("cost"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        supply.withColumn("min_cost", F.min("cost").over(w))
        .filter(F.col("cost") == F.col("min_cost"))
        .select(
            F.col("p_partkey").cast("bigint"),
            "p_name",
            F.col("s_suppkey").cast("bigint"),
            "s_name",
            "n_name",
            "cost",
        )
    )


_ORACLE_MIN_COST = """
WITH supply AS (
  SELECT p_partkey, p_name, s_suppkey, s_name, n_name,
         min(l_extendedprice) AS cost
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE p_size = 15 AND r_name = 'EUROPE'
  GROUP BY ALL
)
SELECT p_partkey, p_name, s_suppkey, s_name, n_name, cost
FROM supply
QUALIFY cost = min(cost) OVER (PARTITION BY p_partkey)
"""


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-shipping between two trading nations (TPC-H Q7 shape):
    the disjunctive nation-PAIR predicate ((supp=N1 AND cust=N2) OR
    (supp=N2 AND cust=N1)) across a 4-way join, grouped by direction
    and ship year. Scale shape: supplier/customer/nation are broadcast
    onto lineitem/orders; the only big shuffle is lineitem<->orders on
    orderkey; both nation filters are applied INSIDE the broadcast
    dims, so the pair predicate prunes before the fact join."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    nat = _t(spark, sf_dir, "nation")
    pair = ("NATION_1", "NATION_2")
    sup = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin(*pair))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin(*pair))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (
        li.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("ship_year"),
        )
        .agg(
            F.sum(price * (F.lit(1).cast("decimal(3,0)") - disc))
            .cast("double").alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )


_ORACLE_VOLUME_SHIP = """
SELECT supp_nation, cust_nation, ship_year,
       sum(rev)::DOUBLE AS revenue, count(*)::BIGINT AS n_items
FROM (
  SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         year(l_shipdate)::BIGINT AS ship_year,
         l_extendedprice::DECIMAL(12,2) * (1 - l_discount::DECIMAL(4,2)) AS rev
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
      OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
)
GROUP BY supp_nation, cust_nation, ship_year
"""


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-type profit by nation and year (TPC-H Q9 shape,
    adapted: no partsupp, so supply cost is modeled as 10% of the
    part's retail price per unit — exact DECIMAL arithmetic on both
    engines). The p_name LIKE filter rides in the broadcast part dim;
    profit accumulates in DECIMAL and is cast to double once."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    cost = (
        F.col("p_retailprice").cast("decimal(12,2)")
        * F.col("l_quantity").cast("decimal(4,0)")
        * F.lit(0.1).cast("decimal(2,1)")
    )
    profit = price * (F.lit(1).cast("decimal(3,0)") - disc) - cost
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("bigint").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
    )


_ORACLE_PRODUCT_PROFIT = """
SELECT n_name AS nation, year(l_shipdate)::BIGINT AS o_year,
  sum(l_extendedprice::DECIMAL(12,2) * (1 - l_discount::DECIMAL(4,2))
      - p_retailprice::DECIMAL(12,2) * l_quantity::DECIMAL(4,0)
        * 0.1::DECIMAL(2,1))::DOUBLE AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
"""


def q_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (TPC-H Q13 shape): LEFT OUTER
    join customers to a filtered orders set, count per customer
    (zero-order customers kept by the outer join), then histogram the
    counts. Two aggregates: the first shuffles on custkey, the second
    on the tiny count domain."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))
        .select(F.col("c_count").cast("bigint"), "custdist")
    )


_ORACLE_CUST_DIST = """
SELECT c_count::BIGINT AS c_count, count(*)::BIGINT AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority != '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion-revenue share for one month (TPC-H Q14 shape):
    conditional aggregation over a joined month slice — both DECIMAL
    sums are exact, the final percentage is one double division
    (identical operands on both engines), rounded per the repo float
    policy. The date window pushes into the lineitem scan; part is
    broadcast."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    part = _t(spark, sf_dir, "part")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    rev = price * (F.lit(1).cast("decimal(3,0)") - disc)
    zero = F.lit(0).cast("decimal(16,4)")
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(promo).cast("double").alias("promo_rev"),
            F.sum(rev).cast("double").alias("total_rev"),
        )
        .select(
            "promo_rev",
            "total_rev",
            F.round(
                F.lit(100.0) * F.col("promo_rev") / F.col("total_rev"), 9
            ).alias("promo_pct"),
        )
    )


_ORACLE_PROMO = """
WITH sums AS (
  SELECT
    sum(CASE WHEN p_type = 'PROMO'
        THEN l_extendedprice::DECIMAL(12,2) * (1 - l_discount::DECIMAL(4,2))
        ELSE 0::DECIMAL(16,4) END)::DOUBLE AS promo_rev,
    sum(l_extendedprice::DECIMAL(12,2)
        * (1 - l_discount::DECIMAL(4,2)))::DOUBLE AS total_rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-03-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
)
SELECT promo_rev, total_rev,
       round(100.0 * promo_rev / total_rev, 9) AS promo_pct
FROM sums
"""


def q_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier counts per part profile (TPC-H Q16 shape, adapted: the
    supply relation is the distinct (part, supplier) pairs observed in
    lineitem). Excluded suppliers (negative account balance — the
    complaints stand-in) are removed with an ANTI-join; the count is
    COUNT(DISTINCT supplier) per (brand, type, size) bucket. Scale
    shape: one shuffle of the pair set on partkey-profile keys;
    part and the exclusion list are broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 14, 20)
    )
    bad_sup = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    return (
        pairs.join(
            F.broadcast(bad_sup),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(
            F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt")
        )
        .select("p_brand", "p_type", F.col("p_size").cast("bigint"), "supplier_cnt")
    )


_ORACLE_SUPP_PART = """
SELECT p_brand, p_type, p_size::BIGINT AS p_size,
       count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
JOIN part ON l_partkey = p_partkey
WHERE p_brand != 'Brand#1' AND p_type != 'PROMO'
  AND p_size IN (1, 5, 9, 14, 20)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue (TPC-H Q17 shape): average yearly
    revenue lost if small orders (quantity < 20% of the part's average
    order quantity) were no longer filled, for one brand. The 20%-of-
    average comparison is CROSS-MULTIPLIED into integer space
    (5*qty*cnt < sum_qty, quantities are integral) so both engines
    compare exact integers instead of float averages. Scale shape:
    the per-part stats aggregate shuffles lineitem once on partkey and
    is then re-joined on the same key; part is broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    li_b = li.join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    stats = li_b.groupBy(F.col("l_partkey").alias("sk")).agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt_qty"),
    )
    qty = F.col("l_quantity").cast("bigint")
    small = li_b.join(stats, F.col("l_partkey") == F.col("sk")).filter(
        qty * F.lit(5) * F.col("cnt_qty") < F.col("sum_qty")
    )
    # No round(): at ~1e6 magnitude, 9 decimals exceeds double's 16
    # significant digits and the engines' rounding differs by 1 ulp.
    # The DECIMAL sum is exact and /7.0 on identical doubles is
    # bit-identical IEEE — raw is the cross-engine-safe form here.
    return small.agg(
        (
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
            .cast("double") / F.lit(7.0)
        ).alias("avg_yearly")
    )


_ORACLE_SMALL_QTY = """
WITH brand_li AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#3'
), stats AS (
  SELECT l_partkey AS sk, sum(l_quantity::BIGINT) AS sum_qty,
         count(*) AS cnt_qty
  FROM brand_li GROUP BY l_partkey
)
SELECT sum(l_extendedprice::DECIMAL(12,2))::DOUBLE / 7.0 AS avg_yearly
FROM brand_li JOIN stats ON l_partkey = sk
WHERE l_quantity::BIGINT * 5 * cnt_qty < sum_qty
"""


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted revenue under an OR-of-ANDs predicate (TPC-H Q19
    shape): three (brand, size-range, quantity-range) conjuncts OR'd
    together. The part-side conjuncts (brand/size) evaluate inside the
    broadcast dim and the lineitem-side bounds (quantity 1..30 across
    all arms) are pushed to the fact scan as a covering range, so the
    disjunction only runs on pre-pruned rows."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30)
    )
    part = _t(spark, sf_dir, "part")
    arm = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & (F.col("p_size") >= 1) & (F.col("p_size") <= smax)
        & (F.col("l_quantity") >= qlo) & (F.col("l_quantity") <= qhi)
    )
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(
            arm("Brand#12", 5, 1, 11)
            | arm("Brand#23", 10, 10, 20)
            | arm("Brand#15", 15, 20, 30)
        )
        .agg(
            F.sum(price * (F.lit(1).cast("decimal(3,0)") - disc))
            .cast("double").alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )


_ORACLE_DISJUNCTIVE = """
SELECT
  sum(l_extendedprice::DECIMAL(12,2)
      * (1 - l_discount::DECIMAL(4,2)))::DOUBLE AS revenue,
  count(*)::BIGINT AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 15
        AND l_quantity BETWEEN 20 AND 30)
"""


def q_excess_parts_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-volume suppliers of a part family (TPC-H Q20 shape,
    adapted: no partsupp availqty, so the inner threshold is shipped
    quantity): suppliers in NATION_3 with some 'red'-named part whose
    1996 shipped quantity from that supplier exceeds 40 units. The
    inner aggregate is per (supplier, part); qualification is a
    SEMI-join into the supplier dim. Scale shape: one lineitem shuffle
    on the (supp, part) composite; part and nation broadcast; the
    distinct-supplier set is tiny by construction."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    heavy = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("qty"))
        .filter(F.col("qty") > 40)
        .select("l_suppkey")
        .distinct()
    )
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    return (
        sup.join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select(F.col("s_suppkey").cast("bigint"), "s_name")
    )


_ORACLE_EXCESS_PARTS = """
SELECT s_suppkey, s_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3'
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE '%red%'
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_suppkey, l_partkey
    HAVING sum(l_quantity::BIGINT) > 40
  )
"""


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers solely responsible for returns in shared orders
    (TPC-H Q21 shape, adapted: no receipt/commit dates, so "late" is
    l_returnflag = 'R'): for finished multi-supplier orders, count per
    supplier the returned lineitems where NO other supplier in the
    order also returned — the classic EXISTS + NOT-EXISTS double
    correlation, expressed as a SEMI-join then an ANTI-join on
    (orderkey, other-supplier) pairs. Top 10 by count.

    Scale shape: all three lineitem derivatives shuffle on orderkey
    (one partitioning reused across both joins by AQE); orders' status
    filter pushes to its scan; supplier is broadcast at the end."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("l_orderkey", "l_suppkey")
    )
    others = li.select(
        F.col("l_orderkey").alias("o2_orderkey"),
        F.col("l_suppkey").alias("o2_suppkey"),
    ).distinct()
    other_returns = (
        li.filter(F.col("l_returnflag") == "R")
        .select(
            F.col("l_orderkey").alias("r3_orderkey"),
            F.col("l_suppkey").alias("r3_suppkey"),
        )
        .distinct()
    )
    qualified = (
        l1.join(
            others,
            (F.col("l_orderkey") == F.col("o2_orderkey"))
            & (F.col("l_suppkey") != F.col("o2_suppkey")),
            "left_semi",
        )
        .join(
            other_returns,
            (F.col("l_orderkey") == F.col("r3_orderkey"))
            & (F.col("l_suppkey") != F.col("r3_suppkey")),
            "left_anti",
        )
    )
    sup = _t(spark, sf_dir, "supplier")
    return (
        qualified.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(10)
        .select("s_name", "numwait")
    )


_ORACLE_WAITING = """
SELECT s_name, count(*)::BIGINT AS numwait
FROM lineitem l1
JOIN orders ON l1.l_orderkey = o_orderkey
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.l_returnflag = 'R' AND o_orderstatus = 'F'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey != l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey != l1.l_suppkey AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 10
"""





def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite ANN (FAISS IndexIVFPQ shape): coarse-cell
    pruning x PQ compression x exact re-rank — the production 100-TB
    index layout. Deterministic end to end (sampled quantizers, fixed
    tie rules, sequential driver-side folds) — FULL value-hash oracle
    (_oracle_ivfpq) plus the recall-vs-exact invariant in
    tests/test_ann_pq.py."""
    from cs6300_vectordbs_spark.operators.ann import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    out = ivfpq_topk(
        emb, _query_batch(emb), TOPK, dim=EMB_DIM,
        n_cells=_IVF_CELLS, n_probe=8, m=8, ksub=16,
        candidates_per_query=4 * TOPK, exclude_self=True,
    )
    return out.select(
        F.col("query_id").cast("bigint"),
        F.col("rank").cast("bigint"),
        F.col("vec_id").cast("bigint"),
        "sim",
        "adc",
    )


def _oracle_ivfpq() -> str:
    """Full value-hash twin for IVF-PQ: the _sql_ivf_cells cells and
    probe ranking, a sampled codebook (the 16 lowest-id vectors),
    per-subspace argmin-L2 PQ codes, 8-probe candidate
    generation, ADC scoring (sum of per-subspace codebook dots — the
    engine computes these driver-side with an explicit sequential
    fold, so the left-associated SQL sums here are bit-identical),
    ADC shortlist of 20, exact-cosine re-rank to top-5. Spark array
    indexing in d2/dot slices is 0-based; DuckDB's is 1-based (+1s
    below)."""
    m, sub, ksub, n_probe, cand_n = 8, EMB_DIM // 8, 16, 8, 4 * TOPK

    def d2(mi: int) -> str:
        o = mi * sub
        return " + ".join(
            f"((e.embedding[{o + i + 1}]::DOUBLE - c.cvec[{o + i + 1}]::DOUBLE)"
            f" * (e.embedding[{o + i + 1}]::DOUBLE - c.cvec[{o + i + 1}]::DOUBLE))"
            for i in range(sub)
        )

    enc_ctes = ",\n".join(
        f"""enc{mi} AS (
  SELECT vec_id, cid AS code{mi} FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY ({d2(mi)}) ASC, c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN cb c) WHERE rn = 1
)"""
        for mi in range(m)
    )
    enc_joins = " ".join(
        f"JOIN enc{mi} USING (vec_id)" for mi in range(m)
    )
    cb_joins = " ".join(
        f"JOIN cb b{mi} ON b{mi}.cid = cd.code{mi}" for mi in range(m)
    )

    def tab(mi: int) -> str:
        o = mi * sub
        terms = " + ".join(
            f"cd.qvec[{o + i + 1}]::DOUBLE * b{mi}.cvec[{o + i + 1}]::DOUBLE"
            for i in range(sub)
        )
        return f"(0.0 + {terms})"

    adc = " + ".join(tab(mi) for mi in range(m))

    return f"""
WITH {_sql_ivf_cells(probes=True)},
cb AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
         embedding AS cvec
  FROM (SELECT vec_id, embedding FROM embeddings
        ORDER BY vec_id LIMIT {ksub})
),
{enc_ctes},
codes AS (
  SELECT e.vec_id, e.embedding, e.cell,
         {", ".join(f"enc{mi}.code{mi}" for mi in range(m))}
  FROM cells e {enc_joins}
),
cand AS (
  SELECT p.query_id, p.qvec, e.vec_id, e.embedding,
         {", ".join(f"e.code{mi}" for mi in range(m))}
  FROM (SELECT query_id, qvec, cell FROM probes WHERE rn <= {n_probe}) p
  JOIN codes e ON e.cell = p.cell AND e.vec_id != p.query_id
),
scored AS (
  SELECT cd.query_id, cd.qvec, cd.vec_id, cd.embedding,
         {adc} AS adc
  FROM cand cd {cb_joins}
),
shortlist AS (
  SELECT query_id, qvec, vec_id, embedding, adc FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc DESC, vec_id ASC) AS crn
    FROM scored) WHERE crn <= {cand_n}
),
ranked AS (
  SELECT query_id, vec_id,
         {_sql_cos('qvec', 'embedding')} AS sim, adc,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY {_sql_cos('qvec', 'embedding')} DESC, vec_id ASC)
           AS rank
  FROM shortlist
)
SELECT query_id, rank::BIGINT AS rank, vec_id, sim, adc
FROM ranked WHERE rank <= {TOPK}
"""


# ---------------------------------------------------------------------------
# r05 curation additions: tokenizer-training statistics, DSIR data
# selection, and the corpus null audit (operators/curation.py,
# operators/quality.null_audit)
# ---------------------------------------------------------------------------


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Step 1 of BPE tokenizer training (Sennrich et al. 2016, alg. 1):
    the corpus-wide adjacent character-pair counts whose argmax is the
    first merge. Scale shape is the classic BPE dictionary trick —
    aggregate the corpus to its vocabulary FIRST (one map-side-combined
    shuffle), then explode pairs over the vocab table (orders of
    magnitude smaller than the corpus). Total order (cnt DESC, pair
    ASC) makes the top-50 deterministic."""
    from cs6300_vectordbs_spark.operators.curation import bpe_pair_counts

    docs = _t(spark, sf_dir, "documents")
    return bpe_pair_counts(docs, top_n=50)


_ORACLE_BPE = f"""
WITH toks AS (
  SELECT unnest({_SQL_TOKS}) AS w FROM documents
), words AS (
  SELECT w, count(*)::BIGINT AS wc FROM toks GROUP BY w
), pairs AS (
  SELECT unnest(list_transform(range(1, length(w)),
                i -> substr(w, CAST(i AS INT), 2))) AS pair, wc
  FROM words WHERE length(w) >= 2
)
SELECT pair, sum(wc)::BIGINT AS cnt FROM pairs GROUP BY pair
ORDER BY cnt DESC, pair ASC LIMIT 50
"""


# DSIR target domain: a fixed literal source subset, mirrored in the
# oracle. n_buckets mirrors curation.dsir_log_weights' default.
_DSIR_SOURCES = ("src1", "src2", "src3")
_DSIR_BUCKETS = 64


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): log p_target - log
    q_raw per document under add-1-smoothed unigram models over a
    64-bucket md5-hashed token space; target = a literal source subset.
    Weights are exact integer micro-nat sums (the per-bucket log-ratio
    is quantized to BIGINT before the per-doc aggregation), so the
    value hash is order-independent — the same discipline as the
    kmeans quantized mean. Plan: one corpus-pass bucket count (2x64
    rows), broadcast ratio table, one corpus-keyed groupBy — no
    collect, no UDF."""
    from cs6300_vectordbs_spark.operators.curation import dsir_log_weights

    docs = _t(spark, sf_dir, "documents")
    return dsir_log_weights(
        docs,
        F.col("source").isin(*_DSIR_SOURCES),
        n_buckets=_DSIR_BUCKETS,
    )


def q_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL divergence vs the corpus mix
    (curation.source_kl_divergence): domain-shift measurement in
    integer nano-nats — exact BIGINT sums after per-term quantization,
    the dsir_log_weights determinism contract."""
    from cs6300_vectordbs_spark.operators.curation import (
        source_kl_divergence,
    )

    return source_kl_divergence(_t(spark, sf_dir, "documents"))


_ORACLE_SOURCE_KL = f"""
WITH toks AS (
  SELECT source, unnest({_SQL_TOKS}) AS w FROM documents
), sw AS (
  SELECT source, w, count(*)::BIGINT AS c FROM toks GROUP BY source, w
), wt AS (
  SELECT w, sum(c)::BIGINT AS cw FROM sw GROUP BY w
), st AS (
  SELECT source, sum(c)::BIGINT AS ns, count(*)::BIGINT AS vocab
  FROM sw GROUP BY source
), tot AS (SELECT sum(ns)::BIGINT AS n FROM st)
SELECT sw.source,
       min(st.ns)::BIGINT AS n_tokens,
       min(st.vocab)::BIGINT AS vocab,
       sum(CAST(round(1e9 * (sw.c::DOUBLE / st.ns)
                * ln((sw.c::DOUBLE / wt.cw) * (t.n::DOUBLE / st.ns)),
                0) AS BIGINT))::BIGINT AS kl_nano
FROM sw
JOIN wt ON sw.w = wt.w
JOIN st ON sw.source = st.source
CROSS JOIN tot t
GROUP BY sw.source
"""


_ORACLE_DSIR = f"""
WITH bt AS (
  SELECT doc_id,
         (source IN {str(tuple(_DSIR_SOURCES))}) AS is_target,
         (('0x' || substr(md5('s97|' || tok), 1, 15))::BIGINT)
           % {_DSIR_BUCKETS} AS b
  FROM (SELECT doc_id, source, unnest({_SQL_TOKS}) AS tok FROM documents)
), per_bucket AS (
  SELECT b, count(*)::DOUBLE AS q_cnt,
         sum(CASE WHEN is_target THEN 1 ELSE 0 END)::DOUBLE AS t_cnt
  FROM bt GROUP BY b
), tot AS (
  SELECT sum(q_cnt) AS q_tot, sum(t_cnt) AS t_tot FROM per_bucket
), ratio AS (
  SELECT b,
         CAST(round((ln((t_cnt + 1.0) / (t_tot + {_DSIR_BUCKETS}.0))
                   - ln((q_cnt + 1.0) / (q_tot + {_DSIR_BUCKETS}.0)))
                    * 1e6, 0) AS BIGINT) AS r_micro
  FROM per_bucket, tot
)
SELECT doc_id, count(*)::BIGINT AS n_toks,
       sum(r_micro)::BIGINT AS log_w_micro
FROM bt JOIN ratio USING (b)
GROUP BY doc_id
"""


_AUDIT_TABLES: dict[str, list[str]] = {
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
    "embeddings": ["vec_id", "embedding", "label"],
}
_AUDIT_STR_COLS = {"text", "lang", "source", "event_type", "props"}


def q_corpus_null_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-validation report over every corpus table: per-column NULL
    and blank (empty/whitespace string) counts. Every testdata column
    is nullable in its parquet footer, so a 100-TB corpus WILL carry
    NULL cells; this is the measurement behind the engine's quarantine
    contract (NULL vectors are dropped at index/serving boundaries —
    operators/search.py, sources/vector_index.py). One full scan per
    table (all counters are conditional sums in a single aggregate),
    three 1-row exchanges, rows exploded engine-side via inline()."""
    from cs6300_vectordbs_spark.io import read_events
    from cs6300_vectordbs_spark.operators.quality import null_audit

    parts = []
    for tbl, cols in _AUDIT_TABLES.items():
        df = (
            read_events(spark, sf_dir)
            if tbl == "events"
            else _t(spark, sf_dir, tbl)
        )
        parts.append(null_audit(df.select(*cols), tbl))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _oracle_null_audit() -> str:
    selects = []
    for tbl, cols in _AUDIT_TABLES.items():
        for c in cols:
            blank = (
                f"sum(CASE WHEN {c} IS NOT NULL AND trim({c}) = '' "
                f"THEN 1 ELSE 0 END)::BIGINT"
                if c in _AUDIT_STR_COLS
                else "0::BIGINT"
            )
            selects.append(
                f"SELECT '{tbl}' AS table_name, '{c}' AS column, "
                f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT"
                f" AS n_null, {blank} AS n_blank, "
                f"count(*)::BIGINT AS n_rows FROM {tbl}"
            )
    return "\nUNION ALL\n".join(selects)


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-filter battery (Rae et al. 2021 §A1.1) per
    document: word count, mean word length, symbol-to-word ratio,
    alphabetic-word fraction, required-stopword hits, one pass/fail
    flag per rule and the composite keep flag. Map-only column
    expressions — runs at parquet-scan throughput at any scale. The
    reference has no quality filtering (its corpus is pre-curated,
    /root/reference/src/db.py:16-51); this is the curation extension
    surface every pre-training pipeline needs."""
    from cs6300_vectordbs_spark.operators.quality import gopher_rules

    docs = _t(spark, sf_dir, "documents")
    return gopher_rules(docs)


# Thresholds mirror operators/quality.gopher_rules defaults.
_ORACLE_GOPHER = f"""
WITH base AS (
  SELECT doc_id, trim(text) AS t, {_SQL_TOKS} AS tk FROM documents
), sig AS (
  SELECT doc_id,
    len(tk)::BIGINT AS n_words,
    len(regexp_replace(lower(t), '\\s+', '', 'g'))::BIGINT AS sum_len,
    (len(t) - len(replace(t, '#', '')))::BIGINT AS n_hash,
    floor((len(t) - len(replace(t, '...', ''))) / 3)::BIGINT AS n_ell,
    len(list_filter(tk, x -> regexp_matches(x, '\\p{{L}}')))::BIGINT AS n_alpha,
    len(list_filter(['the','be','to','of','and','that','have','with'],
        w -> list_contains(tk, w)))::BIGINT AS stop_hits
  FROM base
), m AS (
  SELECT doc_id, n_words,
    CASE WHEN n_words > 0 THEN sum_len::DOUBLE / n_words::DOUBLE
         ELSE 0.0 END AS mean_word_len,
    CASE WHEN n_words > 0 THEN (n_hash + n_ell)::DOUBLE / n_words::DOUBLE
         ELSE 0.0 END AS symbol_ratio,
    CASE WHEN n_words > 0 THEN n_alpha::DOUBLE / n_words::DOUBLE
         ELSE 0.0 END AS alpha_word_frac,
    stop_hits
  FROM sig
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_frac,
  stop_hits,
  (n_words >= 50 AND n_words <= 100000) AS pass_word_count,
  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS pass_mean_len,
  (symbol_ratio <= 0.1) AS pass_symbol,
  (alpha_word_frac >= 0.8) AS pass_alpha,
  (stop_hits >= 2) AS pass_stop,
  ((n_words >= 50 AND n_words <= 100000)
   AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
   AND (symbol_ratio <= 0.1) AND (alpha_word_frac >= 0.8)
   AND (stop_hits >= 2)) AS keep
FROM m
"""


# Span length for exact-substring dedup measurement: Lee et al. used
# 50-token spans on web documents; testdata docs average ~60 tokens,
# so 4 tokens is the proportional analog (and the smallest n where
# random spans stop colliding: at n=3 ~40% of span types are dups —
# pure vocab collision noise — vs ~6% at n=4, which is the injected
# near-duplicate signal).
_DUP_SPAN_N = 4


def q_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring (duplicate n-token span) coverage per document
    — the measurement phase of Lee et al. 2021 span deduplication:
    which fraction of each document sits inside a span repeated
    verbatim anywhere in the corpus. Candidate generation is one
    map-side-combined aggregate on the span string + an equi-join of
    only the duplicated spans back — never doc x doc."""
    from cs6300_vectordbs_spark.operators.dedup import dup_span_stats

    docs = _t(spark, sf_dir, "documents")
    return dup_span_stats(docs, n=_DUP_SPAN_N)


_ORACLE_DUP_SPAN = f"""
WITH tk AS (
  SELECT doc_id, {_SQL_TOKS} AS t FROM documents
), starts AS (
  SELECT doc_id, unnest(range(1, len(t) - {_DUP_SPAN_N} + 2)) AS i, t
  FROM tk WHERE len(t) >= {_DUP_SPAN_N}
), spans AS (
  SELECT doc_id, i,
         list_aggregate(t[i:i + {_DUP_SPAN_N} - 1], 'string_agg', ' ') AS s
  FROM starts
), dup AS (
  SELECT s FROM spans GROUP BY s HAVING count(*) >= 2
), dup_starts AS (
  SELECT doc_id, i FROM spans JOIN dup USING (s)
), per_doc_dup AS (
  SELECT doc_id, count(*)::BIGINT AS n_dup_spans FROM dup_starts GROUP BY doc_id
), covered AS (
  SELECT doc_id, count(DISTINCT cp)::BIGINT AS covered_tokens
  FROM (SELECT doc_id, unnest(range(i, i + {_DUP_SPAN_N})) AS cp FROM dup_starts)
  GROUP BY doc_id
)
SELECT doc_id,
  coalesce(len(t), 0)::BIGINT AS n_tokens,
  greatest(coalesce(len(t), 0) - {_DUP_SPAN_N - 1}, 0)::BIGINT AS n_spans,
  coalesce(n_dup_spans, 0)::BIGINT AS n_dup_spans,
  coalesce(covered_tokens, 0)::BIGINT AS covered_tokens,
  CASE WHEN coalesce(len(t), 0) > 0
       THEN coalesce(covered_tokens, 0)::DOUBLE / len(t)::DOUBLE
       ELSE 0.0 END AS dup_frac
FROM tk LEFT JOIN per_doc_dup USING (doc_id) LEFT JOIN covered USING (doc_id)
"""


def q_edit_distance_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup pairs, candidate-verify: MinHash-LSH proposes
    (same banded generation as minhash_lsh_pairs), exact BYTE-level
    Levenshtein decides. The quadratic distance runs only on the LSH
    candidate set; byte semantics (latin-1 reinterpretation of UTF-8)
    make Spark's char-based levenshtein equal DuckDB's byte-based one
    on any input — the frame-fingerprint byte-faithful discipline."""
    from cs6300_vectordbs_spark.operators.dedup import edit_distance_neardup

    docs = _t(spark, sf_dir, "documents")
    return edit_distance_neardup(
        docs, num_hashes=_MH_HASHES, bands=_MH_BANDS, shingle_n=3,
        min_est_jaccard=0.3, max_rel_dist=0.3,
    ).select(
        F.col("id_a").cast("bigint"), F.col("id_b").cast("bigint"),
        "est_jaccard", "edit_dist", "rel_dist", "is_dup",
    )


def _oracle_edit_distance() -> str:
    rel = (
        "levenshtein(na.t, nb.t)::DOUBLE"
        " / greatest(strlen(na.t), strlen(nb.t))::DOUBLE"
    )
    return f"""WITH {_minhash_ctes()},
norm AS (SELECT doc_id, lower(trim(text)) AS t FROM documents)
SELECT p.id_a, p.id_b, p.est_jaccard,
  levenshtein(na.t, nb.t)::BIGINT AS edit_dist,
  CASE WHEN greatest(strlen(na.t), strlen(nb.t)) > 0 THEN {rel}
       ELSE 0.0 END AS rel_dist,
  (CASE WHEN greatest(strlen(na.t), strlen(nb.t)) > 0 THEN {rel}
        ELSE 0.0 END) <= 0.3 AS is_dup
FROM pairs p
JOIN norm na ON na.doc_id = p.id_a
JOIN norm nb ON nb.doc_id = p.id_b"""


def q_orc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink parity: write the documents corpus to ORC once
    (create-if-absent, content-addressed fingerprint — the S8/S9
    idempotent-load discipline), read it back through Spark's native
    ORC vectorized reader, and aggregate per (source, lang). Values
    hash against the PARQUET table's oracle, so any roundtrip
    lossiness (encoding, nulls, type width) fails the gate. ORC is the
    third columnar interchange format next to parquet and the
    text-based CSV/JSONL paths — splittable, predicate-pushdown-
    capable, the same scan plan shape at 100 TB."""
    from cs6300_vectordbs_spark.sources.index_common import (
        corpus_fingerprint,
        invalidate_fingerprint,
        read_fingerprint,
        write_fingerprint,
    )

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"{WAREHOUSE}/documents_orc_{tag}"
    docs = _t(spark, sf_dir, "documents")
    # fingerprint every roundtrip-relevant column: regenerated testdata
    # that changes text/source/lang while preserving ids and char
    # counts must invalidate the cached ORC snapshot
    fp = corpus_fingerprint(
        docs,
        ["doc_id", "n_chars", "source", "lang", "text"],
        {"fmt": "orc"},
    )
    meta = f"{path}__meta"
    if read_fingerprint(meta) != fp:
        invalidate_fingerprint(meta)  # crash mid-rebuild => no marker
        docs.write.mode("overwrite").orc(path)
        import os

        os.makedirs(meta, exist_ok=True)
        write_fingerprint(meta, fp)
    back = spark.read.orc(path)
    return (
        back.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.sum(F.size(tokens("text"))).cast("bigint").alias("sum_tokens"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
            F.max("doc_id").cast("bigint").alias("max_doc_id"),
        )
        .orderBy("source", "lang")
    )


_ORACLE_ORC_INGEST = f"""
SELECT source, lang, count(*)::BIGINT AS n_docs,
  sum(n_chars)::BIGINT AS sum_chars,
  sum(len({_SQL_TOKS}))::BIGINT AS sum_tokens,
  min(doc_id)::BIGINT AS min_doc_id,
  max(doc_id)::BIGINT AS max_doc_id
FROM documents GROUP BY source, lang ORDER BY source, lang
"""


# NSW graph-search tuning (measured recall@5 vs the exact kernel):
# plain 3-NN graph, beam 8, 4 hops: 0.28 (sf0.01) / 0.12 (sf0.1) —
# greedy search stalls in local clusters. 12-NN + hash shortcut long
# links, beam 32, 6 hops: 0.94 (sf0.01) / 0.90 (sf0.1). The shortcut
# edges are the NSW ingredient a pure kNN graph lacks.
_NSW_K, _NSW_BEAM, _NSW_HOPS, _NSW_ENTRIES = 12, 32, 6, 16


def _nsw_edges(spark: SparkSession, sf_dir: str):
    """Symmetric exact 12-NN edges + deterministic hash shortcut
    links (a < b) — the NSW graph for beam search; a persisted
    artifact at scale (build = the grid top-k plan, one-off)."""
    from cs6300_vectordbs_spark.operators.ann import nsw_edges

    emb = _t(spark, sf_dir, "embeddings")
    return nsw_edges(emb, _NSW_K).localCheckpoint(eager=True)


def q_nsw_beam_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-ANN serving: beam search over a navigable-small-world
    graph (operators/ann.nsw_beam_search) — the single-layer core of
    the reference's actual index structure, HNSW
    (/root/reference/src/chroma.py:77; Malkov & Yashunin 2018). Graph
    = symmetric exact 12-NN edges + deterministic hash shortcut long
    links; entry = highest-degree hubs; 6 hops, beam 32, top-5
    emitted (recall@5 = 0.90 vs exact at sf0.1, docs/ANN_QUALITY.md).
    Fully deterministic (hub order, beam order, and the standard
    sequential-fold sim kernel all carry total orders), so unlike
    real HNSW it gets a FULL value-hash oracle: the same 6 hops
    unrolled as CTEs, the kmeans/pagerank iteration discipline.
    Per-query cost is O(hops x beam x degree) score evaluations —
    independent of corpus size, which is why graph ANN is the serving
    default everywhere."""
    from cs6300_vectordbs_spark.operators.ann import nsw_beam_search

    emb = _t(spark, sf_dir, "embeddings")
    out = nsw_beam_search(
        emb, _query_batch(emb), TOPK, edges=_nsw_edges(spark, sf_dir),
        beam_width=_NSW_BEAM, n_iters=_NSW_HOPS, n_entries=_NSW_ENTRIES,
        dim=EMB_DIM, exclude_self=True,
    )
    return _topk_rows(out)


def q_nsw_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored-graph serving path: ensure the on-disk NSW edge list
    exists (create-if-absent, content-addressed fingerprint over
    (vec_id, embedding) + the build degree k — sources/graph_index.py),
    then beam-search from it. The k-NN build is the expensive half of
    graph ANN (exact blocked N² one-off); persisting the ~k-rows-per-
    vector edge list means serving never pays it again — the same
    build/serve split the reference gets from Chroma's persisted HNSW
    (/root/reference/src/chroma.py:81-87). Serving runs the BROADCAST
    strategy (the default serve='auto' picks it at this size): the
    graph loads into executor memory once and all hops run in one
    mapInPandas pass over the query stream — zero shuffles, exactly
    how Chroma serves its in-RAM HNSW, and bit-identical to the join
    path (pinned in tests/test_nsw_broadcast.py). Identical parameters
    and tie rules as nsw_beam_topk -> shares its full value-hash
    oracle."""
    from cs6300_vectordbs_spark.operators.ann import nsw_beam_search
    from cs6300_vectordbs_spark.sources.graph_index import ensure_nsw_graph

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"{WAREHOUSE}/nsw_graph_{tag}"
    emb = _t(spark, sf_dir, "embeddings")
    edges = ensure_nsw_graph(spark, emb, path, k=_NSW_K).localCheckpoint(
        eager=True
    )
    out = nsw_beam_search(
        emb, _query_batch(emb), TOPK, edges=edges,
        beam_width=_NSW_BEAM, n_iters=_NSW_HOPS, n_entries=_NSW_ENTRIES,
        dim=EMB_DIM, exclude_self=True,
    )
    return _topk_rows(out)


# Graph-serve oracle generators. Each NSW / HNSW twin below is a short
# composition of these CTE functions. They emit SQL text only (nothing
# from the engine), so the oracles stay an independent reference, and
# every CTE is MATERIALIZED: DuckDB computes each O(N^2) kNN build once
# instead of once per reference. A "norms" CTE is (vec_id, embedding,
# nrm); a beam is (query_id, node, sim) ranked by cosine to the query,
# ties to the lower node id — the engine's total order.
_SQL_GRAPH_SIM = (
    "list_dot_product(q.embedding::DOUBLE[], n.embedding::DOUBLE[])"
    " / (q.nrm * n.nrm)"
)


def _sql_with(ctes: list[str], select: str) -> str:
    return "WITH " + ",\n".join(ctes) + "\n" + select


def _sql_norms(name: str, src: str) -> str:
    """Norms CTE over ``src``: a table or CTE, optionally with a WHERE."""
    return f"""{name} AS MATERIALIZED (
  SELECT vec_id, embedding,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS nrm
  FROM {src}
)"""


def _sql_knn_edges(
    p: str, nv: str, k: int, shortcuts: bool = True
) -> list[str]:
    """``{p}edges`` (a < b): the undirected exact k-NN graph of the norms
    CTE ``nv``, self excluded; with ``shortcuts``, plus one md5('s17|id')
    long link per node — the NSW layer-0 recipe of ann.nsw_edges."""
    ctes = [f"""{p}knn AS MATERIALIZED (
  SELECT query_id, node FROM (
    SELECT q.vec_id AS query_id, n.vec_id AS node, {_SQL_GRAPH_SIM} AS sim
    FROM {nv} q JOIN {nv} n ON n.vec_id != q.vec_id)
  QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY sim DESC, node ASC) <= {k}
)"""]
    links = f"SELECT query_id, node FROM {p}knn"
    if shortcuts:
        ctes.append(f"""{p}short AS MATERIALIZED (
  SELECT e.vec_id AS query_id, d.vec_id AS node
  FROM {nv} e JOIN {nv} d
    ON d.vec_id = (('0x' || substr(md5('s17|' || e.vec_id::VARCHAR), 1, 15))::BIGINT
                   % (SELECT count(*) FROM {nv}))
  WHERE e.vec_id != d.vec_id
)""")
        links += f" UNION ALL SELECT query_id, node FROM {p}short"
    ctes.append(f"""{p}edges AS MATERIALIZED (
  SELECT DISTINCT least(query_id, node) AS a, greatest(query_id, node) AS b
  FROM ({links})
)""")
    return ctes


def _sql_dir(name: str, edges: str) -> str:
    return f"""{name} AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM {edges} UNION ALL SELECT b, a FROM {edges}
)"""


def _sql_graph(p: str, edges: str) -> list[str]:
    """``{p}dir``, both directions of ``edges``, and ``{p}hubs``, its
    _NSW_ENTRIES highest-degree nodes (ties to the lower id)."""
    return [_sql_dir(f"{p}dir", edges), f"""{p}hubs AS MATERIALIZED (
  SELECT src AS node FROM {p}dir GROUP BY src
  ORDER BY count(*) DESC, src ASC LIMIT {_NSW_ENTRIES}
)"""]


def _sql_tomb() -> str:
    return f"""tomb AS MATERIALIZED (
  SELECT vec_id FROM embeddings WHERE vec_id % {_TOMB_MOD} = {_TOMB_REM}
)"""


def _sql_live(name: str, src: str, *cols: str) -> str:
    """The rows of ``src`` with no id column in ``tomb``: the soft-delete
    view of a corpus, a level table or an edge list (either endpoint)."""
    live = " AND ".join(f"{c} NOT IN (SELECT vec_id FROM tomb)" for c in cols)
    return f"{name} AS MATERIALIZED (SELECT * FROM {src} WHERE {live})"


def _sql_link(
    name: str, edges: str, beam: str, k: int, where: str = "TRUE"
) -> str:
    """``edges`` plus a link from each query of ``beam`` that passes
    ``where`` to its ``k`` best nodes: an insert's edge merge."""
    return f"""{name} AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT a, b FROM {edges}
    UNION ALL
    (SELECT least(query_id, node), greatest(query_id, node) FROM {beam}
     WHERE {where}
     QUALIFY row_number() OVER (
       PARTITION BY query_id ORDER BY sim DESC, node ASC) <= {k}))
)"""


def _sql_beam(
    p: str, seed: str, dirs: list[str], corpus: str, queries: str,
    width: int = _NSW_BEAM, exclude_self: bool = True,
) -> list[str]:
    """Beam search unrolled as CTEs. ``{p}0`` keeps the ``width`` best
    (query_id, node) pairs of ``seed``, scoring nodes from the norms CTE
    ``corpus`` against queries from ``queries``; hop i adds the
    neighbours of ``{p}{i-1}`` along ``dirs[i-1]`` (candidates
    ``{p}c{i}``) and keeps the ``width`` best again. The final beam is
    ``{p}{len(dirs)}``."""
    where = "\n    WHERE c.node != c.query_id" if exclude_self else ""

    def keep(name: str, cand: str) -> str:
        return f"""{name} AS MATERIALIZED (
  SELECT * FROM (
    SELECT c.query_id, c.node, {_SQL_GRAPH_SIM} AS sim
    FROM {cand} c JOIN {corpus} n ON n.vec_id = c.node
    JOIN {queries} q ON q.vec_id = c.query_id{where})
  QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY sim DESC, node ASC) <= {width}
)"""

    ctes = [keep(f"{p}0", seed)]
    for i, d in enumerate(dirs, 1):
        ctes += [f"""{p}c{i} AS MATERIALIZED (
  SELECT DISTINCT query_id, node FROM (
    SELECT query_id, node FROM {p}{i - 1}
    UNION ALL
    SELECT b.query_id, d.dst FROM {p}{i - 1} b JOIN {d} d ON d.src = b.node)
)""", keep(f"{p}{i}", f"{p}c{i}")]
    return ctes


def _sql_nsw_search(
    p: str, graph: str, corpus: str, queries: str
) -> list[str]:
    """The NSW serve: every query seeds ``{p}seed`` from ``{graph}hubs``,
    then walks ``{graph}dir`` for _NSW_HOPS hops."""
    seed = f"""{p}seed AS MATERIALIZED (
  SELECT q.vec_id AS query_id, h.node FROM {queries} q CROSS JOIN {graph}hubs h
)"""
    dirs = [f"{graph}dir"] * _NSW_HOPS
    return [seed, *_sql_beam(p, f"{p}seed", dirs, corpus, queries)]


def _sql_topk(beam: str) -> str:
    return f"""SELECT query_id, rank::BIGINT AS rank, node AS vec_id, sim FROM (
  SELECT query_id, node, sim, row_number() OVER (
    PARTITION BY query_id ORDER BY sim DESC, node ASC) AS rank
  FROM {beam}
) WHERE rank <= {TOPK}"""


def _sql_nsw_serve(src: str) -> list[str]:
    """nsw_beam_topk's CTEs over ``src``: graph, hubs, beams ``b0``.."""
    return [
        _sql_norms("nv", src),
        *_sql_knn_edges("", "nv", _NSW_K),
        *_sql_graph("", "edges"),
        _sql_norms("qb", f"{src} WHERE vec_id < {N_QUERIES}"),
        *_sql_nsw_search("b", "", "nv", "qb"),
    ]


def _oracle_nsw_beam(src: str = "embeddings") -> str:
    # ``src`` lets the auto-dispatch twins re-run the identical beam
    # over a derived corpus CTE (the clustered fixture).
    return _sql_with(_sql_nsw_serve(src), _sql_topk(f"b{_NSW_HOPS}"))


# Incremental-insert split: ids with vec_id % _INS_MOD == _INS_REM are
# the "new batch" (about 1/7 of the corpus), the rest are the existing
# indexed corpus — proportional at every scale factor and stable under
# the hostile tiers' appended rows.
_INS_MOD, _INS_REM = 7, 3


def q_nsw_insert_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental graph-index maintenance (operators/ann.
    nsw_insert_edges): the corpus is split into an existing indexed
    part (6/7 of ids, persisted NSW graph via create-if-absent) and a
    new batch (1/7); the new vectors are INSERTED HNSW-style — each
    beam-searches its 12 nearest in the existing graph and links
    symmetrically — and the standard query batch is then served over
    the merged graph. This is the operation a daily-ingest pipeline
    actually runs: Chroma inserts into its persisted HNSW on every
    upsert (/root/reference/src/chroma.py:74-87) instead of rebuilding,
    because the insert costs O(|new| x hops x beam x degree) vs the
    O(|old|^2/B) exact-kNN rebuild. Fully deterministic (insert beam +
    serve beam both carry total orders), so the whole pipeline gets a
    FULL value-hash oracle: the insert beam unrolled over the old
    graph, then the serve beam unrolled over the merged edge list.
    Both beams run the broadcast strategy (one mapInPandas pass each)."""
    from cs6300_vectordbs_spark.operators.ann import (
        nsw_beam_search,
        nsw_insert_edges,
    )
    from cs6300_vectordbs_spark.sources.graph_index import ensure_nsw_graph

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"{WAREHOUSE}/nsw_graph_old_{tag}"
    emb = _t(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % _INS_MOD != _INS_REM)
    new = emb.filter(
        (F.col("vec_id") % _INS_MOD == _INS_REM)
        & F.col("embedding").isNotNull()
    )
    old_edges = ensure_nsw_graph(spark, old, path, k=_NSW_K).localCheckpoint(
        eager=True
    )
    merged = nsw_insert_edges(
        old, new, edges=old_edges, k=_NSW_K, beam_width=_NSW_BEAM,
        n_iters=_NSW_HOPS, n_entries=_NSW_ENTRIES, dim=EMB_DIM,
    ).localCheckpoint(eager=True)
    out = nsw_beam_search(
        emb, _query_batch(emb), TOPK, edges=merged,
        beam_width=_NSW_BEAM, n_iters=_NSW_HOPS, n_entries=_NSW_ENTRIES,
        dim=EMB_DIM, exclude_self=True,
    )
    return _topk_rows(out)


def q_nsw_appended_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED form of the incremental insert (S9 on the
    incremental layer, sources/graph_index.append_nsw_graph): base
    graph and merged edge list are both content-addressed stored
    layers — re-serving never re-runs the insert beam, the same
    build/serve amortization nsw_persisted_topk gives the full build.
    Same split, parameters, and tie rules as nsw_insert_topk -> shares
    its full value-hash oracle (the stored merged list is
    row-identical to the in-session insert)."""
    from cs6300_vectordbs_spark.operators.ann import nsw_beam_search
    from cs6300_vectordbs_spark.sources.graph_index import append_nsw_graph

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"{WAREHOUSE}/nsw_appended_{tag}"
    emb = _t(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % _INS_MOD != _INS_REM)
    new = emb.filter(
        (F.col("vec_id") % _INS_MOD == _INS_REM)
        & F.col("embedding").isNotNull()
    )
    merged = append_nsw_graph(
        spark, old, new, path, k=_NSW_K, beam_width=_NSW_BEAM,
        n_iters=_NSW_HOPS, n_entries=_NSW_ENTRIES, dim=EMB_DIM,
    ).localCheckpoint(eager=True)
    out = nsw_beam_search(
        emb, _query_batch(emb), TOPK, edges=merged,
        beam_width=_NSW_BEAM, n_iters=_NSW_HOPS, n_entries=_NSW_ENTRIES,
        dim=EMB_DIM, exclude_self=True,
    )
    return _topk_rows(out)


def _sql_nsw_inserts(rems: tuple[int, ...]) -> str:
    """Build the NSW graph over the ids whose vec_id % _INS_MOD is not in
    ``rems``, insert one batch per residue in order, then serve. Batch j
    is inserted like ann.nsw_insert_edges: its vectors beam-search the
    graph so far over the corpus so far (``cnv{j-1}``) and link to their
    _NSW_K best. The serve walks the final graph over the full corpus."""
    by_rem = f"embeddings WHERE vec_id % {_INS_MOD}"
    ctes = [
        _sql_norms("cnv0", f"{by_rem} NOT IN ({', '.join(map(str, rems))})"),
        *_sql_knn_edges("", "cnv0", _NSW_K),
    ]
    edges = "edges"
    for j, r in enumerate(rems, 1):
        ctes += [
            *_sql_graph(f"g{j}", edges),
            _sql_norms(f"q{j}", f"{by_rem} = {r} AND embedding IS NOT NULL"),
            *_sql_nsw_search(f"i{j}_", f"g{j}", f"cnv{j - 1}", f"q{j}"),
            _sql_link(f"edges{j}", edges, f"i{j}_{_NSW_HOPS}", _NSW_K),
            f"cnv{j} AS MATERIALIZED "
            f"(SELECT * FROM cnv{j - 1} UNION ALL SELECT * FROM q{j})",
        ]
        edges = f"edges{j}"
    return _sql_with([
        *ctes,
        *_sql_graph("s", edges),
        _sql_norms("nva", "embeddings"),
        _sql_norms("qb", f"embeddings WHERE vec_id < {N_QUERIES}"),
        *_sql_nsw_search("s", "s", "nva", "qb"),
    ], _sql_topk(f"s{_NSW_HOPS}"))


def _oracle_nsw_insert() -> str:
    """The insert pipeline's twin: the old graph over the 6/7 split, one
    insert batch (the 1/7 with vec_id % 7 == 3), then the serve over the
    merged graph."""
    return _sql_nsw_inserts((_INS_REM,))


# Multi-batch chain split: two ingest batches (residues 3 and 5 mod 7,
# ~1/7 of the corpus each), old = the remaining five residues.
_CHAIN_REMS = (3, 5)

# Tombstone split: ids with vec_id % 9 == 4 (~1/9 of the corpus) are
# deleted from the served graph.
_TOMB_MOD, _TOMB_REM = 9, 4


def q_nsw_tombstoned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE for the graph index (sources/graph_index.
    delete_from_nsw_graph / apply_nsw_tombstones): ~1/9 of the corpus
    is tombstoned — the shape a curation pipeline produces when dedup
    drops losers from an already-indexed corpus — and the standard
    query batch serves over the filtered graph: tombstoned nodes leave
    BOTH the scoring corpus and the edge list (either endpoint), so no
    hop routes through a deleted node and no deleted id can rank. The
    expensive edge list is untouched (soft delete); past a tombstone-
    fraction threshold compact_nsw_tombstones rebuilds over survivors
    (pinned in tests/test_graph_index.py::test_tombstone_compaction).
    Deterministic end-to-end -> FULL value-hash oracle: the full-build
    graph CTEs, the tombstone filters, then the serve beam over the
    survivor view."""
    from cs6300_vectordbs_spark.operators.ann import nsw_beam_search
    from cs6300_vectordbs_spark.sources.graph_index import (
        apply_nsw_tombstones,
        delete_from_nsw_graph,
        ensure_nsw_graph,
    )

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"{WAREHOUSE}/nsw_tomb_{tag}"
    emb = _t(spark, sf_dir, "embeddings")
    ensure_nsw_graph(spark, emb, path, k=_NSW_K)
    dels = emb.filter(
        F.col("vec_id") % _TOMB_MOD == _TOMB_REM
    ).select("vec_id")
    delete_from_nsw_graph(spark, dels, path)
    live, live_edges = apply_nsw_tombstones(spark, emb, path)
    out = nsw_beam_search(
        live, _query_batch(emb), TOPK, edges=live_edges,
        beam_width=_NSW_BEAM, n_iters=_NSW_HOPS, n_entries=_NSW_ENTRIES,
        dim=EMB_DIM, exclude_self=True,
    )
    return _topk_rows(out)


def _oracle_nsw_tomb() -> str:
    """The tombstoned serve's twin: the full-corpus graph build (the
    edge list was built BEFORE the deletes), the tombstone set, live
    views of the edge list and of the scoring corpus, then the standard
    serve over the live graph (hubs from the live degree, exactly like
    the engine)."""
    return _sql_with([
        _sql_norms("nv", "embeddings"),
        *_sql_knn_edges("", "nv", _NSW_K),
        _sql_tomb(),
        _sql_live("live", "edges", "a", "b"),
        _sql_live("nvl", "nv", "vec_id"),
        *_sql_graph("", "live"),
        _sql_norms("qb", f"embeddings WHERE vec_id < {N_QUERIES}"),
        *_sql_nsw_search("b", "", "nvl", "qb"),
    ], _sql_topk(f"b{_NSW_HOPS}"))


def q_nsw_chained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-batch persisted insert chaining (sources/graph_index.
    append_nsw_graph_chain): the daily-ingest lifecycle. The corpus
    splits into an existing indexed part (5/7 of ids) and TWO ingest
    batches (1/7 each); batch 1 inserts HNSW-style onto the stored
    base graph, batch 2 inserts onto the stored merged-1 layer —
    WITHOUT re-running batch 1's insert beams (each layer is its own
    content-addressed store whose fingerprint covers the previous
    layer's transitively; the reference's HNSW upserts incrementally
    forever, /root/reference/src/db.py:82-86). The standard query
    batch then serves over the deepest layer. compact_depth=4 keeps
    both layers on the insert path here; the every-Dth-batch fold into
    a full rebuild is pinned by tests/test_graph_index.py::
    test_chain_compaction. Fully deterministic: two stacked insert
    beams + the serve beam, each with the engine's total tie orders —
    a FULL value-hash oracle (three unrolled beam CTE blocks)."""
    from cs6300_vectordbs_spark.operators.ann import nsw_beam_search
    from cs6300_vectordbs_spark.sources.graph_index import (
        append_nsw_graph_chain,
    )

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"{WAREHOUSE}/nsw_chain_{tag}"
    emb = _t(spark, sf_dir, "embeddings")
    rem = F.col("vec_id") % _INS_MOD
    old = emb.filter(~rem.isin(*_CHAIN_REMS))
    batches = [
        emb.filter((rem == r) & F.col("embedding").isNotNull())
        for r in _CHAIN_REMS
    ]
    chained = append_nsw_graph_chain(
        spark, old, batches, path, k=_NSW_K, beam_width=_NSW_BEAM,
        n_iters=_NSW_HOPS, n_entries=_NSW_ENTRIES, dim=EMB_DIM,
        compact_depth=4,
    ).localCheckpoint(eager=True)
    out = nsw_beam_search(
        emb, _query_batch(emb), TOPK, edges=chained,
        beam_width=_NSW_BEAM, n_iters=_NSW_HOPS, n_entries=_NSW_ENTRIES,
        dim=EMB_DIM, exclude_self=True,
    )
    return _topk_rows(out)


def _oracle_nsw_chain() -> str:
    """The chain's twin: the old graph over the 5/7 split, one insert
    per batch of _CHAIN_REMS (batch j searches the accumulated corpus
    and edge list, exactly the engine's layer-j build), then the serve
    over the final merged graph."""
    return _sql_nsw_inserts(_CHAIN_REMS)


# HNSW hierarchy parameters: geometric promotion with p = 1/branch
# (md5-portable, operators/hnsw.hnsw_levels), 3 upper layers, paper
# M/2M degree split (upper k=6 vs layer-0 k=12), single greedy hop
# per layer with a 2-wide carry — the paper's ef=1 descent. Measured
# at sf0.1 (docs/ANN_QUALITY.md): recall@5 = 0.90 vs exact, matching
# the flat path's 16 global hubs with 2 descent-derived entries; the
# (iters=2, beam=4) variant measured 0.88 at 1.7x the serve cost, so
# the greedy knee wins on both axes.
_HNSW_BRANCH, _HNSW_MAXLVL, _HNSW_KUP = 4, 3, 6
_HNSW_DBEAM, _HNSW_DITERS = 2, 1
_HNSW_LSALT = "hl1"


def q_hnsw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIERARCHICAL NSW serving (operators/hnsw.hnsw_search) — the
    full layered structure of the reference's actual index
    (/root/reference/src/chroma.py:77, Chroma's hnswlib collection;
    Malkov & Yashunin 2018), not just its layer-0 core: nodes promote
    to upper layer L with probability branch^-L (deterministic
    md5-geometric assignment), each upper layer is an exact
    k_upper-NN graph over its promoted subset, and a query greedily
    DESCENDS from the top layer's entry point — so the layer-0 beam
    (the verified nsw_beam_search kernel, seeded per query via its
    entries= seam) starts in the query's own neighborhood instead of
    at global hubs. Routing hops become O(log N): the property that
    makes HNSW the billion-vector serving default. Fully
    deterministic (md5 levels, min-id entry, total tie orders at
    every keep) -> FULL value-hash oracle with the levels CASE, the
    per-layer kNN builds, and every descent hop unrolled as CTEs."""
    from cs6300_vectordbs_spark.operators.hnsw import (
        hnsw_layer_edges,
        hnsw_levels,
        hnsw_search,
    )

    emb = _t(spark, sf_dir, "embeddings")
    levels = hnsw_levels(
        emb, branch=_HNSW_BRANCH, max_level=_HNSW_MAXLVL, salt=_HNSW_LSALT
    ).localCheckpoint(eager=True)
    # The four graph builds are independent of each other (each layer's
    # kNN build needs only `levels`; the layer-0 edge build needs
    # nothing), so they are submitted from a small thread pool and
    # Spark overlaps the jobs — later builds back-fill executors freed
    # by earlier builds' straggler tails (guide §2.6). Results and
    # plan shapes are identical to the sequential submission.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        lay_futs = {
            lay: pool.submit(
                lambda lay=lay: hnsw_layer_edges(
                    emb, levels, lay, k_upper=_HNSW_KUP
                ).localCheckpoint(eager=True)
            )
            for lay in range(1, _HNSW_MAXLVL + 1)
        }
        e0_fut = pool.submit(_nsw_edges, spark, sf_dir)
        layer_edges = {lay: f.result() for lay, f in lay_futs.items()}
        edges0 = e0_fut.result()
    out = hnsw_search(
        emb, _query_batch(emb), TOPK, edges0=edges0,
        layer_edges=layer_edges, levels=levels, beam_width=_NSW_BEAM,
        n_iters=_NSW_HOPS, descent_beam=_HNSW_DBEAM,
        descent_iters=_HNSW_DITERS, dim=EMB_DIM, exclude_self=True,
    )
    return _topk_rows(out)


def q_hnsw_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted layered graph (S9 create-if-absent,
    sources/hnsw_index.ensure_hnsw_graph): layer-0 edges, upper-layer
    edges, and the level assignment are one content-addressed store
    (fingerprint covers corpus content + all seven build parameters,
    atomic fingerprint-last commit, per-path build lock — the
    lifecycle every other index store carries), so serving never
    re-pays the kNN builds — the same artifact Chroma persists in its
    collection dir (/root/reference/src/chroma.py:74-87). Serving
    runs the BROADCAST strategy: corpus, layer-0 edges, upper layers,
    and levels ship to executors once and the whole descent-and-beam
    runs per query in one mapInPandas pass — zero shuffles,
    bit-identical to the joins descent (tests/test_hnsw_broadcast.py).
    Identical parameters and tie
    rules as hnsw_topk -> shares its full value-hash oracle."""
    from cs6300_vectordbs_spark.operators.hnsw import hnsw_search
    from cs6300_vectordbs_spark.sources.hnsw_index import ensure_hnsw_graph

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"{WAREHOUSE}/hnsw_graph_{tag}"
    emb = _t(spark, sf_dir, "embeddings")
    edges0, layer_edges, levels = ensure_hnsw_graph(
        spark, emb, path, k=_NSW_K, branch=_HNSW_BRANCH,
        max_level=_HNSW_MAXLVL, level_salt=_HNSW_LSALT, k_upper=_HNSW_KUP,
    )
    edges0 = edges0.localCheckpoint(eager=True)
    layer_edges = {
        lay: df.localCheckpoint(eager=True)
        for lay, df in layer_edges.items()
    }
    levels = levels.localCheckpoint(eager=True)
    out = hnsw_search(
        emb, _query_batch(emb), TOPK, edges0=edges0,
        layer_edges=layer_edges, levels=levels, beam_width=_NSW_BEAM,
        n_iters=_NSW_HOPS, descent_beam=_HNSW_DBEAM,
        descent_iters=_HNSW_DITERS, dim=EMB_DIM, exclude_self=True,
    )
    return _topk_rows(out)


def _sql_levels(name: str, src: str) -> str:
    """(node, lvl): the md5-geometric promotion of hnsw.hnsw_levels."""
    cases = " ".join(
        f"WHEN h % {_HNSW_BRANCH**lay} = 0 THEN {lay}"
        for lay in range(_HNSW_MAXLVL, 0, -1)
    )
    return f"""{name} AS MATERIALIZED (
  SELECT vec_id AS node, CASE {cases} ELSE 0 END AS lvl
  FROM (SELECT vec_id,
          (('0x' || substr(md5('{_HNSW_LSALT}|' || vec_id::VARCHAR), 1, 15))::BIGINT)
            AS h
        FROM {src})
)"""


def _sql_hnsw_build(p: str, nv: str) -> list[str]:
    """The layered build over the norms CTE ``nv``: levels ``{p}lv``,
    layer-0 NSW edges ``{p}edges`` and, for each upper layer L, the
    exact _HNSW_KUP-NN edges ``{p}u{L}edges`` of the nodes promoted
    to L."""
    ctes = [_sql_levels(f"{p}lv", nv), *_sql_knn_edges(p, nv, _NSW_K)]
    for lay in range(1, _HNSW_MAXLVL + 1):
        sub = f"{p}sub{lay}"
        ctes.append(f"""{sub} AS MATERIALIZED (
  SELECT n.* FROM {nv} n JOIN {p}lv l ON l.node = n.vec_id AND l.lvl >= {lay}
)""")
        ctes += _sql_knn_edges(f"{p}u{lay}", sub, _HNSW_KUP, shortcuts=False)
    return ctes


def _sql_hnsw_search(
    p: str, corpus: str, levels: str, dirs: str, queries: str,
    width: int, iters: int,
) -> list[str]:
    """The layered serve: each query enters at the min id of the highest
    populated upper layer of ``levels`` (corpus-min fallback), descends
    with a ``width``-wide beam ``{p}d`` (``iters`` hops per layer along
    ``{dirs}{L}``, the query's own id kept), then runs the layer-0 beam
    ``{p}b`` along ``{dirs}0`` from the final descent carry."""
    top = f"(SELECT max(lvl) FROM {levels} WHERE lvl >= 1)"
    seed = f"""{p}seed AS MATERIALIZED (
  SELECT q.vec_id AS query_id, coalesce(
    (SELECT min(node) FROM {levels} WHERE lvl >= 1 AND lvl = {top}),
    (SELECT min(node) FROM {levels})) AS node
  FROM {queries} q
)"""
    down = [
        f"{dirs}{lay}"
        for lay in range(_HNSW_MAXLVL, 0, -1) for _ in range(iters)
    ]
    return [
        seed,
        *_sql_beam(
            f"{p}d", f"{p}seed", down, corpus, queries, width,
            exclude_self=False,
        ),
        *_sql_beam(
            f"{p}b", f"{p}d{len(down)}", [f"{dirs}0"] * _NSW_HOPS, corpus,
            queries,
        ),
    ]


def _oracle_hnsw(tomb: bool = False) -> str:
    """The layered twin: the layered build over the corpus, then the
    layered serve of the query batch.

    ``tomb`` emits the DELETE variant (hnsw_tombstoned_topk): the
    graph builds on the FULL corpus (the stored edge lists predate
    the deletes), then live views filter the level table, the
    scoring corpus, and every edge list by endpoint — exactly
    sources/hnsw_index.apply_hnsw_tombstones — before the descent
    and beam run over the survivor view."""
    lays = range(1, _HNSW_MAXLVL + 1)
    lists = ["hedges"] + [f"hu{lay}edges" for lay in lays]
    ctes = [_sql_norms("hnv", "embeddings"), *_sql_hnsw_build("h", "hnv")]
    corpus, levels = "hnv", "hlv"
    if tomb:
        ctes += [
            _sql_tomb(),
            _sql_live("hnvl", "hnv", "vec_id"),
            _sql_live("hlvl", "hlv", "node"),
            *(_sql_live(f"{e}l", e, "a", "b") for e in lists),
        ]
        corpus, levels, lists = "hnvl", "hlvl", [f"{e}l" for e in lists]
    return _sql_with([
        *ctes,
        *(_sql_dir(f"hdir{lay}", e) for lay, e in enumerate(lists)),
        _sql_norms("hqb", f"embeddings WHERE vec_id < {N_QUERIES}"),
        *_sql_hnsw_search(
            "h", corpus, levels, "hdir", "hqb", _HNSW_DBEAM, _HNSW_DITERS
        ),
    ], _sql_topk(f"hb{_NSW_HOPS}"))


def q_hnsw_tombstoned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE for the LAYERED graph index (sources/hnsw_index.
    apply_hnsw_tombstones): ~1/9 of the corpus is tombstoned — the
    dedup-loser shape — and the standard query batch serves over the
    filtered hierarchy: tombstoned nodes leave the level table (a
    deleted node can never be the descent entry), every upper layer's
    edge list, the layer-0 edge list, and the scoring corpus, so no
    descent step or beam hop routes through a deleted node. Soft
    delete: the stored per-layer edge lists are untouched; past the
    tombstone-fraction threshold compact_hnsw_tombstones rebuilds all
    layers over survivors (tests/test_hnsw.py). Serves broadcast over
    the survivor views (the layered kernel sees only the filtered
    DataFrames); shares the hnsw family's determinism -> FULL
    value-hash oracle (_oracle_hnsw(tomb=True): full-corpus build
    CTEs, tombstone filters, filtered descent + beam)."""
    from cs6300_vectordbs_spark.operators.hnsw import hnsw_search
    from cs6300_vectordbs_spark.sources.graph_index import (
        delete_from_nsw_graph,
    )
    from cs6300_vectordbs_spark.sources.hnsw_index import (
        apply_hnsw_tombstones,
        ensure_hnsw_graph,
    )

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"{WAREHOUSE}/hnsw_tomb_{tag}"
    emb = _t(spark, sf_dir, "embeddings")
    ensure_hnsw_graph(
        spark, emb, path, k=_NSW_K, branch=_HNSW_BRANCH,
        max_level=_HNSW_MAXLVL, level_salt=_HNSW_LSALT, k_upper=_HNSW_KUP,
    )
    dels = emb.filter(
        F.col("vec_id") % _TOMB_MOD == _TOMB_REM
    ).select("vec_id")
    delete_from_nsw_graph(spark, dels, path)
    live, edges0, layer_edges, levels = apply_hnsw_tombstones(
        spark, emb, path, max_level=_HNSW_MAXLVL
    )
    out = hnsw_search(
        live, _query_batch(emb), TOPK, edges0=edges0,
        layer_edges=layer_edges, levels=levels, beam_width=_NSW_BEAM,
        n_iters=_NSW_HOPS, descent_beam=_HNSW_DBEAM,
        descent_iters=_HNSW_DITERS, dim=EMB_DIM, exclude_self=True,
    )
    return _topk_rows(out)


def q_hnsw_insert_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LAYERED-graph maintenance (operators/hnsw.
    hnsw_insert via the persisted two-layer store sources/hnsw_index.
    append_hnsw_graph): the corpus splits into an indexed part (6/7
    of ids, persisted layered build) and a new batch (1/7); each new
    vector gets its md5-geometric level, descends the existing
    hierarchy with a k_upper-wide carry, CONNECTS at every layer it
    was promoted to (the paper's insert, Malkov & Yashunin 2018 §4,
    batch-parallel: one descent pipeline for the whole batch), and
    links its k best layer-0 beam results. The standard query batch
    then serves over the merged hierarchy (broadcast descent). This
    completes the layered store's lifecycle: build / serve x2 /
    filter / delete / compact / INSERT — hnswlib runs this insert on
    every collection upsert (/root/reference/src/chroma.py:74-87).
    Fully deterministic -> FULL value-hash oracle: the old layered
    build, the insert descent + per-layer link CTEs, the layer-0
    insert beam, then the merged-hierarchy serve, all unrolled."""
    from cs6300_vectordbs_spark.operators.hnsw import hnsw_search
    from cs6300_vectordbs_spark.sources.hnsw_index import append_hnsw_graph

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"{WAREHOUSE}/hnsw_ins_{tag}"
    emb = _t(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % _INS_MOD != _INS_REM)
    new = emb.filter(
        (F.col("vec_id") % _INS_MOD == _INS_REM)
        & F.col("embedding").isNotNull()
    )
    edges0, layer_edges, levels = append_hnsw_graph(
        spark, old, new, path, k=_NSW_K, branch=_HNSW_BRANCH,
        max_level=_HNSW_MAXLVL, level_salt=_HNSW_LSALT,
        k_upper=_HNSW_KUP, beam_width=_NSW_BEAM, n_iters=_NSW_HOPS,
        descent_iters=1, dim=EMB_DIM,
    )
    merged_corpus = old.unionByName(new)
    out = hnsw_search(
        merged_corpus, _query_batch(emb), TOPK, edges0=edges0,
        layer_edges=layer_edges, levels=levels, beam_width=_NSW_BEAM,
        n_iters=_NSW_HOPS, descent_beam=_HNSW_DBEAM,
        descent_iters=_HNSW_DITERS, dim=EMB_DIM, exclude_self=True,
    )
    return _topk_rows(out)


def _oracle_hnsw_insert() -> str:
    """The layered insert's twin: the old split's layered build, the
    batch's levels, the batch's insert search over the old hierarchy
    (a _HNSW_KUP-wide descent, one hop per layer, then the layer-0
    beam), links from each new node to its descent carry at every layer
    it was promoted to and to its _NSW_K best layer-0 nodes, then the
    standard layered serve over the merged corpus, levels and edges."""
    lays = range(1, _HNSW_MAXLVL + 1)
    ctes = [
        _sql_norms("xov", f"embeddings WHERE vec_id % {_INS_MOD} != {_INS_REM}"),
        *_sql_hnsw_build("x", "xov"),
        _sql_dir("xdir0", "xedges"),
        *(_sql_dir(f"xdir{lay}", f"xu{lay}edges") for lay in lays),
        _sql_norms(
            "xnv",
            f"embeddings WHERE vec_id % {_INS_MOD} = {_INS_REM}"
            " AND embedding IS NOT NULL",
        ),
        _sql_levels("xlvn", "xnv"),
        *_sql_hnsw_search("xi", "xov", "xlv", "xdir", "xnv", _HNSW_KUP, 1),
        _sql_link("xm0edges", "xedges", f"xib{_NSW_HOPS}", _NSW_K),
    ]
    # With one hop per layer, the descent carry on layer L is beam
    # xid{_HNSW_MAXLVL - L + 1}; k = _HNSW_KUP, its width, links each
    # promoted new node to the whole carry.
    ctes += [
        _sql_link(
            f"xm{lay}edges", f"xu{lay}edges", f"xid{_HNSW_MAXLVL - lay + 1}",
            _HNSW_KUP, f"query_id IN (SELECT node FROM xlvn WHERE lvl >= {lay})",
        )
        for lay in lays
    ]
    return _sql_with([
        *ctes,
        *(
            _sql_dir(f"xmdir{lay}", f"xm{lay}edges")
            for lay in range(_HNSW_MAXLVL + 1)
        ),
        "xmv AS MATERIALIZED (SELECT * FROM xov UNION ALL SELECT * FROM xnv)",
        "xmlv AS MATERIALIZED (SELECT * FROM xlv UNION ALL SELECT * FROM xlvn)",
        _sql_norms("xqb", f"embeddings WHERE vec_id < {N_QUERIES}"),
        *_sql_hnsw_search(
            "xs", "xmv", "xmlv", "xmdir", "xqb", _HNSW_DBEAM, _HNSW_DITERS
        ),
    ], _sql_topk(f"xsb{_NSW_HOPS}"))


# Filtered graph search: ~30% selectivity on the embeddings table's
# own metadata column (labels 1, 4, 7 of the 10 uniform labels).
_FILT_LABELS = (1, 4, 7)


def q_nsw_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered GRAPH serving (operators/ann.
    nsw_filtered_search) — the ``where=`` surface the reference
    stores advertise (/root/reference/src/chroma.py:3, Chroma
    ``where`` / Pinecone ``filter``) on the graph-ANN path, with
    production (hnswlib allow-list) semantics: the walk routes over
    the FULL graph — hop beams bit-identical to nsw_beam_topk's, so a
    selective filter can't strand it — and the result is the exact
    top-k over every VISITED node whose label passes. The filter is
    built as an ordinary .filter() on the embeddings scan (Catalyst
    pushes label IN (...) into the parquet read) and reaches the
    search as an id table; the search pays one semi-join on the
    visited set (O(hops x beam x degree) rows per query, corpus-
    independent). Serves via the BROADCAST kernel (walk + allow-list
    filter per query in one mapInPandas pass, bit-identical to the
    distributed joins shape — tests/test_nsw_filtered.py pins both
    strategies and the NULL-vector contracts). Fully deterministic ->
    FULL value-hash oracle (the nsw_beam hop CTEs + one
    visited-union/filter/re-rank block)."""
    from cs6300_vectordbs_spark.operators.ann import nsw_filtered_search

    emb = _t(spark, sf_dir, "embeddings")
    allowed = emb.filter(F.col("label").isin(*_FILT_LABELS)).select(
        "vec_id"
    )
    out = nsw_filtered_search(
        emb, _query_batch(emb), TOPK, edges=_nsw_edges(spark, sf_dir),
        allowed=allowed, beam_width=_NSW_BEAM, n_iters=_NSW_HOPS,
        n_entries=_NSW_ENTRIES, dim=EMB_DIM, exclude_self=True,
    )
    return _topk_rows(out)


def _oracle_nsw_filtered() -> str:
    """nsw_beam's serve (identical graph, hubs, beams) plus the
    filtered-result block: every node the walk visited (the seed and
    each hop's candidates) whose label passes, re-scored with the
    self-exclusion, top-k."""
    labels = ", ".join(str(x) for x in _FILT_LABELS)
    visited = " UNION ALL ".join(
        ["SELECT query_id, node FROM bseed"]
        + [f"SELECT query_id, node FROM bc{i}" for i in range(1, _NSW_HOPS + 1)]
    )
    return _sql_with([
        *_sql_nsw_serve("embeddings"),
        f"""hits AS MATERIALIZED (
  SELECT DISTINCT query_id, node FROM ({visited})
  WHERE node IN (SELECT vec_id FROM embeddings WHERE label IN ({labels}))
)""",
        *_sql_beam("f", "hits", [], "nv", "qb", width=TOPK),
    ], _sql_topk("f0"))


def q_dedup_groups_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED exact-dup group table (S9 create-if-absent,
    sources/dedup_index.ensure_dedup_groups): (id, rep_id) for every
    document in a duplicate group, rep = min id, NULL-text docs one
    sentinel group — the cross-session form of the in-session
    collapse-guard memo. Fully deterministic, so it carries a full
    value-hash oracle (the same normalized-md5 groupBy the exact_dedup
    twin uses, restricted to groups of size >= 2 and expanded back to
    member rows)."""
    from cs6300_vectordbs_spark.sources.dedup_index import (
        ensure_dedup_groups,
    )

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"{WAREHOUSE}/dedup_groups_{tag}"
    docs = _t(spark, sf_dir, "documents")
    g = ensure_dedup_groups(spark, docs, path)
    return g.select(
        F.col("id").cast("bigint"), F.col("rep_id").cast("bigint")
    )


_ORACLE_DEDUP_GROUPS = f"""
WITH fp AS (
  SELECT doc_id AS id,
         coalesce(substr(md5({_SQL_NORM_TEXT}), 1, 16), '__null__') AS f
  FROM documents
),
g AS (SELECT f, min(id) AS rep_id, count(*) AS c FROM fp GROUP BY f)
SELECT p.id::BIGINT AS id, g.rep_id::BIGINT AS rep_id
FROM fp p JOIN g ON p.f = g.f WHERE g.c > 1
"""


_STRUCT_N, _STRUCT_COS, _STRUCT_FRAC = 128, 0.6, 0.001


def _oracle_struct_agg(src: str = "embeddings") -> str:
    return f"""
  SELECT count(*)::BIGINT AS n_pairs,
         coalesce(sum(CASE WHEN cos >= {_STRUCT_COS} THEN 1 ELSE 0 END),
                  0)::BIGINT AS n_high
  FROM (
    SELECT {_sql_cos("a.v", "b.v")} AS cos
    FROM (SELECT vec_id AS id, embedding AS v FROM {src}
          WHERE embedding IS NOT NULL
          ORDER BY vec_id LIMIT {_STRUCT_N}) a
    JOIN (SELECT vec_id AS id, embedding AS v FROM {src}
          WHERE embedding IS NOT NULL
          ORDER BY vec_id LIMIT {_STRUCT_N}) b
      ON a.id < b.id
  )
"""


_ORACLE_STRUCT_AGG = _oracle_struct_agg()


def q_auto_ann_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-family dispatch rule, made executable and oracle-
    checked: docs/ANN_QUALITY.md measures graph ANN collapsing on
    structureless (iid-shaped) vectors — recall@5 0.368 on iid 384-d
    vs 0.984 on a 16-d-intrinsic manifold — with hash/IVF as the
    documented fallback; operators/search.pair_structure_stat turns
    that prose into a cheap geometry probe (fraction of sample pairs
    above cosine 0.6 — iid Gaussians NEVER reach it: measured max
    0.45 at 64-d / 0.19 at 384-d over 8,128 pairs), and
    choose_index_strategy maps it to 'nsw' | 'ivf'. This corpus's
    synthetic embeddings are iid-shaped (zero high pairs), so the
    honest dispatch here is 'ivf' — exactly the case where silently
    serving the graph index would return bad neighbors. The whole
    decision is a ratio of two integer counts over single-expression
    cosines: exact cross-engine."""
    from cs6300_vectordbs_spark.operators.search import pair_structure_stat

    emb = _t(spark, sf_dir, "embeddings")
    stat = pair_structure_stat(
        emb, dim=EMB_DIM, sample_n=_STRUCT_N, cos_threshold=_STRUCT_COS
    )
    return stat.select(
        "n_pairs",
        "n_high",
        "frac_high",
        F.when(F.col("frac_high") >= F.lit(_STRUCT_FRAC), "nsw")
        .otherwise("ivf")
        .alias("strategy"),
    )


_ORACLE_AUTO_DISPATCH = f"""
WITH agg AS ({_ORACLE_STRUCT_AGG})
SELECT n_pairs, n_high,
       CASE WHEN n_pairs > 0 THEN n_high::DOUBLE / n_pairs END AS frac_high,
       CASE WHEN n_pairs > 0 AND n_high::DOUBLE / n_pairs >= {_STRUCT_FRAC}
            THEN 'nsw' ELSE 'ivf' END AS strategy
FROM agg
"""


def q_auto_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end auto-dispatched ANN serving: run the structure probe
    (one bounded 1-row collect), then serve top-k through the chosen
    index family — NSW beam on structured corpora, IVF cell probing on
    structureless ones (operators/search.auto_index_search; same
    beam/cell parameters as the standalone nsw_beam_topk / ivf_topk
    queries). The ORACLE is fully conditional: it recomputes the same
    probe in SQL and evaluates BOTH branch twins, keeping only the one
    the probe selects — so the value-hash gate holds under EITHER
    dispatch outcome, and a testdata regeneration that flips the
    corpus geometry flips both engines together."""
    from cs6300_vectordbs_spark.operators.search import auto_index_search

    emb = _t(spark, sf_dir, "embeddings")
    out = auto_index_search(
        emb, _query_batch(emb), TOPK, dim=EMB_DIM, exclude_self=True,
        sample_n=_STRUCT_N, cos_threshold=_STRUCT_COS, min_frac=_STRUCT_FRAC,
        beam_width=_NSW_BEAM, n_iters=_NSW_HOPS, n_entries=_NSW_ENTRIES,
        nsw_k=_NSW_K, n_cells=_IVF_CELLS, n_probe=_IVF_PROBE,
    )
    return _topk_rows(out)


def _oracle_auto_ann_topk() -> str:
    return f"""
WITH choice AS (
  SELECT CASE WHEN n_pairs > 0 AND n_high::DOUBLE / n_pairs >= {_STRUCT_FRAC}
              THEN 'nsw' ELSE 'ivf' END AS s
  FROM ({_ORACLE_STRUCT_AGG})
)
SELECT query_id, rank, vec_id, sim
FROM ({_oracle_nsw_beam()})
WHERE (SELECT s FROM choice) = 'nsw'
UNION ALL
SELECT query_id, rank, vec_id, sim
FROM ({_ORACLE_IVF})
WHERE (SELECT s FROM choice) = 'ivf'
"""


# Clustered-fixture corpus for the NSW arm of the auto-dispatch: the
# testdata embeddings are iid-shaped (labels carry no geometry), so the
# probe honestly picks IVF there — which left the NSW branch of the
# conditional oracle driver-unexercised (r07 verdict, What's-missing
# #1). This corpus injects cluster structure DETERMINISTICALLY from
# the embeddings table's ids (vec_id < 512, 8 clusters of 64): element
# j of vector i is an integer "center" term from (i mod 8, j) plus a
# 0.01-scaled integer perturbation from (i, j) — integer arithmetic
# and one multiply/add per element, bit-identical in Spark and DuckDB
# (single-expression double policy). Same-cluster vectors sit at
# cosine ~1, so the 128-vector probe sample (16 per cluster) puts
# ~12% of its pairs above the 0.6 threshold — far over the 0.001
# dispatch floor: the probe MUST pick 'nsw'.
_CLUST_N, _CLUST_DIM, _CLUST_CLUSTERS = 512, 16, 8


def _clustered_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    vid = F.col("vec_id")
    elems = []
    for j in range(_CLUST_DIM):
        center = ((vid % _CLUST_CLUSTERS) * 31 + 7 * j) % 13 - 6
        pert = (vid * 17 + 3 * j) % 5 - 2
        elems.append(
            center.cast("double") + F.lit(0.01) * pert.cast("double")
        )
    return emb.filter(vid < _CLUST_N).select(
        "vec_id", F.array(*elems).alias("embedding")
    )


_SQL_CLUST_CORPUS = f"""
  SELECT vec_id,
         list_transform(range(0, {_CLUST_DIM}), j ->
           (((vec_id % {_CLUST_CLUSTERS}) * 31 + 7 * j) % 13 - 6)::DOUBLE
           + 0.01 * ((vec_id * 17 + 3 * j) % 5 - 2)::DOUBLE) AS embedding
  FROM embeddings WHERE vec_id < {_CLUST_N}
"""


def q_auto_ann_topk_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """auto_index_search with the probe LANDING ON THE GRAPH BRANCH:
    same dispatch rule, same conditional oracle shape as
    auto_ann_topk, but over the deterministic clustered corpus above —
    the geometry a real text-embedding corpus has. The DuckDB twin
    recomputes the corpus AND the probe from the same integer rule and
    evaluates both branch twins; on this corpus the probe must select
    'nsw', so the NSW arm of the conditional oracle — dead on the iid
    testdata — is the live one here. Together with auto_ann_topk
    (IVF-live, NSW-dead) both dispatch outcomes now carry full
    value-hash driver evidence. Serves via the broadcast strategy
    (graph in executor memory, one mapInPandas pass — bit-identical
    to the join path, tests/test_nsw_broadcast.py)."""
    from cs6300_vectordbs_spark.operators.search import auto_index_search

    corpus = _clustered_corpus(spark, sf_dir).localCheckpoint(eager=True)
    out = auto_index_search(
        corpus, _query_batch(corpus), TOPK, dim=_CLUST_DIM,
        exclude_self=True,
        sample_n=_STRUCT_N, cos_threshold=_STRUCT_COS, min_frac=_STRUCT_FRAC,
        beam_width=_NSW_BEAM, n_iters=_NSW_HOPS, n_entries=_NSW_ENTRIES,
        nsw_k=_NSW_K, n_cells=_IVF_CELLS, n_probe=_IVF_PROBE,
    )
    return _topk_rows(out)


def _oracle_auto_ann_clustered() -> str:
    return f"""
WITH cemb AS ({_SQL_CLUST_CORPUS}),
choice AS (
  SELECT CASE WHEN n_pairs > 0 AND n_high::DOUBLE / n_pairs >= {_STRUCT_FRAC}
              THEN 'nsw' ELSE 'ivf' END AS s
  FROM ({_oracle_struct_agg("cemb")})
)
SELECT query_id, rank, vec_id, sim
FROM ({_oracle_nsw_beam("cemb")})
WHERE (SELECT s FROM choice) = 'nsw'
UNION ALL
SELECT query_id, rank, vec_id, sim
FROM ({_oracle_ivf("cemb")})
WHERE (SELECT s FROM choice) = 'ivf'
"""


def q_semdedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) over the embeddings table: IVF
    cells as the clustering step, same-cell cosine pairs above the
    threshold as semantic duplicates, connected components, keep the
    min-id representative. One row per vector with its duplicate
    cluster, the cluster size, and the survivor flag — filter
    is_survivor for the deduplicated training set. Composes three
    verified kernels (ivf_neardup_pairs, dedup_clusters, one
    assembly join); the oracle is the cell CTEs + recursive-CTE
    transitive closure."""
    from cs6300_vectordbs_spark.operators.curation import semdedup_survivors

    emb = _t(spark, sf_dir, "embeddings")
    return semdedup_survivors(
        emb, dim=EMB_DIM, n_cells=_IVF_CELLS, min_sim=_NEARDUP_IVF_SIM
    ).select(
        F.col("vec_id").cast("bigint"),
        F.col("cluster_id").cast("bigint"),
        "cluster_size",
        "is_survivor",
    )


def _oracle_semdedup() -> str:
    return f"""
WITH RECURSIVE {_sql_ivf_cells()},
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {_sql_cos('a.embedding', 'b.embedding')} >= {_NEARDUP_IVF_SIM!r}
),
{_SQL_CLOSURE},
comp AS (
  SELECT a AS vec_id, least(min(b), a) AS cluster_id FROM reach GROUP BY a
),
fullset AS (
  SELECT e.vec_id, coalesce(c.cluster_id, e.vec_id) AS cluster_id
  FROM embeddings e LEFT JOIN comp c ON c.vec_id = e.vec_id
),
sizes AS (
  SELECT cluster_id, count(*)::BIGINT AS cluster_size
  FROM fullset GROUP BY cluster_id
)
SELECT f.vec_id::BIGINT AS vec_id, f.cluster_id::BIGINT AS cluster_id,
       s.cluster_size AS cluster_size,
       (f.vec_id = f.cluster_id) AS is_survivor
FROM fullset f JOIN sizes s USING (cluster_id)
"""


def q_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRANSFORM phase of Lee et al. 2021 exact-substring dedup:
    delete every token position covered by a corpus-duplicated n-token
    span, re-join the survivors in original order (deterministic
    sort_array reassembly, not a bare collect_list). The cleaned_text
    column itself is value-hashed, so the oracle proves byte-equal
    reconstruction, not just matching counts."""
    from cs6300_vectordbs_spark.operators.dedup import dup_span_removal

    docs = _t(spark, sf_dir, "documents")
    return dup_span_removal(docs, n=_DUP_SPAN_N)


_ORACLE_DUP_SPAN_REMOVAL = f"""
WITH tk AS (
  SELECT doc_id, {_SQL_TOKS} AS t FROM documents
), ex AS (
  SELECT doc_id, i - 1 AS pos, t[i] AS tok
  FROM tk, LATERAL unnest(range(1, len(t) + 1)) AS u(i)
), starts AS (
  SELECT doc_id, unnest(range(1, len(t) - {_DUP_SPAN_N} + 2)) AS i, t
  FROM tk WHERE len(t) >= {_DUP_SPAN_N}
), spans AS (
  SELECT doc_id, i - 1 AS pos,
         list_aggregate(t[i:i + {_DUP_SPAN_N} - 1], 'string_agg', ' ') AS s
  FROM starts
), dup AS (
  SELECT s FROM spans GROUP BY s HAVING count(*) >= 2
), covered AS (
  SELECT DISTINCT doc_id, cp AS pos
  FROM (SELECT doc_id, unnest(range(pos, pos + {_DUP_SPAN_N})) AS cp
        FROM spans JOIN dup USING (s))
), kept AS (
  SELECT e.doc_id, e.pos, e.tok
  FROM ex e ANTI JOIN covered c ON c.doc_id = e.doc_id AND c.pos = e.pos
), rebuilt AS (
  SELECT doc_id, count(*)::BIGINT AS kept_tokens,
         string_agg(tok, ' ' ORDER BY pos) AS cleaned_text
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
  coalesce(len(t.t), 0)::BIGINT AS n_tokens,
  coalesce(r.kept_tokens, 0)::BIGINT AS kept_tokens,
  coalesce(r.cleaned_text, '') AS cleaned_text
FROM documents d
LEFT JOIN tk t ON t.doc_id = d.doc_id
LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
"""


_KNN_VOTE_QUERIES = 50
_KNN_VOTE_K = 5


def q_knn_label_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out k-NN majority-vote classification over the
    labeled embeddings — embedding-space label propagation, the
    curation move that spreads a small human-labeled set (spam /
    quality / domain tags) across a corpus. 50 queries, k=5,
    prediction = modal neighbor label with a total-order tie-break
    (votes DESC, best-in-label sim DESC, label ASC NULLS LAST — the
    NULL tier ships a NULL-labeled vector)."""
    from cs6300_vectordbs_spark.operators.similarity import knn_label_vote

    emb = _t(spark, sf_dir, "embeddings")
    pred = knn_label_vote(
        emb, _query_batch(emb, _KNN_VOTE_QUERIES), _KNN_VOTE_K,
        dim=EMB_DIM, exclude_self=True,
    )
    truth = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
    )
    return pred.join(truth, "query_id").select(
        F.col("query_id").cast("bigint").alias("vec_id"),
        F.col("true_label").cast("bigint"),
        F.col("pred_label").cast("bigint"),
        "n_votes",
        (F.col("true_label") == F.col("pred_label")).alias("correct"),
    )


_ORACLE_KNN_VOTE = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, e.vec_id, e.label, {_SQL_COSINE} AS sim
  FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
  WHERE q.vec_id < {_KNN_VOTE_QUERIES}
), topk AS (
  SELECT * FROM scored
  QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) <= {_KNN_VOTE_K}
), votes AS (
  SELECT query_id, label AS pred_label, count(*)::BIGINT AS n_votes,
         max(sim) AS top_sim
  FROM topk GROUP BY query_id, label
), best AS (
  SELECT * FROM votes
  QUALIFY row_number() OVER (
    PARTITION BY query_id
    ORDER BY n_votes DESC, top_sim DESC, pred_label ASC NULLS LAST) = 1
)
SELECT b.query_id AS vec_id, t.label::BIGINT AS true_label,
       b.pred_label::BIGINT AS pred_label, b.n_votes,
       (t.label = b.pred_label) AS correct
FROM best b JOIN embeddings t ON t.vec_id = b.query_id
"""


_BPE_MERGES = 3


def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE training LOOP (Sennrich et al. 2016 alg. 1) — 3 rounds
    of [pair argmax -> merge everywhere], emitting the ordered merge
    table, i.e. the actual tokenizer artifact (bpe_pair_counts is one
    round's statistic; this is the trainer). Vocabulary-sized work
    per round, one argmax row to the driver per round (the
    kmeans-centroid discipline); oracle = the same 3 rounds unrolled
    as CTEs with scalar-subquery merges."""
    from cs6300_vectordbs_spark.operators.curation import bpe_train_merges

    docs = _t(spark, sf_dir, "documents")
    return bpe_train_merges(docs, n_merges=_BPE_MERGES)


def _oracle_bpe_merges() -> str:
    spell = (
        "list_aggregate(list_transform(range(1, length(w) + 1), "
        "i -> substr(w, CAST(i AS INT), 1)), 'string_agg', ' ')"
    )
    ctes = [f"""toks AS (
  SELECT unnest({_SQL_TOKS}) AS w FROM documents
),
words AS (SELECT w, count(*)::BIGINT AS wc FROM toks GROUP BY w),
sp0 AS (
  SELECT {spell} AS sp, wc FROM words WHERE length(w) >= 2
)"""]
    for i in range(1, _BPE_MERGES + 1):
        ctes.append(f"""p{i} AS (
  SELECT unnest(list_transform(range(1, len(a)),
           j -> a[j] || ' ' || a[j + 1])) AS pair, wc
  FROM (SELECT string_split(sp, ' ') AS a, wc FROM sp{i - 1})
),
b{i} AS (
  SELECT pair, sum(wc)::BIGINT AS cnt FROM p{i} GROUP BY pair
  ORDER BY cnt DESC, pair ASC LIMIT 1
),
m{i} AS (
  SELECT split_part(pair, ' ', 1) AS p1, split_part(pair, ' ', 2) AS p2,
         replace(pair, ' ', '') AS merged
  FROM b{i}
),
sp{i} AS (
  -- greedy left-to-right fold (Sennrich non-overlapping scan): the
  -- accumulator is the rebuilt spelling; merge fires when its last
  -- TOKEN is p1 and the incoming symbol is p2
  SELECT list_reduce(string_split(sp, ' '),
           (acc, s) -> CASE
             WHEN s = p2 AND (acc = p1 OR ends_with(acc, ' ' || p1))
             THEN left(acc, length(acc) - length(p1)) || merged
             ELSE acc || ' ' || s
           END) AS sp,
         wc
  FROM sp{i - 1}, m{i}
)""")
    steps = "\nUNION ALL\n".join(
        f"SELECT {i}::BIGINT AS step, pair, replace(pair, ' ', '') AS merged,"
        f" cnt FROM b{i}"
        for i in range(1, _BPE_MERGES + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + steps


def q_bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer's ENCODE side: train the same 3 merges, apply
    them once per distinct vocabulary word (the dictionary trick —
    never per token occurrence), and roll per-word symbol counts up to
    each document: word/char/BPE-token counts plus tokens-per-char
    fertility. With bpe_train_merges this completes the tokenizer
    story train -> apply; oracle = the trainer CTEs carrying the word
    key, then a vocab join + per-doc rollup."""
    from cs6300_vectordbs_spark.operators.curation import bpe_encode_stats

    docs = _t(spark, sf_dir, "documents")
    return bpe_encode_stats(docs, n_merges=_BPE_MERGES)


def _oracle_bpe_encode() -> str:
    spell = (
        "list_aggregate(list_transform(range(1, length(w) + 1), "
        "i -> substr(w, CAST(i AS INT), 1)), 'string_agg', ' ')"
    )
    ctes = [f"""toks AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS w FROM documents
),
words AS (SELECT w, count(*)::BIGINT AS wc FROM toks GROUP BY w),
sp0 AS (
  SELECT w, {spell} AS sp, wc FROM words
)"""]
    for i in range(1, _BPE_MERGES + 1):
        ctes.append(f"""p{i} AS (
  SELECT unnest(list_transform(range(1, len(a)),
           j -> a[j] || ' ' || a[j + 1])) AS pair, wc
  FROM (SELECT string_split(sp, ' ') AS a, wc FROM sp{i - 1})
),
b{i} AS (
  SELECT pair, sum(wc)::BIGINT AS cnt FROM p{i} GROUP BY pair
  ORDER BY cnt DESC, pair ASC LIMIT 1
),
m{i} AS (
  SELECT split_part(pair, ' ', 1) AS p1, split_part(pair, ' ', 2) AS p2,
         replace(pair, ' ', '') AS merged
  FROM b{i}
),
sp{i} AS (
  -- greedy left-to-right fold, identical to _oracle_bpe_merges
  SELECT w,
         list_reduce(string_split(sp, ' '),
           (acc, s) -> CASE
             WHEN s = p2 AND (acc = p1 OR ends_with(acc, ' ' || p1))
             THEN left(acc, length(acc) - length(p1)) || merged
             ELSE acc || ' ' || s
           END) AS sp,
         wc
  FROM sp{i - 1}, m{i}
)""")
    ctes.append(f"""enc AS (
  SELECT w, length(replace(sp, ' ', ''))::BIGINT AS n_chars_w,
         len(string_split(sp, ' '))::BIGINT AS n_sym_w
  FROM sp{_BPE_MERGES}
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT t.doc_id, count(*)::BIGINT AS n_words,
       sum(e.n_chars_w)::BIGINT AS n_chars,
       sum(e.n_sym_w)::BIGINT AS n_bpe_tokens,
       round(sum(e.n_sym_w)::DOUBLE / sum(e.n_chars_w)::DOUBLE, 9)
         AS tokens_per_char
FROM toks t JOIN enc e ON t.w = e.w
GROUP BY t.doc_id"""
    )


def q_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature sampling (alpha=0.5) over the corpus language mix —
    the XLM-R/mT5 rebalancing rule (Conneau et al. 2020 §3.1): group
    shares move from p_l to ∝ sqrt(p_l), realized as a deterministic
    keyed-hash acceptance test so the resample is reproducible across
    runs, engines, and partitionings. One tiny group-count aggregate
    to the driver, then a map-only CASE filter — no join, no second
    shuffle."""
    from cs6300_vectordbs_spark.operators.sampling import (
        temperature_resample,
    )

    docs = _t(spark, sf_dir, "documents")
    return temperature_resample(
        docs, group_col="lang", key_col="doc_id", alpha=0.5
    )


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental snapshot diff — the crawl-refresh primitive: the
    per-user latest state at the time-range MIDPOINT vs at the end,
    classified added / removed / changed / unchanged. The midpoint is
    exact integer micros ((min+max) DIV 2 — two values to the driver),
    'latest' is the (ts, event_id)-total-order argmax per user, and
    the classifier reads presence MARKERS, not join keys (a NULL
    user_id never joins, and keying the CASE off o.user_id would
    misread its old-side row as 'added'). Two window-dedup passes
    sharing the user_id exchange + one user-keyed full outer join."""
    ev = read_events(spark, sf_dir).withColumn(
        "us", F.unix_micros("ts")
    ).filter(F.col("us").isNotNull())
    mn, mx = ev.agg(F.min("us"), F.max("us")).first()
    if mn is None:
        return spark.createDataFrame(
            [], "user_id bigint, old_state string, new_state string,"
            " status string"
        )
    mid = (mn + mx) // 2

    from pyspark.sql.window import Window

    def latest(df):
        w = Window.partitionBy("user_id").orderBy(
            F.col("us").desc(), F.col("event_id").desc()
        )
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("user_id", "event_type", F.lit(1).alias("__in"))
        )

    old = latest(ev.filter(F.col("us") <= F.lit(mid))).select(
        F.col("user_id").alias("o_uid"),
        F.col("event_type").alias("old_state"),
        F.col("__in").alias("in_old"),
    )
    new = latest(ev).select(
        F.col("user_id").alias("n_uid"),
        F.col("event_type").alias("new_state"),
        F.col("__in").alias("in_new"),
    )
    j = old.join(new, old["o_uid"] == new["n_uid"], "full_outer")
    return j.select(
        F.coalesce("o_uid", "n_uid").cast("bigint").alias("user_id"),
        "old_state",
        "new_state",
        F.when(F.col("in_old").isNull(), F.lit("added"))
        .when(F.col("in_new").isNull(), F.lit("removed"))
        .when(F.col("old_state") == F.col("new_state"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )


_ORACLE_SNAPSHOT_DIFF = """
WITH e AS (
  SELECT user_id, epoch_us(ts::TIMESTAMP) AS us, event_id, event_type
  FROM events WHERE ts IS NOT NULL
),
b AS (SELECT (min(us) + max(us)) // 2 AS mid FROM e),
old AS (
  SELECT user_id AS o_uid, event_type AS old_state, 1 AS in_old
  FROM (SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY us DESC, event_id DESC) AS rn
        FROM e WHERE us <= (SELECT mid FROM b))
  WHERE rn = 1
),
new AS (
  SELECT user_id AS n_uid, event_type AS new_state, 1 AS in_new
  FROM (SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY us DESC, event_id DESC) AS rn
        FROM e)
  WHERE rn = 1
)
SELECT coalesce(o_uid, n_uid)::BIGINT AS user_id, old_state, new_state,
       CASE WHEN in_old IS NULL THEN 'added'
            WHEN in_new IS NULL THEN 'removed'
            WHEN old_state = new_state THEN 'unchanged'
            ELSE 'changed' END AS status
FROM old FULL OUTER JOIN new ON o_uid = n_uid
"""


_BLOOM_M, _BLOOM_K = 4096, 3


def q_bloom_cross_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join prefilter — the membership sketch that makes
    100-TB anti-joins cheap: build a Bloom filter (m=4096 bits, k=3
    portable md5 hashes) over the EVEN-doc_id half's content
    fingerprints, then probe the ODD half MAP-ONLY against the
    literal mask (the ~0.5 KB filter ships inside the plan — no
    shuffle, no join for the membership test). The exact-verify join
    consumes ONLY bloom hits (Bloom has no false negatives), so
    output exposes the sketch's contract per probe doc: bloom_hit,
    exact_dup, and their disagreement is exactly the false-positive
    set. Bit-position build is a distributed distinct bounded by m
    rows (the kmeans-centroid collect discipline)."""
    from cs6300_vectordbs_spark.functions.text import doc_fingerprint
    from cs6300_vectordbs_spark.operators.sketch import (
        bloom_build_bits,
        bloom_hit,
        bloom_mask_words,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", doc_fingerprint("text").alias("fp"))
        .filter(F.col("fp").isNotNull())
    )
    old = docs.filter(F.pmod("doc_id", F.lit(2)) == 0)
    mask = bloom_mask_words(
        bloom_build_bits(old, "fp", _BLOOM_M, _BLOOM_K), _BLOOM_M
    )
    probe = docs.filter(F.pmod("doc_id", F.lit(2)) == 1).withColumn(
        "bloom_hit", bloom_hit("fp", mask, _BLOOM_M, _BLOOM_K)
    )
    old_fps = old.select("fp").distinct().withColumn("__dup", F.lit(True))
    return probe.join(
        F.broadcast(old_fps),
        on=(probe["fp"] == old_fps["fp"]) & probe["bloom_hit"],
        how="left",
    ).select(
        "doc_id",
        "bloom_hit",
        F.coalesce("__dup", F.lit(False)).alias("exact_dup"),
    )


_ORACLE_BLOOM_CROSS_DUPS = f"""
WITH fps AS (
  SELECT doc_id, substr(md5({_SQL_NORM_TEXT}), 1, 16) AS fp
  FROM documents WHERE text IS NOT NULL
),
old AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 2 = 0),
bits AS (
  SELECT DISTINCT
    ('0x' || substr(md5('bloom' || i || '|' || fp), 1, 15))::BIGINT
      % {_BLOOM_M} AS bit
  FROM old CROSS JOIN generate_series(0, {_BLOOM_K - 1}) AS t(i)
),
ppos AS (
  SELECT doc_id, fp,
    ('0x' || substr(md5('bloom' || i || '|' || fp), 1, 15))::BIGINT
      % {_BLOOM_M} AS bit
  FROM fps CROSS JOIN generate_series(0, {_BLOOM_K - 1}) AS t(i)
  WHERE doc_id % 2 = 1
),
agg AS (
  SELECT p.doc_id, any_value(p.fp) AS fp,
         count(DISTINCT p.bit) AS npos,
         count(DISTINCT CASE WHEN b.bit IS NOT NULL THEN p.bit END) AS nhit
  FROM ppos p LEFT JOIN bits b ON p.bit = b.bit
  GROUP BY p.doc_id
)
SELECT doc_id, nhit = npos AS bloom_hit,
       (nhit = npos AND fp IN (SELECT fp FROM old)) AS exact_dup
FROM agg
"""


_ORACLE_TEMPERATURE_RESAMPLE = """
WITH c AS (
  SELECT lang, count(*)::BIGINT AS n FROM documents
  WHERE lang IS NOT NULL GROUP BY lang
),
tot AS (SELECT sum(n)::BIGINT AS N FROM c),
w AS (
  SELECT lang, n, sqrt(n::DOUBLE / (SELECT N FROM tot)) AS wl FROM c
),
z AS (
  SELECT list_aggregate(list(wl ORDER BY lang), 'sum') AS Z FROM w
),
r AS (
  SELECT lang,
         round(least(1.0, (wl / (SELECT Z FROM z))
                          * ((SELECT N FROM tot)::DOUBLE / n)), 9) AS rate
  FROM w
),
s AS (
  SELECT d.doc_id, d.lang, r.rate,
         round((((d.doc_id % 2147483648) * 2654435761)
                % 4294967296 % 1000000) / 1000000.0, 9) AS u
  FROM documents d JOIN r USING (lang)
)
SELECT doc_id, lang, rate, u FROM s WHERE u < rate
"""


_N_SHARDS = 16


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard export manifest: hash-shuffle the
    corpus into 16 shards (pmod of the portable md5-hash64 of
    doc_id — the seed-free global random permutation) and emit one
    audit row per shard with doc/token/char budgets and the key range
    a consumer streams to reproduce the exact shuffle order."""
    from cs6300_vectordbs_spark.operators.curation import shard_manifest

    docs = _t(spark, sf_dir, "documents")
    return shard_manifest(docs, n_shards=_N_SHARDS)


_ORACLE_SHARD_MANIFEST = f"""
WITH keyed AS (
  SELECT ('0x' || substr(md5('s131|' || doc_id::VARCHAR), 1, 15))::BIGINT AS k,
         {_SQL_TOKS} AS tk, len(text) AS nc
  FROM documents
)
SELECT (k % {_N_SHARDS})::BIGINT AS shard,
  count(*)::BIGINT AS n_docs,
  sum(len(tk))::BIGINT AS n_tokens,
  sum(nc)::BIGINT AS n_chars,
  min(k) AS min_key, max(k) AS max_key
FROM keyed GROUP BY shard ORDER BY shard
"""


# ---------------------------------------------------------------------------
# Two-stage compressed serving + diversified re-rank (operators/twostage.py,
# operators/rerank.py) — the coarse-filter/exact-refine strategies modern
# vector engines ship next to plain top-k. All three are deterministic end to
# end (integer Hamming / bit-identical prefix cosine / IEEE-exact greedy MMR),
# so unlike the LSH paths they carry full value-hash oracles.
# ---------------------------------------------------------------------------

_BQ_REFINE = 4  # stage-1 candidates per query = TOPK * refine
_MAT_PREFIX = 16  # Matryoshka coarse pass scores the first 16 of 64 dims
_MMR_CAND = 20  # MMR candidate pool (exact top-20)


def q_bq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization two-stage search (operators/twostage.py):
    sign bits packed into BIGINT words, whole-corpus Hamming ranking
    via codegen bit_count(xor), exact cosine re-rank of the top
    TOPK*4 candidates. The 32x-smaller packed representation is the
    100 TB first-pass story; the oracle recomputes the identical
    Hamming as a per-dimension sign-mismatch count (verified
    bit-for-bit on every pair at sf0.001)."""
    from cs6300_vectordbs_spark.operators.twostage import bq_topk

    emb = _t(spark, sf_dir, "embeddings")
    out = bq_topk(
        emb, _query_batch(emb), TOPK,
        dim=EMB_DIM, refine=_BQ_REFINE, exclude_self=True,
    )
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("rank").cast("bigint").alias("rank"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("hamming").cast("bigint").alias("hamming"),
        F.col("sim"),
        F.col("dist"),
    )


_BQ_HAMMING_TERMS = " + ".join(
    f"CASE WHEN (CASE WHEN q.embedding[{i}]::DOUBLE > 0.0 THEN 1 ELSE 0 END)"
    f" <> (CASE WHEN e.embedding[{i}]::DOUBLE > 0.0 THEN 1 ELSE 0 END)"
    " THEN 1 ELSE 0 END"
    for i in range(1, EMB_DIM + 1)
)

def _oracle_bq(prelude: str = "", src: str = "embeddings") -> str:
    """BQ two-stage oracle over corpus source ``src`` (optionally a
    ``prelude`` CTE defining it — the maintained-index twin recomputes
    the post-upsert/post-delete corpus directly). Queries always come
    from the ORIGINAL embeddings table, mirroring the Spark side."""
    return f"""
WITH {prelude}ham AS (
  SELECT q.vec_id AS query_id, q.embedding AS qv,
         e.vec_id AS vec_id, e.embedding AS ev,
         ({_BQ_HAMMING_TERMS})::BIGINT AS hamming
  FROM embeddings q JOIN {src} e ON e.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
cand AS (
  SELECT query_id, qv, vec_id, ev, hamming FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY hamming ASC, vec_id ASC) AS hr
    FROM ham
  ) WHERE hr <= {TOPK * _BQ_REFINE}
),
scored AS (
  SELECT query_id, vec_id, hamming, {_sql_cos('qv', 'ev')} AS sim
  FROM cand
),
ranked AS (
  SELECT query_id, vec_id, hamming, sim, row_number() OVER (
    PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::BIGINT AS rank, vec_id, hamming, sim,
       1.0 - sim AS dist
FROM ranked WHERE rank <= {TOPK}
"""


_ORACLE_BQ_TOPK = _oracle_bq()

# The maintained-index twin: corpus = flip the first coordinate of
# every vec_id % 10 == 7 (IEEE-exact and sign-VISIBLE — it flips a
# packed bit, so Hamming genuinely changes) and DELETE vec_id % 10
# == 3; queries stay the original batch. A broken upsert append,
# latest-wins resolution, or tombstone filter value-hash-fails.
_ORACLE_BQ_MAINTAINED = _oracle_bq(
    prelude=f"""mod AS (
  SELECT vec_id,
         CASE WHEN vec_id % 10 = 7
              THEN [-(embedding[1]::DOUBLE)] || (embedding[2:{EMB_DIM}])::DOUBLE[]
              ELSE embedding::DOUBLE[] END AS embedding
  FROM embeddings
  WHERE vec_id % 10 != 3
),
""",
    src="mod",
)


def q_bq_maintained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BQ index's full maintenance lifecycle as one driver-checked
    row (sources/bq_index.py upsert/delete verbs): build the packed
    words, UPSERT first-coordinate-flipped vectors (vec_id % 10 == 7,
    gen=1 appends), DELETE vec_id % 10 == 3 (tombstones), then serve
    PRE-compaction — so the driver exercises the serve-time
    latest-wins generation dedup AND the tombstone anti-join, the two
    paths a compacted index never touches. The oracle recomputes the
    post-maintenance corpus directly. Hermetic temp dir per run
    (persistence is bq_persisted_topk's row; compaction parity is
    pinned in tests/test_bq_index.py)."""
    import shutil
    import tempfile

    from cs6300_vectordbs_spark.sources.bq_index import (
        build_bq_index,
        delete_from_bq_index,
        search_bq_index,
        upsert_bq_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    path = tempfile.mkdtemp(prefix="bq_maint_")
    try:
        build_bq_index(emb, path, dim=EMB_DIM)
        flipped = emb.filter(F.col("vec_id") % 10 == 7).select(
            "vec_id",
            F.concat(
                F.array(-F.col("embedding")[0]),
                F.slice(F.col("embedding"), 2, EMB_DIM - 1),
            ).alias("embedding"),
        )
        upsert_bq_index(spark, flipped, path, dim=EMB_DIM, gen=1)
        delete_from_bq_index(
            spark, emb.filter(F.col("vec_id") % 10 == 3).select("vec_id"),
            path,
        )
        current = (
            emb.select("vec_id", "embedding")
            .filter((F.col("vec_id") % 10 != 7) & (F.col("vec_id") % 10 != 3))
            .unionByName(flipped)
        )
        out = search_bq_index(
            spark, path, current, _query_batch(emb), TOPK,
            dim=EMB_DIM, refine=_BQ_REFINE, exclude_self=True,
        )
        return out.select(
            F.col("query_id").cast("bigint").alias("query_id"),
            F.col("rank").cast("bigint").alias("rank"),
            F.col("vec_id").cast("bigint").alias("vec_id"),
            F.col("hamming").cast("bigint").alias("hamming"),
            F.col("sim"),
            F.col("dist"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def q_bq_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored-words serving (sources/bq_index.py): ensure the packed
    sign-bit table exists on disk (S9 create-if-absent, index_common
    flock/fingerprint lifecycle), then serve top-k with the Hamming
    first pass scanning ONLY the packed BIGINTs (16 bytes/vector at
    64-d vs 512 for the float math — the 32x scan story, pinned in
    tests/test_bq_index.py) and a broadcast row-fetch join pulling
    full vectors for the k*refine candidates. Same candidate rule and
    tie-breaks as bq_topk -> shares its full value-hash oracle."""
    from cs6300_vectordbs_spark.sources.bq_index import (
        ensure_bq_index,
        search_bq_index,
    )

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"{WAREHOUSE}/bq_index_{tag}"
    emb = _t(spark, sf_dir, "embeddings")
    ensure_bq_index(spark, emb, path, dim=EMB_DIM)
    out = search_bq_index(
        spark, path, emb, _query_batch(emb), TOPK,
        dim=EMB_DIM, refine=_BQ_REFINE, exclude_self=True,
    )
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("rank").cast("bigint").alias("rank"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("hamming").cast("bigint").alias("hamming"),
        F.col("sim"),
        F.col("dist"),
    )


def q_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka prefix-dimension two-stage search (operators/
    twostage.py): the coarse pass scores cosine over the FIRST 16 of
    64 dims (the unrolled expressions just stop early — a 4x flop/byte
    reduction, and on a store with the prefix as its own column a 4x
    scan reduction), exact full-dim cosine re-ranks the top TOPK*4.
    Both stages share the left-fold accumulation order, so the
    candidate SET is engine-exact and the oracle is full value-hash."""
    from cs6300_vectordbs_spark.operators.twostage import matryoshka_topk

    emb = _t(spark, sf_dir, "embeddings")
    out = matryoshka_topk(
        emb, _query_batch(emb), TOPK,
        dim=EMB_DIM, prefix_dim=_MAT_PREFIX, refine=_BQ_REFINE,
        exclude_self=True,
    )
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("rank").cast("bigint").alias("rank"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("sim_coarse"),
        F.col("sim"),
        F.col("dist"),
    )


_ORACLE_MATRYOSHKA_TOPK = f"""
WITH coarse AS (
  SELECT q.vec_id AS query_id, q.embedding AS qv,
         e.vec_id AS vec_id, e.embedding AS ev,
         {_sql_cos(f'(q.embedding[1:{_MAT_PREFIX}])',
                           f'(e.embedding[1:{_MAT_PREFIX}])')} AS sim_coarse
  FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
cand AS (
  SELECT query_id, qv, vec_id, ev, sim_coarse FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY sim_coarse DESC, vec_id ASC) AS cr
    FROM coarse WHERE sim_coarse IS NOT NULL
  ) WHERE cr <= {TOPK * _BQ_REFINE}
),
scored AS (
  SELECT query_id, vec_id, sim_coarse, {_sql_cos('qv', 'ev')} AS sim
  FROM cand
),
ranked AS (
  SELECT query_id, vec_id, sim_coarse, sim, row_number() OVER (
    PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::BIGINT AS rank, vec_id, sim_coarse, sim,
       1.0 - sim AS dist
FROM ranked WHERE rank <= {TOPK}
"""


_MAT384_PREFIX = 288  # > UNROLL_MAX_DIM: forces the sliced-HOF path


def q_matryoshka_topk_384d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka two-stage at the reference's real 384-d with
    prefix_dim 288 — ABOVE UNROLL_MAX_DIM, so the coarse pass takes
    the sliced-HOF branch (operators/twostage.py): the regime where
    the unrolled early-stop is unavailable and a whole-array fold
    would silently score the FULL cosine (the bug the r09 review
    caught, regression-pinned in tests/test_twostage.py — this row
    puts that branch under the DRIVER gate). Corpus embeds documents
    via the 384-d hash-projection embedder, same as
    topk_cosine_384d."""
    from cs6300_vectordbs_spark.functions.embed import embed_text
    from cs6300_vectordbs_spark.operators.twostage import matryoshka_topk

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    corpus = docs.select(
        F.col("doc_id").cast("bigint").alias("vec_id"),
        embed_text("text", dim=384).alias("embedding"),
    )
    queries = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    out = matryoshka_topk(
        corpus, queries, TOPK,
        dim=384, prefix_dim=_MAT384_PREFIX, refine=_BQ_REFINE,
        exclude_self=True,
    )
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("rank").cast("bigint").alias("rank"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("sim_coarse"),
        F.col("sim"),
        F.col("dist"),
    )


_ORACLE_MATRYOSHKA_384D = f"""
WITH emb AS (
  SELECT doc_id AS vec_id,
         list_transform(range(0, 384), j ->
           (('0x' || substr(md5('e' || j || '|' || text), 1, 15))::BIGINT
            % 2000001) / 1000000.0 - 1.0) AS embedding
  FROM documents WHERE text IS NOT NULL
),
coarse AS (
  SELECT q.vec_id AS query_id, q.embedding AS qv,
         e.vec_id AS vec_id, e.embedding AS ev,
         {_sql_cos(f'(q.embedding[1:{_MAT384_PREFIX}])',
                           f'(e.embedding[1:{_MAT384_PREFIX}])')} AS sim_coarse
  FROM emb q JOIN emb e ON e.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
cand AS (
  SELECT query_id, qv, vec_id, ev, sim_coarse FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY sim_coarse DESC, vec_id ASC) AS cr
    FROM coarse WHERE sim_coarse IS NOT NULL
  ) WHERE cr <= {TOPK * _BQ_REFINE}
),
scored AS (
  SELECT query_id, vec_id, sim_coarse, {_sql_cos('qv', 'ev')} AS sim
  FROM cand
),
ranked AS (
  SELECT query_id, vec_id, sim_coarse, sim, row_number() OVER (
    PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::BIGINT AS rank, vec_id, sim_coarse, sim,
       1.0 - sim AS dist
FROM ranked WHERE rank <= {TOPK}
"""


def q_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified serving (operators/rerank.py mmr_rerank): exact
    top-20 candidates per query, then the greedy lambda=0.5 maximal-
    marginal-relevance selection of 5 — the ``search_type='mmr'``
    surface of RAG serving stacks. The greedy argmax sequence is
    IEEE-exact across engines (candidate-pair cosines ride the shared
    _sims_matrix bit-identity invariant), so the oracle is the k-step
    unrolled SQL recursion, full value-hash."""
    from cs6300_vectordbs_spark.operators.rerank import mmr_rerank
    from cs6300_vectordbs_spark.operators.similarity import similarity_topk

    emb = _t(spark, sf_dir, "embeddings")
    cand = similarity_topk(
        emb, _query_batch(emb), _MMR_CAND, exclude_self=True, dim=EMB_DIM
    ).select("query_id", "vec_id", "sim")
    cand = cand.join(emb.select("vec_id", "embedding"), on="vec_id")
    out = mmr_rerank(cand, TOPK, lambda_=0.5)
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("rank").cast("bigint").alias("rank"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("sim"),
        F.col("mmr"),
    )


def _oracle_mmr_topk() -> str:
    """Unrolled k-step greedy MMR in SQL: step j's CTE re-ranks the
    not-yet-selected candidates by 0.5*sim - 0.5*max(pair-sim vs the
    selected set) with id-asc ties — the same two IEEE multiplies and
    subtract, on bit-identical cosines, as the Arrow kernel."""
    steps = []
    prevs = "SELECT query_id, vec_id FROM s1"
    for j in range(2, TOPK + 1):
        steps.append(f"""
prev{j} AS ({prevs}),
red{j} AS (
  SELECT p.query_id, p.va AS vec_id, max(p.psim) AS red
  FROM pair p JOIN prev{j} s ON p.query_id = s.query_id AND p.vb = s.vec_id
  GROUP BY p.query_id, p.va
),
s{j} AS (
  SELECT query_id, vec_id, sim, mmr FROM (
    SELECT c.query_id, c.vec_id, c.sim,
           (0.5 * c.sim - 0.5 * r.red) AS mmr,
           row_number() OVER (
             PARTITION BY c.query_id
             ORDER BY (0.5 * c.sim - 0.5 * r.red) DESC, c.vec_id ASC) AS rn
    FROM cand c
    JOIN red{j} r ON r.query_id = c.query_id AND r.vec_id = c.vec_id
    LEFT JOIN prev{j} s ON s.query_id = c.query_id AND s.vec_id = c.vec_id
    WHERE s.vec_id IS NULL
  ) WHERE rn = 1
)""")
        prevs += f" UNION ALL SELECT query_id, vec_id FROM s{j}"
    unions = "\nUNION ALL ".join(
        f"SELECT query_id, {j}::BIGINT AS rank, vec_id, sim, mmr FROM s{j}"
        for j in range(1, TOPK + 1)
    )
    return f"""
WITH scored0 AS (
  SELECT q.vec_id AS query_id, e.vec_id AS vec_id, e.embedding AS ev,
         {_sql_cos('q.embedding', 'e.embedding')} AS sim
  FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
cand AS (
  SELECT query_id, vec_id, ev, sim FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rn
    FROM scored0 WHERE sim IS NOT NULL
  ) WHERE rn <= {_MMR_CAND}
),
pair AS (
  SELECT a.query_id, a.vec_id AS va, b.vec_id AS vb,
         {_sql_cos('a.ev', 'b.ev')} AS psim
  FROM cand a JOIN cand b
    ON a.query_id = b.query_id AND a.vec_id != b.vec_id
),
s1 AS (
  SELECT query_id, vec_id, sim, (0.5 * sim - 0.5 * 0.0) AS mmr FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rn
    FROM cand
  ) WHERE rn = 1
),{",".join(steps)}
{unions}
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # REGISTRATION ORDER IS LOAD-BEARING: the driver's correctness gate
    # checks only the FIRST 50 entries. DRIVER_COVERAGE.md is the
    # cumulative ledger. The r09 window = the third session's 3 NEW
    # two-stage/diversity serving queries (bq_topk, matryoshka_topk,
    # mmr_topk — zero driver evidence until now), this round's 2 NEW
    # graph-lifecycle queries (nsw_chained_topk — the multi-batch
    # chained persisted insert, and nsw_tombstoned_topk — the graph
    # delete/tombstone serve),
    # then the committed r09 queue from DRIVER_COVERAGE.md verbatim:
    # pagerank_knn and user_first_events (displaced r04-green names),
    # nsw_search_stream (registered last round, first driver row now),
    # and the 31-name r04-cohort remainder — after which every
    # registered query's newest green is >= r05. The final 14 slots
    # re-gate the code paths r09 touched: the NSW insert/append/
    # persisted/beam family (collision guard, chain refactor, ensure
    # locks), the ensure_*-locked persisted stores (IVF/BM25/groups/
    # signatures), the dedup build's signature-store warm start
    # (incremental_dedup + its stream + minhash_lsh_pairs +
    # exact_dedup + ngram_jaccard_pairs), and the _drain scaffold's
    # graph-fp sidecar pin (ivf_search_stream; nsw_search_stream is in
    # the queue slots above).
    return {
        "bq_topk": q_bq_topk,
        "bq_persisted_topk": q_bq_persisted_topk,
        "bq_maintained_topk": q_bq_maintained_topk,
        "matryoshka_topk": q_matryoshka_topk,
        "matryoshka_topk_384d": q_matryoshka_topk_384d,
        "mmr_topk": q_mmr_topk,
        "nsw_chained_topk": q_nsw_chained_topk,
        "nsw_tombstoned_topk": q_nsw_tombstoned_topk,
        "pagerank_knn": q_pagerank_knn,
        "user_first_events": q_user_first_events,
        "nsw_search_stream": q_nsw_search_stream,
        "bucketed_revenue": q_bucketed_revenue,
        "customer_distribution": q_customer_distribution,
        "dim_stats": q_dim_stats,
        "discount_revenue": q_discount_revenue,
        "disjunctive_revenue": q_disjunctive_revenue,
        "embedding_outliers": q_embedding_outliers,
        "excess_parts_suppliers": q_excess_parts_suppliers,
        "important_parts": q_important_parts,
        "integrity_report": q_integrity_report,
        "ivf_cell_stats": q_ivf_cell_stats,
        "large_orders": q_large_orders,
        "lm_doc_scores": q_lm_doc_scores,
        "min_cost_supplier": q_min_cost_supplier,
        "pack_sequences": q_pack_sequences,
        "passage_topk": q_passage_topk,
        "product_profit": q_product_profit,
        "promo_revenue": q_promo_revenue,
        "rerank_topk": q_rerank_topk,
        "returned_revenue": q_returned_revenue,
        "rp_projection": q_rp_projection,
        "scene_changes": q_scene_changes,
        "small_qty_revenue": q_small_qty_revenue,
        "source_mixture": q_source_mixture,
        "split_summary": q_split_summary,
        "supplier_part_counts": q_supplier_part_counts,
        "tfidf_keywords": q_tfidf_keywords,
        "top_supplier": q_top_supplier,
        "user_state_history": q_user_state_history,
        "volume_shipping": q_volume_shipping,
        "waiting_suppliers": q_waiting_suppliers,
        "weighted_sample": q_weighted_sample,
        "hnsw_topk": q_hnsw_topk,
        "hnsw_persisted_topk": q_hnsw_persisted_topk,
        "nsw_filtered_topk": q_nsw_filtered_topk,
        "hnsw_tombstoned_topk": q_hnsw_tombstoned_topk,
        "hnsw_insert_topk": q_hnsw_insert_topk,
        "hnsw_search_stream": q_hnsw_search_stream,
        "ivf_persisted_topk": q_ivf_persisted_topk,
        "incremental_dedup_stream": q_incremental_dedup_stream,
        # ---- window boundary (slot 50 above). Displaced by the 6 new
        # two-stage/diversity/maintenance queries, each with a named
        # in-window representative of the same r09-touched path:
        # nsw_beam_topk (entries= seam — exercised by hnsw_topk's
        # layered descent), nsw_insert_topk (insert-link computation
        # incl. the collision guard — exercised by nsw_chained_topk's
        # per-batch nsw_insert_edges calls), nsw_persisted_topk (flat
        # broadcast-kernel serve — exercised by nsw_filtered_topk's
        # broadcast mode and hnsw_persisted_topk's layered broadcast),
        # dedup_groups_persisted (index_common flock/fingerprint —
        # exercised by ivf_persisted_topk and bq_persisted_topk),
        # ivf_search_stream (_drain graph-fp sidecar pin — exercised
        # by nsw_search_stream), nsw_appended_topk (single-batch
        # append — a strict subset of nsw_chained_topk's multi-batch
        # chain). All six head the r10 queue. ----
        "nsw_beam_topk": q_nsw_beam_topk,
        "nsw_insert_topk": q_nsw_insert_topk,
        "nsw_persisted_topk": q_nsw_persisted_topk,
        "nsw_appended_topk": q_nsw_appended_topk,
        "dedup_groups_persisted": q_dedup_groups_persisted,
        "ivf_search_stream": q_ivf_search_stream,
        "dedup_signatures_persisted": q_dedup_signatures_persisted,
        "bm25_persisted_topk": q_bm25_persisted_topk,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "exact_dedup": q_exact_dedup,
        "incremental_dedup": q_incremental_dedup,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "auto_ann_topk_clustered": q_auto_ann_topk_clustered,
        "simhash_buckets": q_simhash_buckets,
        "judge_scores": q_judge_scores,
        "kmv_distinct": q_kmv_distinct,
        "latency_percentiles_long": q_latency_percentiles_long,
        "order_priority": q_order_priority,
        "parts_cube": q_parts_cube,
        "pipeline_report": q_pipeline_report,
        "priority_shipping": q_priority_shipping,
        "props_map_stats": q_props_map_stats,
        "props_stats": q_props_stats,
        "revenue_momentum": q_revenue_momentum,
        "sales_rollup": q_sales_rollup,
        "session_windows": q_session_windows,
        "stratified_sample": q_stratified_sample,
        "top_customers": q_top_customers,
        "user_sessions": q_user_sessions,
        "user_sessions_stream": q_user_sessions_stream,
        "lsh_capped_pairs": q_lsh_capped_pairs,
        "simhash_pairs": q_simhash_pairs,
        "dedup_clusters": q_dedup_clusters,
        "clean_corpus": q_clean_corpus,
        "best_survivors": q_best_survivors,
        "dedup_threshold_sweep": q_dedup_threshold_sweep,
        "dedup_quality_report": q_dedup_quality_report,
        "lsh_tuning_report": q_lsh_tuning_report,
        "edit_distance_neardup": q_edit_distance_neardup,
        "chunk_dedup": q_chunk_dedup,
        "cross_source_dups": q_cross_source_dups,
        "dup_ratio_by_source": q_dup_ratio_by_source,
        "auto_ann_dispatch": q_auto_ann_dispatch,
        "auto_ann_topk": q_auto_ann_topk,
        "auto_search": q_auto_search,
        "ivf_topk": q_ivf_topk,
        "ann_tuning_report": q_ann_tuning_report,
        "ivf_upsert_topk": q_ivf_upsert_topk,
        "ndcg_at_k": q_ndcg_at_k,
        "events_dedup_stream": q_events_dedup_stream,
        "funnel": q_funnel,
        "funnel_by_segment": q_funnel_by_segment,
        "hourly_anomalies": q_hourly_anomalies,
        "latency_percentiles_by_type": q_latency_percentiles_by_type,
        "recall_per_query": q_recall_per_query,
        "salted_event_stats": q_salted_event_stats,
        "above_average_customers": q_above_average_customers,
        "asof_purchase_view": q_asof_purchase_view,
        "bm25_pruned_topk": q_bm25_pruned_topk,
        "bm25_topk": q_bm25_topk,
        "clicks_before_error": q_clicks_before_error,
        "clicks_before_error_stream": q_clicks_before_error_stream,
        "cms_user_counts": q_cms_user_counts,
        "doc_length_histogram": q_doc_length_histogram,
        "dormant_customers": q_dormant_customers,
        "embed_documents": q_embed_documents,
        "embedding_norm_stats": q_embedding_norm_stats,
        "event_transitions": q_event_transitions,
        "events_enriched": q_events_enriched,
        "events_enriched_stream": q_events_enriched_stream,
        "events_pivot": q_events_pivot,
        "events_sliding": q_events_sliding,
        "events_sliding_stream": q_events_sliding_stream,
        "forecast_revenue": q_forecast_revenue,
        "fresh_fingerprints": q_fresh_fingerprints,
        "hourly_seasonality": q_hourly_seasonality,
        "hybrid_topk": q_hybrid_topk,
        "image_features": q_image_features,
        "embedding_neardup": q_embedding_neardup,
        "topk_cosine_exact": q_topk_cosine_exact,
        "cosine_pairs": q_cosine_pairs,
        "pq_topk": q_pq_topk,
        "sq8_topk": q_sq8_topk,
        "upsert_latest": q_upsert_latest,
        "hash_sample": q_hash_sample,
        "doc_stats": q_doc_stats,
        "quality_deciles": q_quality_deciles,
        "bigram_lm": q_bigram_lm,
        "knn_graph_stats": q_knn_graph_stats,
        "repetition_stats": q_repetition_stats,
        "redact_pii": q_redact_pii,
        "heavy_hitters": q_heavy_hitters,
        "token_counts": q_token_counts,
        "label_centroids": q_label_centroids,
        "chunk_documents": q_chunk_documents,
        "contamination": q_contamination,
        "balanced_sample": q_balanced_sample,
        "sequential_ids": q_sequential_ids,
        "template_queries": q_template_queries,
        "clean_query_lines": q_clean_query_lines,
        "blob_metadata": q_blob_metadata,
        "audio_features": q_audio_features,
        "frame_samples": q_frame_samples,
        "pricing_summary": q_pricing_summary,
        "revenue_by_nation": q_revenue_by_nation,
        "shipping_priority": q_shipping_priority,
        "market_share": q_market_share,
        "latency_percentiles": q_latency_percentiles,
        "latency_summary": q_latency_summary,
        "recall_at_k": q_recall_at_k,
        "cumulative_users": q_cumulative_users,
        "search_latency": q_search_latency,
        "search_latency_wallclock": q_search_latency_wallclock,
        "topk_cosine_384d": q_topk_cosine_384d,
        "embedding_neardup_ivf": q_embedding_neardup_ivf,
        "jsonl_ingest_stream": q_jsonl_ingest_stream,
        "partitioned_events": q_partitioned_events,
        "clean_markup": q_clean_markup,
        "curation_batches": q_curation_batches,
        "csv_ingest_checked": q_csv_ingest_checked,
        "zordered_events": q_zordered_events,
        "bpe_pair_counts": q_bpe_pair_counts,
        "dsir_weights": q_dsir_weights,
        "corpus_null_audit": q_corpus_null_audit,
        "gopher_quality": q_gopher_quality,
        "dup_span_stats": q_dup_span_stats,
        "shard_manifest": q_shard_manifest,
        "orc_ingest": q_orc_ingest,
        "semdedup_survivors": q_semdedup_survivors,
        "dup_span_removal": q_dup_span_removal,
        "knn_label_classifier": q_knn_label_classifier,
        "bpe_train_merges": q_bpe_train_merges,
        "bpe_encode_tokens": q_bpe_encode_tokens,
        "temperature_resample": q_temperature_resample,
        "bloom_cross_dups": q_bloom_cross_dups,
        "snapshot_diff": q_snapshot_diff,
        "mrr_at_k": q_mrr_at_k,
        "mixture_epoch_plan": q_mixture_epoch_plan,
        "source_kl_divergence": q_source_kl_divergence,
        "ivf_kmeans_topk": q_ivf_kmeans_topk,
        "brp_lsh_pairs": q_brp_lsh_pairs,
        "csv_ingest": q_csv_ingest,
        "jsonl_ingest": q_jsonl_ingest,
        "filtered_topk": q_filtered_topk,
        "srp_lsh_topk": q_srp_lsh_topk,
        "ivfpq_topk": q_ivfpq_topk,
        "retention_cohorts": q_retention_cohorts,
        "rolling_events": q_rolling_events,
        "gap_fill_hourly": q_gap_fill_hourly,
        "events_hourly": q_events_hourly,
        "events_hourly_stream": q_events_hourly_stream,
        "latency_percentiles_approx": q_latency_percentiles_approx,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "bq_topk": _ORACLE_BQ_TOPK,
        "bq_persisted_topk": _ORACLE_BQ_TOPK,
        "bq_maintained_topk": _ORACLE_BQ_MAINTAINED,
        "matryoshka_topk": _ORACLE_MATRYOSHKA_TOPK,
        "matryoshka_topk_384d": _ORACLE_MATRYOSHKA_384D,
        "mmr_topk": _oracle_mmr_topk(),
        "auto_ann_dispatch": _ORACLE_AUTO_DISPATCH,
        "dedup_groups_persisted": _ORACLE_DEDUP_GROUPS,
        "auto_ann_topk": _oracle_auto_ann_topk(),
        "auto_ann_topk_clustered": _oracle_auto_ann_clustered(),
        "topk_cosine_exact": _ORACLE_TOPK,
        "auto_search": _ORACLE_TOPK,
        "embedding_neardup_ivf": _oracle_neardup_ivf(),
        "lsh_tuning_report": _oracle_lsh_tuning(),
        "partitioned_events": _ORACLE_PARTITIONED_EVENTS,
        "zordered_events": _ORACLE_ZORDERED_EVENTS,
        "bpe_pair_counts": _ORACLE_BPE,
        "dsir_weights": _ORACLE_DSIR,
        "corpus_null_audit": _oracle_null_audit(),
        "gopher_quality": _ORACLE_GOPHER,
        "dup_span_stats": _ORACLE_DUP_SPAN,
        "shard_manifest": _ORACLE_SHARD_MANIFEST,
        "edit_distance_neardup": _oracle_edit_distance(),
        "orc_ingest": _ORACLE_ORC_INGEST,
        "nsw_beam_topk": _oracle_nsw_beam(),
        "nsw_persisted_topk": _oracle_nsw_beam(),
        "hnsw_topk": _oracle_hnsw(),
        "hnsw_persisted_topk": _oracle_hnsw(),
        "hnsw_tombstoned_topk": _oracle_hnsw(tomb=True),
        "hnsw_insert_topk": _oracle_hnsw_insert(),
        "hnsw_search_stream": _oracle_hnsw(),
        "nsw_filtered_topk": _oracle_nsw_filtered(),
        "semdedup_survivors": _oracle_semdedup(),
        "dup_span_removal": _ORACLE_DUP_SPAN_REMOVAL,
        "knn_label_classifier": _ORACLE_KNN_VOTE,
        "bpe_train_merges": _oracle_bpe_merges(),
        "bpe_encode_tokens": _oracle_bpe_encode(),
        "temperature_resample": _ORACLE_TEMPERATURE_RESAMPLE,
        "bloom_cross_dups": _ORACLE_BLOOM_CROSS_DUPS,
        "snapshot_diff": _ORACLE_SNAPSHOT_DIFF,
        "mrr_at_k": _ORACLE_MRR,
        "mixture_epoch_plan": _ORACLE_EPOCH_PLAN,
        "source_kl_divergence": _ORACLE_SOURCE_KL,
        "clean_markup": _ORACLE_CLEAN_MARKUP,
        "curation_batches": _oracle_curation_batches(),
        "csv_ingest_checked": _ORACLE_CSV_CHECKED,
        "cosine_pairs": _ORACLE_PAIRS,
        "latency_percentiles": _ORACLE_PCT,
        "latency_percentiles_by_type": _ORACLE_PCT_TYPE,
        "latency_summary": _ORACLE_SUMMARY,
        "recall_at_k": _ORACLE_RECALL,
        "recall_per_query": _ORACLE_RECALL_PQ,
        "ndcg_at_k": _ORACLE_NDCG,
        "exact_dedup": _ORACLE_DEDUP,
        "ngram_jaccard_pairs": _ORACLE_JACCARD,
        "minhash_lsh_pairs": _oracle_minhash(),
        "dedup_signatures_persisted": _oracle_minhash(),
        "lsh_capped_pairs": _oracle_lsh_capped(),
        "cross_source_dups": _oracle_cross_source(),
        "simhash_buckets": _ORACLE_SIMHASH,
        "simhash_pairs": _ORACLE_SIMHASH_PAIRS,
        "pq_topk": _ORACLE_PQ,
        "embedding_neardup": _ORACLE_NEARDUP,
        "upsert_latest": _ORACLE_UPSERT,
        "hash_sample": _ORACLE_SAMPLE,
        "doc_stats": _ORACLE_DOC_STATS,
        "quality_deciles": _ORACLE_QUALITY_DECILES,
        "bigram_lm": _ORACLE_BIGRAM_LM,
        "knn_graph_stats": _ORACLE_KNN_GRAPH,
        "repetition_stats": _ORACLE_REPETITION,
        "redact_pii": _ORACLE_REDACT,
        "heavy_hitters": _ORACLE_HITTERS,
        "gap_fill_hourly": _ORACLE_GAP_FILL,
        "sq8_topk": _ORACLE_SQ8,
        "token_counts": _ORACLE_TOKEN_COUNTS,
        "rolling_events": _ORACLE_ROLLING,
        "label_centroids": _ORACLE_CENTROIDS,
        "events_dedup_stream": _ORACLE_DEDUP_STREAM,
        "funnel": _ORACLE_FUNNEL,
        "funnel_by_segment": _ORACLE_FUNNEL_SEG,
        "hourly_anomalies": _ORACLE_ANOMALIES,
        "chunk_documents": _ORACLE_CHUNKS,
        "contamination": _ORACLE_CONTAMINATION,
        "balanced_sample": _ORACLE_BALANCED,
        "sequential_ids": _ORACLE_SEQ_ID,
        "embed_documents": _ORACLE_EMBED,
        "template_queries": _ORACLE_TEMPLATE_Q,
        "clean_query_lines": _ORACLE_CLEAN_Q,
        "blob_metadata": _ORACLE_BLOB,
        "image_features": _ORACLE_IMAGE,
        "audio_features": _ORACLE_AUDIO,
        "frame_samples": _ORACLE_FRAMES,
        "salted_event_stats": _ORACLE_SALTED,
        "pricing_summary": _ORACLE_PRICING,
        "revenue_by_nation": _ORACLE_REVENUE,
        "shipping_priority": _ORACLE_SHIPPING,
        "market_share": _ORACLE_MARKET_SHARE,
        "order_priority": _ORACLE_ORDER_PRIORITY,
        "dormant_customers": _ORACLE_DORMANT,
        "sales_rollup": _ORACLE_ROLLUP,
        "bm25_topk": _ORACLE_BM25,
        "bm25_pruned_topk": _ORACLE_BM25_PRUNED,
        "hybrid_topk": _oracle_hybrid(),
        "top_customers": _ORACLE_TOP_CUST,
        "events_hourly": _ORACLE_EVENTS_HOURLY,
        "user_sessions": _ORACLE_SESSIONS,
        "session_windows": _ORACLE_SESSION_WINDOWS,
        "forecast_revenue": _ORACLE_FORECAST,
        "revenue_momentum": _ORACLE_MOMENTUM,
        "priority_shipping": _ORACLE_PRIORITY_SHIP,
        "pipeline_report": _ORACLE_PIPELINE,
        "ivf_topk": _ORACLE_IVF,
        "ivf_persisted_topk": _ORACLE_IVF,
        "ivf_search_stream": _ORACLE_IVF,
        "bm25_persisted_topk": _ORACLE_BM25,
        "integrity_report": _ORACLE_INTEGRITY,
        "events_hourly_stream": _ORACLE_EVENTS_HOURLY,
        "events_sliding": _ORACLE_EVENTS_SLIDING,
        "events_sliding_stream": _ORACLE_EVENTS_SLIDING,
        "events_enriched": _ORACLE_EVENTS_ENRICHED,
        "events_enriched_stream": _ORACLE_EVENTS_ENRICHED,
        "props_stats": _ORACLE_PROPS,
        "props_map_stats": _ORACLE_PROPS_MAP,
        "retention_cohorts": _ORACLE_RETENTION,
        "dup_ratio_by_source": _ORACLE_DUP_RATIO,
        "hourly_seasonality": _ORACLE_SEASONALITY,
        "event_transitions": _ORACLE_TRANSITIONS,
        "latency_percentiles_long": _ORACLE_PCT_LONG,
        "user_first_events": _ORACLE_FIRST_EVENTS,
        "doc_length_histogram": _ORACLE_DOC_HIST,
        "parts_cube": _ORACLE_PARTS_CUBE,
        "embedding_norm_stats": _ORACLE_NORM_STATS,
        "above_average_customers": _ORACLE_ABOVE_AVG,
        "events_pivot": _ORACLE_PIVOT,
        "fresh_fingerprints": _ORACLE_FRESH,
        "judge_scores": _ORACLE_JUDGE,
        "user_sessions_stream": _ORACLE_SESSIONS_STREAM,
        "asof_purchase_view": _ORACLE_ASOF,
        "dedup_clusters": _oracle_clusters(),
        "clean_corpus": _oracle_clean_corpus(),
        "stratified_sample": _ORACLE_STRATIFIED,
        "clicks_before_error": _ORACLE_CLICKS_BEFORE,
        "clicks_before_error_stream": _ORACLE_CLICKS_BEFORE_STREAM,
        "kmv_distinct": _ORACLE_KMV,
        "cms_user_counts": _ORACLE_CMS,
        "filtered_topk": _ORACLE_FILTERED_TOPK,
        "pack_sequences": _ORACLE_PACK,
        "lm_doc_scores": _ORACLE_LM_SCORES,
        "source_mixture": _ORACLE_MIXTURE,
        "large_orders": _ORACLE_LARGE_ORDERS,
        "returned_revenue": _ORACLE_RETURNED,
        "tfidf_keywords": _ORACLE_TFIDF,
        "user_state_history": _ORACLE_STATE_HISTORY,
        "rp_projection": _oracle_rp(),
        "split_summary": _ORACLE_SPLIT,
        "embedding_outliers": _oracle_outliers(),
        "best_survivors": _oracle_best_survivors(),
        "chunk_dedup": _ORACLE_CHUNK_DEDUP,
        "top_supplier": _ORACLE_TOP_SUPPLIER,
        "important_parts": _ORACLE_IMPORTANT_PARTS,
        "cumulative_users": _ORACLE_CUMULATIVE_USERS,
        "weighted_sample": _ORACLE_WEIGHTED_SAMPLE,
        "dim_stats": _ORACLE_DIM_STATS,
        "srp_lsh_topk": _oracle_srp(),
        "ivfpq_topk": _oracle_ivfpq(),
        "dedup_quality_report": _oracle_dedup_quality(),
        "passage_topk": _oracle_passage(),
        "min_cost_supplier": _ORACLE_MIN_COST,
        "volume_shipping": _ORACLE_VOLUME_SHIP,
        "product_profit": _ORACLE_PRODUCT_PROFIT,
        "customer_distribution": _ORACLE_CUST_DIST,
        "promo_revenue": _ORACLE_PROMO,
        "supplier_part_counts": _ORACLE_SUPP_PART,
        "small_qty_revenue": _ORACLE_SMALL_QTY,
        "disjunctive_revenue": _ORACLE_DISJUNCTIVE,
        "excess_parts_suppliers": _ORACLE_EXCESS_PARTS,
        "waiting_suppliers": _ORACLE_WAITING,
        "rerank_topk": _ORACLE_RERANK,
        "incremental_dedup": _oracle_incremental_dedup(),
        "incremental_dedup_stream": _oracle_incremental_dedup(),
        "discount_revenue": _ORACLE_DISCOUNT_REVENUE,
        "ann_tuning_report": _oracle_ann_tuning(),
        "pagerank_knn": _oracle_pagerank(),
        "scene_changes": _ORACLE_SCENES,
        "bucketed_revenue": _ORACLE_BUCKETED_REVENUE,
        "ivf_upsert_topk": _ORACLE_IVF_UPSERT,
        "dedup_threshold_sweep": _oracle_dedup_sweep(),
        "ivf_cell_stats": _ORACLE_IVF_CELLS,
        "brp_lsh_pairs": _oracle_brp(),
        "ivf_kmeans_topk": _oracle_ivf_kmeans(),
        "csv_ingest": _ORACLE_CSV_INGEST,
        "jsonl_ingest": _ORACLE_JSONL_INGEST,
        "jsonl_ingest_stream": _ORACLE_JSONL_INGEST,
        # r05 split: the serving kernel's deterministic result rows now
        # carry a full oracle; only the wall-clock companion stays
        # rows-only.
        "search_latency": _ORACLE_SEARCH_LATENCY,
        # r05: reference-dim (384-d) exact search through the HOF
        # kernel path (dim > UNROLL_MAX_DIM auto-switch).
        "topk_cosine_384d": _ORACLE_TOPK_384D,
        # Rows-only (no oracle_sql entry) by design:
        #   search_latency_wallclock  wall-clock latency column
        #   latency_percentiles_approx  engine-native approx sketch
        # (their value correctness is anchored by search-result match
        # vs exact top-k / exact-percentile twins in tests/).
        "nsw_insert_topk": _oracle_nsw_insert(),
        "nsw_appended_topk": _oracle_nsw_insert(),
        "nsw_chained_topk": _oracle_nsw_chain(),
        "nsw_tombstoned_topk": _oracle_nsw_tomb(),
        "nsw_search_stream": _oracle_nsw_beam(),
    }
