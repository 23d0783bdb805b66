"""End-to-end benchmark pipeline — the Spark shape of the reference's
main lifecycle (/root/reference/src/chroma.py:48-155):

  ingest → id → embed → index → (generate queries) → top-k search →
  judge relevance → recall@k + nDCG@k + latency percentiles → report.

Every stage here is the deterministic, oracle-able variant: the
hash-projection embedder (functions/embed.py) stands in for
sentence-transformers, the template generator (functions/querygen.py)
for LLM query generation, and the similarity-threshold judge
(operators/judge.py) for the LLM judge. The pluggable real-model hooks
exist on each of those modules; swapping them in changes no plan shape.

Plan shape at scale: one corpus scan (embed is a map), the query side
is a small sampled batch (broadcast), the search is the exact top-k
(similarity_topk: one bounded load of the query batch, per-partition
local top-k, one merge window), and the metric aggregations run over
the tiny (queries x k) result table, materialized once so the report's
aggregate branches don't recompute the search.
The 100-TB cost is exactly one pass over the corpus plus a
O(queries*k*partitions) shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.embed import embed_text, DEFAULT_DIM
from ..functions.querygen import template_query
from .judge import sim_judge_score, is_relevant
from .metrics_ir import recall_at_k, ndcg_at_k
from .sampling import hash_bucket
from .similarity import similarity_topk


def search_pipeline(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    dim: int = DEFAULT_DIM,
    query_pct: int = 10,
    n_words: int = 5,
) -> DataFrame:
    """Full lifecycle over a raw text corpus; returns the flat judged
    results table (query_id, rank, doc_id, sim, dist, relevancy_score,
    is_relevant) — the engine twin of the reference's per-query
    SearchResult rows (/root/reference/src/queries.py:15-23).

    Queries are template-generated from a deterministic ~query_pct%
    hash-sample of the corpus (the reference samples 500 docs,
    /root/reference/src/queries.py:438 — unseeded there, seeded here).
    """
    from .util import spread

    # spread the raw docs BEFORE attaching the embed expression so the
    # per-row embedding work parallelizes even when the corpus arrives
    # as a single parquet split.
    docs = spread(docs)
    # NULL text has no embedding: the embed stage drops it (the same
    # quarantine contract as the index/serving boundaries; a pipeline
    # measures the drop with quality.null_audit).
    corpus = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        embed_text(text_col, dim).alias("embedding"),
    )
    queries = (
        docs.filter(hash_bucket(id_col, 100) < query_pct)
        .select(
            F.col(id_col).alias("query_id"),
            template_query(text_col, n_words).alias("query"),
        )
        .withColumn("query_vec", embed_text("query", dim))
    )
    hits = similarity_topk(
        corpus,
        queries,
        k,
        corpus_id="doc_id",
        corpus_vec="embedding",
        query_id="query_id",
        query_vec="query_vec",
        exclude_self=False,
    )
    # Recalibrated rubric: hash-projection embeddings put top-5 sims
    # roughly in [0.4, 0.9], so the 4.0 relevance bar maps to
    # sim >= 0.625 — high enough that queries get a MIX of relevant and
    # irrelevant hits, exercising both metric quirks (A4 exclusion, A5
    # zero-inclusion) instead of saturating at recall = 1.
    scored = hits.withColumn(
        "relevancy_score", sim_judge_score(F.col("sim"), scale=8.0, bias=-1.0)
    )
    return scored.withColumn("is_relevant", is_relevant(F.col("relevancy_score")))


def pipeline_report(results: DataFrame) -> DataFrame:
    """Run-level report row from judged results: the reference's final
    printout (/root/reference/src/chroma.py:113-133) as one DataFrame —
    avg recall@k (zero-relevant queries excluded, quirk A4), avg nDCG@k
    (zero-relevant included, quirk A5), and result counts."""
    # The judged-results table is tiny (queries x k rows) but sits on top
    # of the whole search pipeline; materialize it once so the three
    # aggregate branches below don't each recompute embed + search.
    results = results.localCheckpoint(eager=True)
    rec = recall_at_k(results).select(
        "avg_recall", F.col("n_queries_scored").alias("n_recall_queries")
    )
    ndcg = ndcg_at_k(results).select(
        "avg_ndcg", F.col("n_queries_scored").alias("n_ndcg_queries")
    )
    totals = results.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_results"),
    )
    return totals.crossJoin(rec).crossJoin(ndcg)
