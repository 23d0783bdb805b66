"""Per-query latency capture — reference U3's ``QueryResult.latency_ms``.

The reference times each search client-side and stores the wall-clock
per query (/root/reference/src/chroma.py:96-102, ``latency_ms`` on
QueryResult) — the one reference output column that had no engine twin.
This operator reproduces that measurement shape in Spark: the QUERY
batch (small by contract — the same license every blocked kernel and
the PQ probe-table build rely on) is broadcast to the executors, and
the CORPUS streams through a mapInPandas serving kernel as distributed
shards — each shard answers and wall-clocks every query against its
slice, exactly like one node of a scatter-gather serving tier. A
per-query window then merges the shard-local top-k into the global
top-k and takes the per-query latency as the MAX shard time (the
straggler defines a scatter-gather query's latency).

Design note: per-query latency is a SERVING-side metric; the previous
revision modeled the reference's in-process index by collecting the
WHOLE corpus to the driver — a genuine scale-killer (the collect grows
with corpus size; flagged in the r03 review). This shard-parallel
form keeps the corpus distributed end-to-end: the only driver-side
data is the query batch, and the merge shuffles O(queries x k x
shards) candidate rows. Latencies are wall-clock and therefore
nondeterministic: a rows-only driver check by design; value tests
assert schema, positivity, and that the RESULT rows match the exact
batch search.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def search_with_latency(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    exclude_self: bool = False,
) -> DataFrame:
    """Top-k cosine search with per-query wall-clock capture, executed
    scatter-gather: every corpus shard times its local top-k per query,
    a window merges shards into the global top-k, and ``latency_ms`` is
    the max shard time per query. Returns one row per (query, rank):
    ``(query_id, latency_ms, rank, <corpus_id>, sim)`` — every rank row
    of a query carries that query's latency, so downstream percentile
    aggregation can run over ``WHERE rank = 1`` or deduplicate.
    """
    import numpy as np

    spark = corpus.sparkSession
    q_rows = queries.select(
        F.col(query_id).alias("id"), F.col(query_vec).alias("v")
    ).collect()
    q_ids = np.array([r.id for r in q_rows], dtype=np.int64)
    Q = np.array([r.v for r in q_rows], dtype=np.float64)
    q_norms = np.sqrt((Q * Q).sum(axis=1))
    bc = spark.sparkContext.broadcast((q_ids, Q, q_norms))

    def gen(batches):
        import time

        import pandas as pd

        q_ids_b, Q_b, qn_b = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["id"].to_numpy(dtype=np.int64)
            M = np.array(list(pdf["v"]), dtype=np.float64)
            norms = np.sqrt((M * M).sum(axis=1))
            out_qid, out_ms, out_id, out_sim = [], [], [], []
            for j in range(len(q_ids_b)):
                t0 = time.perf_counter()
                q = Q_b[j]
                denom = norms * qn_b[j]
                sims = np.where(
                    denom == 0.0, 0.0, (M @ q) / np.where(denom == 0.0, 1.0, denom)
                )
                order = np.lexsort((ids, -sims))
                if exclude_self:
                    order = order[ids[order] != q_ids_b[j]]
                top = order[:k]
                ms = (time.perf_counter() - t0) * 1000.0
                n = len(top)
                out_qid.extend([q_ids_b[j]] * n)
                out_ms.extend([ms] * n)
                out_id.extend(ids[top])
                out_sim.extend(sims[top])
            yield pd.DataFrame(
                {
                    "query_id": np.asarray(out_qid, dtype=np.int64),
                    "shard_ms": np.asarray(out_ms, dtype=np.float64),
                    "cid": np.asarray(out_id, dtype=np.int64),
                    "sim": np.asarray(out_sim, dtype=np.float64),
                }
            )

    shard_topk = corpus.select(
        F.col(corpus_id).alias("id"), F.col(corpus_vec).alias("v")
    ).mapInPandas(
        gen,
        schema="query_id bigint, shard_ms double, cid bigint, sim double",
    )
    # One shuffle on query_id serves both the global-top-k rank and the
    # max-shard-time latency (two window functions over the same
    # partitioning — no second exchange, no second kernel pass).
    from .similarity import _rank_topk

    timed = shard_topk.withColumn(
        "latency_ms", F.max("shard_ms").over(Window.partitionBy("query_id"))
    )
    return _rank_topk(
        timed, k, id_col="cid", carry=("latency_ms",)
    ).select(
        "query_id", "latency_ms", "rank", F.col("cid").alias(corpus_id), "sim"
    )
