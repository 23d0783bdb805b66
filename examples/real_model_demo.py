"""Optional REAL-MODEL demo — closes the loop to the reference's actual
runtime behavior (SentenceTransformer encode, /root/reference/src/
db.py:129-130; cross-encoder-style rescoring; Ollama judge,
/root/reference/src/queries.py:161-176) using the engine's pluggable
model hooks. NONE of this is in a verified path: the driver gate runs
deterministic stand-ins; this script exists so a user with the real
models installed can watch the identical plans run them.

Each stage is gated on its dependency and SKIPS CLEANLY when the model
library / service is absent (this container ships neither):

  stage 1  embed_text_model + search(): encode `documents` with
           sentence-transformers (one lazy model per worker via the
           closure cache) and run the auto-dispatch top-k search over
           the real embeddings.
  stage 2  rerank_with_model: rescore the top candidates with a
           cross-encoder if available.
  stage 3  llm_judge_scores against a local Ollama (reference's
           llama3.1 judge), if the daemon answers.

Run: python examples/real_model_demo.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def main() -> None:
    from pyspark.sql import functions as F

    from cs6300_vectordbs_spark import get_spark

    spark = get_spark(cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    # -- stage 1: real sentence-transformers embeddings ---------------
    try:
        import sentence_transformers  # noqa: F401
    except ImportError:
        print("SKIP stage 1-2: sentence-transformers not installed "
              "(pip install sentence-transformers to run the real "
              "encoder; the driver-verified paths use the deterministic "
              "hash embedder and do not need it)")
        return

    from cs6300_vectordbs_spark.functions.embed import embed_text_model
    from cs6300_vectordbs_spark.operators.search import search

    _model_cache: dict[str, object] = {}

    def encode(texts: list[str]) -> list[list[float]]:
        # Lazy per-worker singleton — the executor-side model-reuse
        # pattern (reference loads once per process, db.py:101).
        if "m" not in _model_cache:
            from sentence_transformers import SentenceTransformer

            _model_cache["m"] = SentenceTransformer(
                "sentence-transformers/all-MiniLM-L6-v2"
            )
        return [list(map(float, v)) for v in _model_cache["m"].encode(texts)]

    emb = embed_text_model(docs.limit(200), encode).select(
        F.col("doc_id").alias("vec_id"), "text", "embedding"
    ).cache()
    queries = emb.limit(5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("text").alias("query_text"),
    )
    hits = search(
        emb, queries.select("query_id", "query_vec"), 5,
        dim=384, exclude_self=True,
    )
    print("stage 1 (real MiniLM embeddings + auto search):")
    hits.show(10, truncate=60)

    # -- stage 2: cross-encoder rerank --------------------------------
    from cs6300_vectordbs_spark.operators.rerank import rerank_with_model

    def ce_score(qs: list[str], ds: list[str]) -> list[float]:
        if "ce" not in _model_cache:
            from sentence_transformers import CrossEncoder

            _model_cache["ce"] = CrossEncoder(
                "cross-encoder/ms-marco-MiniLM-L-6-v2"
            )
        return [float(s) for s in _model_cache["ce"].predict(list(zip(qs, ds)))]

    cand = (
        hits.join(queries.select("query_id", "query_text"), "query_id")
        .join(
            emb.select(F.col("vec_id"), F.col("text").alias("doc_text")),
            "vec_id",
        )
        .select("query_id", F.col("vec_id").alias("doc_id"),
                "query_text", "doc_text")
    )
    try:
        reranked = rerank_with_model(cand, ce_score, k=3)
        print("stage 2 (cross-encoder rerank):")
        reranked.show(10, truncate=60)
    except Exception as e:  # model download may be unavailable offline
        print(f"SKIP stage 2: cross-encoder unavailable ({e})")

    # -- stage 3: Ollama judge ----------------------------------------
    import urllib.request

    try:
        urllib.request.urlopen("http://localhost:11434/api/tags", timeout=2)
    except Exception:
        print("SKIP stage 3: no Ollama daemon on localhost:11434 "
              "(reference judge path; verified paths use the "
              "deterministic judge)")
        return

    from cs6300_vectordbs_spark.operators.judge import llm_judge_scores

    def ollama_judge(q: str, d: str) -> str:
        # judge_fn(query, doc) -> raw response text; score/explanation
        # parsing (with the 3.0 error fallback, reference queries.py:194)
        # happens engine-side in parse_judge_response.
        import json

        req = urllib.request.Request(
            "http://localhost:11434/api/generate",
            data=json.dumps({
                "model": "llama3.1",
                "prompt": (
                    "Rate 1-5 how relevant this document is to the "
                    f"query.\nQuery: {q}\nDocument: {d[:500]}\n"
                    "Reply with 'Score: <n>' and 'Explanation: ...'."
                ),
                "stream": False,
            }).encode(),
            headers={"Content-Type": "application/json"},
        )
        try:
            resp = json.load(urllib.request.urlopen(req, timeout=60))
            return resp.get("response", "")
        except Exception:
            return ""  # unparseable -> engine's 3.0 fallback

    judged = llm_judge_scores(
        cand, ollama_judge, query_col="query_text", doc_col="doc_text"
    )
    print("stage 3 (Ollama judge):")
    judged.show(10, truncate=60)


if __name__ == "__main__":
    main()
