"""The three workloads: inputs, set-up, one timed unit, output checks.

Each workload class has the same shape:

  ``__init__``   generate the seeded inputs as files (not timed);
  ``setup``      read the inputs and build what the workload serves
                 from (timed as part of ``setup_s``);
  ``unit``       one closed-loop unit of foreground work, every library
                 call timed through the tracer and every output checked;
  ``isolate``    traced runs only: time the layers that are lazy inside
                 another call's action alone, with a noop-sink action.

A unit returns a ``Unit``: the items it processed (queries, vectors or
documents), ``(op_name, wall_s, ok)`` for every timed call, and
``(op_name, hits, expected)`` for each approximate search against the
exact top-k.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

import gen

# The least recall@k one serve batch of an approximate search may have.
# When the benchmark was written, single batches gave 0.912-1.000 (IVF)
# and 0.938-1.000 (HNSW) over seeds 1-20, and rows drawn at random
# would give about 0.005; a batch below the floor means the call
# returned other rows, not the same rows faster.
ANN_RECALL_FLOOR = 0.8


@dataclass
class Unit:
    items: int
    ops: list
    recall: list


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Serve:
    """Read path: one persisted IVF index and one HNSW graph, built in
    set-up; each unit sends one batch of 16 unseen queries to each of
    the three search calls."""

    def __init__(self, cfg: dict, seed: int, work: str, k: int):
        self.cfg, self.k, self.work = cfg, k, work
        r = gen.rng(seed, 1)
        self.corpus = gen.clustered_corpus(
            r, cfg["n_vectors"], cfg["dim"], cfg["n_clusters"],
            cfg["cluster_spread"])
        ids = np.arange(len(self.corpus))
        gen.write_parquet(
            gen.vectors_table(ids, self.corpus, "vec_id", "embedding"),
            f"{work}/corpus", cfg["parquet_files"])
        self.batches = []
        for b in range(cfg["n_batches"]):
            q = gen.perturbed_queries(r, self.corpus, cfg["batch"],
                                      cfg["query_noise"])
            qids = 10_000_000 + b * cfg["batch"] + np.arange(cfg["batch"])
            path = f"{work}/queries/b{b:04d}"
            gen.write_parquet(gen.vectors_table(qids, q, "query_id", "query_vec"),
                              path, 1)
            truth_ids, truth_sims = gen.exact_topk(self.corpus, q, k)
            self.batches.append((path, qids, q, truth_ids, truth_sims))
        self.next_batch = 0

    def setup(self, spark, tracer):
        from cs6300_vectordbs_spark.sources.hnsw_index import ensure_hnsw_graph
        from cs6300_vectordbs_spark.sources.vector_index import ensure_ivf_index

        dim = self.cfg["dim"]
        self.spark = spark
        self.corpus_df = spark.read.parquet(f"{self.work}/corpus")
        self.ivf = f"{self.work}/ivf"
        self.hnsw = f"{self.work}/hnsw"
        tracer.call("sources.vector_index.ensure_ivf_index",
                    lambda: ensure_ivf_index(spark, self.corpus_df, self.ivf,
                                             dim=dim))
        self.graph, _ = tracer.call(
            "sources.hnsw_index.ensure_hnsw_graph",
            lambda: ensure_hnsw_graph(spark, self.corpus_df, self.hnsw))

    def space(self) -> float:
        return ((dir_bytes(self.ivf) + dir_bytes(self.hnsw))
                / self.corpus.nbytes)

    def isolate(self, tracer) -> None:
        """Every serve call ends in its own collect: nothing is lazy."""

    def unit(self, tracer) -> Unit:
        from cs6300_vectordbs_spark.operators.hnsw import hnsw_search
        from cs6300_vectordbs_spark.operators.search import search
        from cs6300_vectordbs_spark.sources.vector_index import search_ivf_index

        spark, dim, k = self.spark, self.cfg["dim"], self.k
        edges0, layer_edges, levels = self.graph
        calls = [
            ("operators.search.search", "vec_id", True,
             lambda q: search(self.corpus_df, q, k, dim=dim)),
            ("sources.vector_index.search_ivf_index", "id", False,
             lambda q: search_ivf_index(spark, self.ivf, q, k, dim=dim)),
            ("operators.hnsw.hnsw_search", "vec_id", False,
             lambda q: hnsw_search(self.corpus_df, q, k, edges0=edges0,
                                   layer_edges=layer_edges, levels=levels)),
        ]
        ops, recall = [], []
        for name, id_col, exact, fn in calls:
            path, qids, q, truth_ids, truth_sims = self.batches[
                self.next_batch % len(self.batches)]
            self.next_batch += 1
            qdf = spark.read.parquet(path)
            rows, wall = tracer.call(name, lambda: fn(qdf).collect(),
                                     result_rows=len)
            ok, hits = self._check(rows, id_col, qids, q, truth_ids,
                                   truth_sims, exact)
            if not exact:
                total = len(qids) * k
                ok &= hits >= ANN_RECALL_FLOOR * total
                recall.append((name, hits, total))
            ops.append((name, wall, ok))
        return Unit(items=3 * self.cfg["batch"], ops=ops, recall=recall)

    def _check(self, rows, id_col, qids, q, truth_ids, truth_sims, exact):
        """Exact search must equal the numpy top-k (ids exact, sims to
        1e-9). Approximate searches must return k distinct ids per query,
        ranked 1..k, whose sims are the true cosines; their overlap with
        the exact top-k (``hits``) must reach ``ANN_RECALL_FLOOR`` of the
        batch, which the caller checks."""
        k = self.k
        got: dict[int, list] = {}
        for row in rows:
            got.setdefault(row["query_id"], []).append(
                (row["rank"], row[id_col], row["sim"]))
        ok = set(got) == set(qids.tolist())
        hits = 0
        for i, qid in enumerate(qids.tolist()):
            res = sorted(got.get(qid, []))
            ids = [r[1] for r in res]
            sims = np.array([r[2] for r in res])
            if [r[0] for r in res] != list(range(1, k + 1)) or len(set(ids)) != k:
                ok = False
                continue
            if exact:
                ok &= ids == truth_ids[i].tolist()
                ok &= bool(np.all(np.abs(sims - truth_sims[i]) <= 1e-9))
            else:
                c = self.corpus[ids].astype(np.float64)
                qq = q[i].astype(np.float64)
                true = c @ qq / (np.linalg.norm(c, axis=1) * np.linalg.norm(qq))
                ok &= bool(np.all(np.abs(sims - true) <= 1e-9))
            hits += len(set(ids) & set(truth_ids[i].tolist()))
        return ok, hits


class Upsert:
    """Writes beside reads on one stored IVF index: each write batch is
    a JSONL file of new and changed documents, parsed, embedded and
    appended as a new generation; a read-your-writes search follows each
    batch, and a compaction follows every ``compact_every`` batches."""

    def __init__(self, cfg: dict, seed: int, work: str, k: int):
        self.cfg, self.k, self.work = cfg, k, work
        r = gen.rng(seed, 2)
        vocab = gen.vocabulary(r, cfg["vocab"])
        dim = cfg["dim"]

        def text(doc_id: int, version: int) -> str:
            words = gen.random_text(r, vocab, cfg["min_words"], cfg["max_words"])
            return " ".join([f"doc{doc_id}", f"v{version}", *words])

        n = cfg["n_docs"]
        base = [text(i, 0) for i in range(n)]
        gen.write_parquet(
            pa.table({"doc_id": pa.array(np.arange(n), type=pa.int64()),
                      "text": base}),
            f"{work}/base", cfg["parquet_files"])
        self.live = {i: gen.hash_embed(t, dim) for i, t in enumerate(base)}
        # Batches are generated up front; the expected live set after
        # batch g is the base plus every batch up to g.
        self.batches = []
        next_id, version = n, 1
        n_new = int(cfg["batch_lines"] * cfg["new_frac"])
        n_changed = cfg["batch_lines"] - n_new
        live_ids = list(range(n))
        for g in range(1, cfg["n_batches"] + 1):
            changed = r.choice(live_ids, n_changed, replace=False).tolist()
            new = list(range(next_id, next_id + n_new))
            next_id += n_new
            rows = [{"doc_id": i, "text": text(i, version)} for i in changed + new]
            version += 1
            path = f"{work}/batches/b{g:04d}.jsonl"
            gen.write_jsonl(rows, path)
            probe_ids = r.choice(changed + new, cfg["probe"], replace=False)
            vecs = {row["doc_id"]: gen.hash_embed(row["text"], dim) for row in rows}
            probe_vecs = np.stack([vecs[i] for i in probe_ids])
            probe_path = f"{work}/probes/b{g:04d}"
            gen.write_parquet(gen.vectors_table(probe_ids, probe_vecs,
                                                "query_id", "query_vec"),
                              probe_path, 1)
            live_ids += new
            self.batches.append((path, vecs, probe_path, probe_ids, probe_vecs))
        self.next_batch = 0

    def setup(self, spark, tracer):
        from cs6300_vectordbs_spark.functions.embed import embed_documents
        from cs6300_vectordbs_spark.sources.vector_index import build_ivf_index

        self.spark = spark
        self.index = f"{self.work}/ivf"
        docs = spark.read.parquet(f"{self.work}/base")
        emb = embed_documents(docs, dim=self.cfg["dim"])
        tracer.call("sources.vector_index.build_ivf_index",
                    lambda: build_ivf_index(emb, self.index, dim=self.cfg["dim"],
                                            corpus_id="doc_id"))

    def space(self) -> float:
        return dir_bytes(self.index) / (len(self.live) * self.cfg["dim"] * 4)

    def unit(self, tracer) -> Unit:
        from cs6300_vectordbs_spark.functions.embed import embed_documents
        from cs6300_vectordbs_spark.sources.ingest import load_corpus_jsonl
        from cs6300_vectordbs_spark.sources.vector_index import (
            compact_ivf_index,
            search_ivf_index,
            upsert_ivf_index,
        )

        spark, dim, k = self.spark, self.cfg["dim"], self.k
        ops, recall, written = [], [], 0
        for _ in range(self.cfg["compact_every"]):
            if self.next_batch == len(self.batches):
                break
            path, vecs, probe_path, probe_ids, probe_vecs = self.batches[
                self.next_batch]
            self.next_batch += 1
            gen_no = self.next_batch

            def write():
                good, _bad = load_corpus_jsonl(
                    spark, path, schema="doc_id bigint, text string")
                emb = embed_documents(good, dim=dim)
                upsert_ivf_index(spark, emb, self.index, dim=dim, gen=gen_no,
                                 corpus_id="doc_id")

            _, wall = tracer.call("sources.vector_index.upsert_ivf_index", write)
            ops.append(("sources.vector_index.upsert_ivf_index", wall, True))
            written += len(vecs)
            self.live.update(vecs)
            qdf = spark.read.parquet(probe_path)
            rows, wall = tracer.call(
                "sources.vector_index.search_ivf_index",
                lambda: search_ivf_index(spark, self.index, qdf, k,
                                         dim=dim).collect(),
                result_rows=len)
            ok, hits = self._check_probe(rows, probe_ids, probe_vecs)
            ops.append(("sources.vector_index.search_ivf_index", wall, ok))
            recall.append(("sources.vector_index.search_ivf_index", hits,
                           len(probe_ids) * k))
        _, wall = tracer.call("sources.vector_index.compact_ivf_index",
                              lambda: compact_ivf_index(spark, self.index))
        ops.append(("sources.vector_index.compact_ivf_index", wall,
                    self._check_compacted()))
        return Unit(items=written, ops=ops, recall=recall)

    def _check_probe(self, rows, probe_ids, probe_vecs):
        """Every probe finds its own just-written vector at rank 1."""
        first = {r["query_id"]: r for r in rows if r["rank"] == 1}
        ok = all(first.get(i) is not None and first[i]["id"] == i
                 and abs(first[i]["sim"] - 1.0) <= 1e-9
                 for i in probe_ids.tolist())
        ids = np.array(list(self.live))
        mat = np.stack([self.live[i] for i in ids.tolist()])
        truth, _ = gen.exact_topk(mat, probe_vecs, self.k, ids=ids)
        got: dict[int, set] = {}
        for row in rows:
            got.setdefault(row["query_id"], set()).add(row["id"])
        hits = sum(len(got.get(q, set()) & set(t.tolist()))
                   for q, t in zip(probe_ids.tolist(), truth))
        return ok and len(rows) == len(probe_ids) * self.k, hits

    def _check_compacted(self) -> bool:
        """After a compaction there is exactly one row per live id."""
        ids = [r["id"] for r in
               self.spark.read.parquet(f"{self.index}/cells").select("id").collect()]
        return len(ids) == len(self.live) and set(ids) == set(self.live)

    def isolate(self, tracer) -> None:
        from cs6300_vectordbs_spark.functions.embed import embed_documents
        from cs6300_vectordbs_spark.sources.ingest import load_corpus_jsonl

        path = self.batches[max(self.next_batch - 1, 0)][0]
        good, _ = load_corpus_jsonl(self.spark, path,
                                    schema="doc_id bigint, text string")
        tracer.call("sources.ingest.load_corpus_jsonl[noop]",
                    lambda: _noop(good))
        tracer.call("functions.embed.embed_documents[noop]",
                    lambda: _noop(embed_documents(good, dim=self.cfg["dim"])))


class Pipeline:
    """Batch curate + eval: each pass reads a freshly generated corpus
    (sub-seeded per pass, so no session memo can serve a later pass),
    curates it (exact dedup, MinHash-LSH near-dup pairs, clusters) and
    runs the judged search pipeline over it."""

    def __init__(self, cfg: dict, seed: int, work: str, k: int):
        self.cfg, self.k, self.work, self.seed = cfg, k, work, seed
        self.vocab = gen.vocabulary(gen.rng(seed, 3), cfg["vocab"])
        self.next_pass = 0
        self._generate(0)

    def _generate(self, p: int) -> None:
        """Write pass ``p``'s corpus and its expected curate answers.

        Planted structure: ``exact_dup_frac`` of the docs are verbatim
        copies of distinct sources, ``near_dup_frac`` are copies of other
        distinct sources with one word replaced. Whether LSH banding finds
        a near-dup pair is decided by the pair's MinHash signatures, so
        the expected pairs are computed with the library's exact hash
        rule (gen.minhash_signature)."""
        cfg = self.cfg
        r = gen.rng(self.seed, 3, p + 1)
        n = cfg["n_docs"]
        n_exact = round(n * cfg["exact_dup_frac"])
        n_near = round(n * cfg["near_dup_frac"])
        n_base = n - n_exact - n_near
        texts = [gen.random_text(r, self.vocab, cfg["min_words"], cfg["max_words"])
                 for _ in range(n_base)]
        src = r.choice(n_base, n_exact + n_near, replace=False)
        copies = [list(texts[s]) for s in src]
        for c in copies[n_exact:]:
            pos = int(r.integers(0, len(c)))
            c[pos] = next(w for w in (self.vocab[i] for i in
                                      r.integers(0, len(self.vocab), 8))
                          if w != c[pos])
        texts = [" ".join(t) for t in texts + copies]
        ids = r.permutation(n)  # doc_id of texts[i]
        gen.write_parquet(
            pa.table({"doc_id": pa.array(ids, type=pa.int64()), "text": texts}),
            f"{self.work}/pass{p}", cfg["parquet_files"])

        groups: dict[str, list[int]] = {}
        for i, t in enumerate(texts):
            groups.setdefault(" ".join(t.lower().split()), []).append(int(ids[i]))
        dedup = {(min(g), len(g)) for g in groups.values()}
        pairs = [(int(ids[s]), int(ids[n_base + j])) for j, s in enumerate(src[:n_exact])]
        for j, s in enumerate(src[n_exact:]):
            a, b = texts[s], texts[n_base + n_exact + j]
            if gen.lsh_pair_found(gen.minhash_signature(a), gen.minhash_signature(b)):
                pairs.append((int(ids[s]), int(ids[n_base + n_exact + j])))
        clusters = set()
        for a, b in pairs:
            clusters |= {(a, min(a, b)), (b, min(a, b))}
        n_queries = int(np.sum(gen.hash_bucket(ids, 100) < cfg["query_pct"]))
        self.expected = (dedup, clusters, n_queries)

    def setup(self, spark, tracer):
        self.spark = spark
        self.docs = spark.read.parquet(f"{self.work}/pass{self.next_pass}")

    def space(self) -> None:
        return None

    def unit(self, tracer) -> Unit:
        from cs6300_vectordbs_spark.operators.dedup import (
            exact_dedup,
            minhash_lsh_pairs,
        )
        from cs6300_vectordbs_spark.operators.graph import dedup_clusters
        from cs6300_vectordbs_spark.operators.pipeline import (
            pipeline_report,
            search_pipeline,
        )

        if self.next_pass > 0:
            self.docs = self.spark.read.parquet(f"{self.work}/pass{self.next_pass}")
        docs = self.docs
        dedup, clusters, n_queries = self.expected
        ops = []

        rows, wall = tracer.call("operators.dedup.exact_dedup",
                                 lambda: exact_dedup(docs).collect(),
                                 result_rows=len)
        ops.append(("operators.dedup.exact_dedup", wall,
                    {(r["doc_id"], r["dup_count"]) for r in rows} == dedup))
        pairs, wall = tracer.call("operators.dedup.minhash_lsh_pairs",
                                  lambda: minhash_lsh_pairs(docs))
        ops.append(("operators.dedup.minhash_lsh_pairs", wall, True))
        rows, wall = tracer.call("operators.graph.dedup_clusters",
                                 lambda: dedup_clusters(pairs).collect(),
                                 result_rows=len)
        ops.append(("operators.graph.dedup_clusters", wall,
                    {(r["doc_id"], r["cluster_id"]) for r in rows} == clusters))

        results, wall = tracer.call(
            "operators.pipeline.search_pipeline",
            lambda: search_pipeline(docs, dim=self.cfg["dim"]))
        ops.append(("operators.pipeline.search_pipeline", wall, True))
        report, wall = tracer.call("operators.pipeline.pipeline_report",
                                   lambda: pipeline_report(results).collect(),
                                   result_rows=len)
        rep = report[0] if len(report) == 1 else None
        ops.append(("operators.pipeline.pipeline_report", wall,
                    rep is not None and rep["n_queries"] == n_queries
                    and rep["n_results"] == n_queries * self.k))

        self.next_pass += 1
        self._generate(self.next_pass)
        return Unit(items=self.cfg["n_docs"], ops=ops, recall=[])

    def isolate(self, tracer) -> None:
        from cs6300_vectordbs_spark.functions.embed import embed_documents
        from cs6300_vectordbs_spark.operators.dedup import minhash_lsh_pairs
        from cs6300_vectordbs_spark.operators.pipeline import search_pipeline

        docs = self.spark.read.parquet(f"{self.work}/pass{self.next_pass}")
        tracer.call("operators.dedup.minhash_lsh_pairs[noop]",
                    lambda: _noop(minhash_lsh_pairs(docs)))
        tracer.call("functions.embed.embed_documents[noop]",
                    lambda: _noop(embed_documents(docs, dim=self.cfg["dim"])))
        tracer.call("operators.pipeline.search_pipeline[noop]",
                    lambda: _noop(search_pipeline(docs, dim=self.cfg["dim"])))


WORKLOADS = {"serve": Serve, "upsert": Upsert, "pipeline": Pipeline}


def cleanup(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))  # only when no other run is using it
    except OSError:
        pass
