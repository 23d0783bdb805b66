from .similarity import similarity_topk, pairwise_similarity  # noqa: F401
# Not the search function: it would shadow its submodule,
# cs6300_vectordbs_spark.operators.search.
from .search import choose_strategy  # noqa: F401
from .metrics_ir import (  # noqa: F401
    latency_percentiles,
    latency_summary,
    recall_at_k,
    recall_at_k_per_query,
    ndcg_at_k,
)
from .judge import (  # noqa: F401
    clamp_score,
    is_relevant,
    parse_judge_response,
    sim_judge_score,
    label_judge,
    llm_judge_scores,
)
from .upsert import upsert_latest, idempotent_load_needed  # noqa: F401
from .sampling import hash_bucket, hash_sample, seeded_topn  # noqa: F401
from .dedup import (  # noqa: F401
    exact_dedup,
    word_shingles,
    ngram_jaccard_pairs,
    minhash_signature,
    minhash_lsh_pairs,
    simhash64,
    simhash_buckets,
)
from .ann import srp_lsh_topk, brp_lsh_pairs, ivf_topk  # noqa: F401
from .pipeline import search_pipeline, pipeline_report  # noqa: F401
from .multimodal import (  # noqa: F401
    blob_metadata,
    with_blob_metadata,
    decode_image_stub,
    decode_image_real,
    sample_frames,
)
