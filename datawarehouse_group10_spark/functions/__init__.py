"""Large-scale training-data pipeline operators.

These go beyond the reference's own surface (BASELINE.json north star):
deduplication, similarity search, text analysis, multimodal plumbing —
each designed for 100 TB inputs (no driver-side loops, broadcast-able
dimensions, shuffle only on bucketed keys).
"""

from .text import (
    token_count,
    tokens,
    bpe_token_estimate,
    quality_features,
    language_id,
    doc_fingerprint,
)
from .dedup import (
    exact_dedup,
    minhash_lsh_dup_pairs,
    build_minhash_index,
    incremental_minhash_dup_pairs,
    ngram_jaccard_pairs,
)
from .similarity import (
    cosine_similarity_col,
    brute_force_topk,
    lsh_bucket_topk,
)
from .semistructured import json_fields

__all__ = [
    "token_count",
    "tokens",
    "bpe_token_estimate",
    "quality_features",
    "language_id",
    "doc_fingerprint",
    "exact_dedup",
    "minhash_lsh_dup_pairs",
    "build_minhash_index",
    "incremental_minhash_dup_pairs",
    "ngram_jaccard_pairs",
    "cosine_similarity_col",
    "brute_force_topk",
    "lsh_bucket_topk",
    "json_fields",
]
