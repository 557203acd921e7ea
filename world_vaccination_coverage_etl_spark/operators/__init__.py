from .reshape import unpivot_measures
from .dedup import (
    exact_dedup,
    exact_dedup_pairs,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    embedding_cosine_dup_pairs,
    substring_dup_spans,
)
from .similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    knn_all_pairs_bruteforce,
)
from .text import (
    with_token_count,
    with_quality_score,
    with_language_id,
    with_fingerprint,
    word_frequencies,
)
from .multimodal import (
    attach_binary_metadata,
    decode_image_batch,
    extract_features,
)

__all__ = [
    "unpivot_measures",
    "exact_dedup",
    "exact_dedup_pairs",
    "minhash_near_dup_pairs",
    "ngram_jaccard_pairs",
    "embedding_cosine_dup_pairs",
    "substring_dup_spans",
    "cosine_topk_bruteforce",
    "cosine_topk_lsh",
    "knn_all_pairs_bruteforce",
    "with_token_count",
    "with_quality_score",
    "with_language_id",
    "with_fingerprint",
    "word_frequencies",
    "attach_binary_metadata",
    "decode_image_batch",
    "extract_features",
]
