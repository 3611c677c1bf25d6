from .asof import asof_join
from .cluster import (
    connected_components,
    connected_components_star,
    dedup_clusters,
)
from .sampling import hash_sample, hash_split, hash_uniform
from .blacklist import cap_filter_with_warnings
from .dedup import (
    exact_dedup,
    md5_long,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    normalized_text,
    simhash_pairs,
    simhash_signatures,
    with_shingles,
)
from .joins import interval_join, reconcile
from .versioning import fingerprint_snapshot, snapshot_diff
from .multimodal import decode_media, documents_as_media, frame_sample
from .patterns import consecutive_events, followed_by, match_create_pay
from .sessionize import sessionize
from .skew import salted_join
from .similarity import (
    brute_force_topk,
    brute_force_topk_arrow,
    cosine_pairs_blocked,
    hyperplane_lsh_topk,
)
from .text import doc_fingerprints, language_id, text_stats
from .topn import top_n_per_window
from .uv import unique_visitors, unique_visitors_certified
from .windows import windowed_agg, windowed_count, windowed_global_count

__all__ = [
    "asof_join",
    "brute_force_topk",
    "brute_force_topk_arrow",
    "cap_filter_with_warnings",
    "connected_components",
    "connected_components_star",
    "dedup_clusters",
    "hash_sample",
    "hash_split",
    "hash_uniform",
    "consecutive_events",
    "cosine_pairs_blocked",
    "decode_media",
    "doc_fingerprints",
    "documents_as_media",
    "exact_dedup",
    "followed_by",
    "frame_sample",
    "hyperplane_lsh_topk",
    "interval_join",
    "language_id",
    "match_create_pay",
    "md5_long",
    "minhash_lsh_pairs",
    "minhash_signatures",
    "ngram_jaccard_pairs",
    "normalized_text",
    "reconcile",
    "salted_join",
    "sessionize",
    "snapshot_diff",
    "fingerprint_snapshot",
    "simhash_pairs",
    "simhash_signatures",
    "text_stats",
    "top_n_per_window",
    "unique_visitors",
    "unique_visitors_certified",
    "windowed_agg",
    "windowed_count",
    "windowed_global_count",
    "with_shingles",
]
