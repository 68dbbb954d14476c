"""Beyond-reference operators: as-of/range joins, dedup, similarity search,
text analysis, multimodal plumbing, skew mitigation.

The reference has none of these (SURVEY.md §2.8) — they are the extension
surface a large-scale training-data pipeline needs, built Spark-first.
"""

from stupidb_spark.operators.asof import asof_join, range_join
from stupidb_spark.operators.components import connected_components
from stupidb_spark.operators.ivf import (
    build_ivf_index,
    ivf_index,
    ivf_probe,
    ivf_topk,
    ivf_rebalance,
    ivf_train,
    rebalance_ivf_index,
    load_ivf_index,
    save_ivf_index,
)
from stupidb_spark.operators.dedup import (
    DOC_BYTES_CAP,
    ScaleWarning,
    corpus_join_strategy,
    doc_shingles,
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
    simhash_radius_stats,
    spread_small_scan,
)
from stupidb_spark.operators.multimodal import (
    decode_audio,
    decode_image,
    extract_features,
    frame_sample,
    synthesize_media,
)
from stupidb_spark.operators.bloom import NumpyBloom, bloom_contamination
from stupidb_spark.operators.lm import (
    NgramLM,
    StupidBackoffLM,
    backoff_lm_apply,
    backoff_lm_score,
    backoff_lm_train,
    doc_ngrams,
    ngram_lm_apply,
    ngram_lm_score,
    ngram_lm_train,
)
from stupidb_spark.operators.heavyhitters import top_terms_approx
from stupidb_spark.operators.packing import pack_by_cumsum, pack_greedy
from stupidb_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
    lsh_topk,
)
from stupidb_spark.operators.skew import replicate_join, salted_aggregate, with_salt

__all__ = [
    "asof_join",
    "range_join",
    "connected_components",
    "ivf_topk",
    "ivf_train",
    "ivf_rebalance",
    "rebalance_ivf_index",
    "ivf_index",
    "ivf_probe",
    "build_ivf_index",
    "save_ivf_index",
    "load_ivf_index",
    "DOC_BYTES_CAP",
    "ScaleWarning",
    "corpus_join_strategy",
    "doc_ngrams",
    "NgramLM",
    "StupidBackoffLM",
    "ngram_lm_train",
    "ngram_lm_apply",
    "ngram_lm_score",
    "backoff_lm_train",
    "backoff_lm_apply",
    "backoff_lm_score",
    "doc_shingles",
    "exact_dedup",
    "jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "simhash_radius_stats",
    "spread_small_scan",
    "decode_audio",
    "decode_image",
    "extract_features",
    "frame_sample",
    "synthesize_media",
    "brute_force_topk",
    "embedding_near_dup_pairs",
    "lsh_topk",
    "NumpyBloom",
    "bloom_contamination",
    "top_terms_approx",
    "pack_by_cumsum",
    "pack_greedy",
    "replicate_join",
    "salted_aggregate",
    "with_salt",
]
