"""Training-data-pipeline operators (SURVEY §2.11 north-star
extensions): deduplication, similarity search, text analysis,
multimodal columns. All designed 100-TB-first: linear passes, inverted
-index / LSH joins instead of N² cross joins, no driver-side loops.
"""

from gas_data_pipeline_spark.operators.dedup import (  # noqa: F401
    char_shingles,
    exact_dedup_ranked,
    jaccard_pairs_inverted_index,
    minhash_near_dup_pairs,
    simhash64,
    word_shingles,
)
from gas_data_pipeline_spark.operators.similarity import (  # noqa: F401
    cosine,
    cosine_near_dup_pairs,
    cosine_topk,
)
from gas_data_pipeline_spark.operators.text import (  # noqa: F401
    lang_id,
    quality_features,
    rolling_fingerprint,
    tokenize,
)
