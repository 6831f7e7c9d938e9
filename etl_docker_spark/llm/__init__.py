"""Large-scale training-data operators (beyond-reference surface).

Deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding),
similarity search (brute-force + bucketed ANN), text analysis (lang-id,
quality, tokens, fingerprints), multimodal column plumbing.

Everything here is built from JVM-side built-in functions (higher-order
array fns, no Python UDFs) except the multimodal decoders, which are
Arrow-batched `mapInPandas` by necessity.
"""

from etl_docker_spark.llm.text import (
    lang_guess,
    poly_fingerprint,
    stopword_hits,
    token_count,
    tokens_of,
)
from etl_docker_spark.llm.dedup import (
    exact_dup_groups,
    minhash_lsh_pairs,
    shingles_of,
    simhash64,
    simhash_near_dup_pairs,
    simhash_table,
)
from etl_docker_spark.llm.similarity import (
    brute_force_knn,
    bucketed_near_dup_pairs,
    cosine_expr,
    dot_expr,
)

__all__ = [
    "brute_force_knn",
    "bucketed_near_dup_pairs",
    "cosine_expr",
    "dot_expr",
    "exact_dup_groups",
    "lang_guess",
    "minhash_lsh_pairs",
    "poly_fingerprint",
    "shingles_of",
    "simhash64",
    "simhash_near_dup_pairs",
    "simhash_table",
    "stopword_hits",
    "token_count",
    "tokens_of",
]
