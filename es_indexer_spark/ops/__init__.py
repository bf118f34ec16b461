"""Training-data pipeline operators over document/embedding tables.

Beyond the reference's own surface (SURVEY §2), these are the operations a
large-scale training-data pipeline needs around a fulltext engine:
deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine), duplicate-cluster resolution (connected components +
keep-first canonicalization), similarity search (brute-force +
LSH-bucketed ANN), text analysis (language-ID, quality scoring, token
counting, fingerprinting), deterministic sampling / domain mixing,
sequence packing, and multimodal column plumbing. Everything is
DataFrame ops + Arrow-vectorized kernels — no per-row Python.
"""

from . import (  # noqa: F401
    clustering,
    dedup,
    multimodal,
    packing,
    sampling,
    similarity,
    textstats,
)
