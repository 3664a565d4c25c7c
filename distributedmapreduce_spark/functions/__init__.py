from .text import (
    clean_line,
    ngrams,
    norm_fingerprint,
    norm_text,
    shingles,
    tokens,
)
from .similarity import hamming, jaccard, jaccard_e6, pair_cosine
from .vector import cosine, dot, l2_norm

__all__ = [
    "clean_line",
    "ngrams",
    "shingles",
    "tokens",
    "norm_fingerprint",
    "norm_text",
    "hamming",
    "jaccard",
    "jaccard_e6",
    "pair_cosine",
    "cosine",
    "dot",
    "l2_norm",
]
