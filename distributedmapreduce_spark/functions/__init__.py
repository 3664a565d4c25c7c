from .text import (
    clean_line,
    ngrams,
    norm_fingerprint,
    norm_text,
    shingles,
    tokens,
)
from .vector import cosine, dot, l2_norm

__all__ = [
    "clean_line",
    "ngrams",
    "shingles",
    "tokens",
    "norm_fingerprint",
    "norm_text",
    "cosine",
    "dot",
    "l2_norm",
]
