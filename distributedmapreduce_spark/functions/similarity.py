"""Similarity rules shared by the verify stages of the similarity joins
(operators/simjoin.py::pair_sides attaches the two feature sides each
rule compares)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .vector import pair_dot


def hamming(a: str, b: str) -> Column:
    """Differing bits of integer hash columns ``a`` and ``b``.
    ``bit_count`` counts the 64-bit two's complement, so a negative
    long (top bit set) counts right."""
    return F.bit_count(F.col(a).bitwiseXOR(F.col(b)))


def jaccard(a: str, b: str) -> Column:
    """|a ∩ b| / |a ∪ b| of array columns ``a`` and ``b``, each holding
    distinct elements, as a double."""
    inter = F.size(F.array_intersect(a, b))
    return inter.cast("double") / (F.size(a) + F.size(b) - inter)


def jaccard_e6(a: str, b: str) -> Column:
    """``jaccard`` floored to integer 1e-6 ticks — exact in both Spark
    and the DuckDB oracles, which floor the same double."""
    return F.floor(jaccard(a, b) * 1e6).cast("long")


def pair_cosine(a: str, b: str, norm_a: str, norm_b: str) -> Column:
    """Cosine of embedding columns ``a`` and ``b`` whose L2 norms are
    precomputed, with the Arrow-batched ``pair_dot`` (see its
    preconditions)."""
    return pair_dot(F.col(a), F.col(b)) / (F.col(norm_a) * F.col(norm_b))
