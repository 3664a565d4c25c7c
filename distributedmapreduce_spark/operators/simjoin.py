"""Candidate-pair generation for similarity joins: one shared primitive.

Every near-dup family in the engine is the paper's map -> hash-shuffle
-> reduce dataflow used as a two-phase similarity join (V-SMART-Join,
PAPERS.md): a candidate phase that hashes each record into buckets and
pairs records sharing a bucket, then a verify phase that computes the
exact similarity of each candidate pair.  This module is the candidate
phase; verification stays with each query, since it is what differs.

``band_buckets`` : one row per (record, band) — the LSH band explode.
``hash_blocks``  : an integer hash split into equal bit-blocks, the
                   band list of the Hamming-LSH families (two hashes
                   within Hamming distance n-1 share a block).
``bucket_pairs`` : the ordered pairs (a < b) of records that share a
                   bucket, each pair once.

``bucket_pairs`` is an equi self-join on the bucket key rather than a
``collect_list`` per bucket followed by a pairwise array explode.  The
pair set is identical (in-bucket, a < b, deduplicated), but the explode
form materializes a hot bucket's entire pair fan-out from one array row
inside one task — a serial straggler that AQE's skew handling cannot
split — while the join form spreads the same pairs across tasks and
stays skew-splittable (joins split, single exploding rows don't).
Both join sides read the same ``buckets`` frame, so callers persist it
when its lineage is expensive.  A NULL bucket value never pairs, as in
any equi-join.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def band_buckets(
    df: DataFrame, keep: Sequence[str | Column], bands: Sequence[Column]
) -> DataFrame:
    """(*keep, band, bucket): one row per band of each record, with
    ``band`` the band's position in ``bands``."""
    return df.select(
        *keep, F.posexplode(F.array(*bands)).alias("band", "bucket")
    )


def hash_blocks(col: Column, width: int, n: int = 4) -> list[Column]:
    """``n`` ``width``-bit blocks of an integer hash, low block first.
    Masking after the arithmetic shift keeps a negative long (top bit
    set) correct."""
    mask = F.lit((1 << width) - 1)
    return [F.shiftright(col, width * b).bitwiseAND(mask) for b in range(n)]


def bucket_pairs(
    buckets: DataFrame,
    id_col: str,
    a: str,
    b: str,
    on: Sequence[str] = ("band", "bucket"),
) -> DataFrame:
    """(a, b): pairs of ``id_col`` values that share every ``on``
    value, with a < b, each pair once."""
    on = list(on)
    return (
        buckets.select(F.col(id_col).alias(a), *on)
        .join(buckets.select(F.col(id_col).alias(b), *on), on)
        .filter(F.col(a) < F.col(b))
        .select(a, b)
        .dropDuplicates([a, b])
    )
