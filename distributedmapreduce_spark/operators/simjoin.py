"""The two phases of a similarity join: candidate pairs, then their
features for verification.

Every near-dup family in the engine is the paper's map -> hash-shuffle
-> reduce dataflow used as a two-phase similarity join (V-SMART-Join,
PAPERS.md): a candidate phase that hashes each record into buckets and
pairs records sharing a bucket, then a verify phase that computes the
exact similarity of each candidate pair.  This module holds both
phases' dataflow; the similarity rule and its threshold stay with each
query (the shared rules live in functions/similarity.py).

``band_buckets`` : one row per (record, band) — the LSH band explode.
``hash_blocks``  : an integer hash split into equal bit-blocks, the
                   band list of the Hamming-LSH families (two hashes
                   within Hamming distance n-1 share a block).
``bucket_pairs`` : the ordered pairs (a < b) of records that share a
                   bucket, each pair once.
``pair_sides``   : the verify join — every feature of both records of
                   each pair, as ``<col>_a`` and ``<col>_b``.

Two sites carry their features through their own blocking self-join
instead of verifying a pair table, and so do not call ``pair_sides``:
``dedup_simhash`` (the signature rides the block join into the
Hamming test) and ``semdedup_cluster_prune`` (the vectors ride the
within-cluster join into the cosine filter, before the keeper
aggregate).

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


def pair_sides(
    pairs: DataFrame, feats: DataFrame, id_col: str, a: str, b: str
) -> DataFrame:
    """``pairs`` with every non-``id_col`` column ``x`` of ``feats``
    attached twice: ``x_a`` from the row whose ``id_col`` equals the
    pair's ``a``, ``x_b`` from ``b``'s.  Columns come out as ``pairs``'
    columns, then the ``_a`` features, then the ``_b`` features.

    Two inner equi-joins: a pair with a side missing from ``feats`` is
    dropped, and ``feats`` must hold one row per id or its pairs
    repeat.  Both joins read the same ``feats`` frame, so callers
    persist it when its lineage is expensive, and a caller that wants
    both feature sides broadcast passes ``F.broadcast(feats)`` (the
    hint reaches both joins through the renaming projections)."""
    cols = [c for c in feats.columns if c != id_col]

    def side(key: str, sfx: str) -> DataFrame:
        return feats.select(
            F.col(id_col).alias(key),
            *[F.col(c).alias(f"{c}_{sfx}") for c in cols],
        )

    return (
        pairs.join(side(a, "a"), a)
        .join(side(b, "b"), b)
        .select(
            *pairs.columns,
            *[f"{c}_a" for c in cols],
            *[f"{c}_b" for c in cols],
        )
    )
