"""Reusable vector column expressions over array<float|double>
embeddings — dot/norm/cosine via higher-order functions, computed in
double precision (matches a DuckDB DOUBLE[] oracle bit-for-bit on the
same input floats)."""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf type hints resolve
from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a, b) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


# Session-keyed memo for the Arrow pair-dot UDF: a pandas_udf is a
# fresh Python object per construction, so without the memo two
# invocations of the same query are never plan-equal and CacheManager
# reuse breaks downstream (the mlops._KM_COL_MEMO lesson).  Keyed on
# applicationId so a restarted session is a guaranteed miss (a cached
# judf bound to a dead JVM raises opaque py4j errors).
_PAIR_DOT_MEMO: dict[str, object] = {}


def pair_dot(a, b) -> Column:
    """Arrow-batched dot product for HIGH-VOLUME pair-verify stages
    (opt r14, guide §4.2).  The HOF ``dot`` above is a CodegenFallback
    expression — Spark evaluates ``aggregate``/``zip_with`` lambdas
    interpreted, per element, per row — which measured ~2 µs/pair on
    the 787k-candidate verify stage of dedup_embedding_cosine (~40%
    of the query).  This form ships the two vectors through Arrow
    once and does the multiply-accumulate in numpy.

    Precondition: both inputs are non-NULL arrays of one fixed
    dimension >= 1 in every row (``np.stack`` needs equal lengths and
    ``[:, -1]`` needs a last element).  Every current caller meets it:
    each passes an embeddings-table vector column, fixed-dimension and
    non-NULL.  NULL, ragged or zero-width input raises instead of
    following ``dot``.

    BIT-IDENTICAL to ``dot`` for non-zero accumulations:
    ``np.add.accumulate`` is defined as strict left-to-right
    sequential addition — the same IEEE-754 evaluation order as the
    fold in ``dot`` and as DuckDB's ``list_dot_product`` loop — so
    every oracle hash gate is unaffected (a plain
    ``(A*B).sum(axis=1)`` uses pairwise summation and measurably
    diverges in the last ulp; do not \"simplify\" to it).  The one
    difference is the sign of a zero: ``dot`` seeds its fold with
    +0.0, this form starts from the first product, so a result whose
    every product is -0.0 comes out -0.0 here and +0.0 from ``dot``
    (equal as values, different bits).  Use for pair-verify stages
    whose row count is candidate-bounded; keep ``dot`` for tiny or
    output-sized frames where a Python stage costs more than it
    saves."""
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    app_id = active.sparkContext.applicationId if active else None
    fn = _PAIR_DOT_MEMO.get(app_id) if app_id is not None else None
    if fn is None:
        import numpy as np

        @F.pandas_udf("double")
        def _pair_dot(xa: pd.Series, xb: pd.Series) -> pd.Series:
            if not len(xa):
                return pd.Series(np.zeros(0, dtype=np.float64))
            A = np.stack(xa.to_numpy()).astype(np.float64)
            B = np.stack(xb.to_numpy()).astype(np.float64)
            return pd.Series(np.add.accumulate(A * B, axis=1)[:, -1])

        fn = _pair_dot
        if app_id is not None:
            _PAIR_DOT_MEMO.clear()
            _PAIR_DOT_MEMO[app_id] = fn
    return fn(a, b)
