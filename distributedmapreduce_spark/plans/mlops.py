"""Round-6 ML-ops battery: Lloyd k-means over integer-tick embedding
coordinates, threshold-free binary-classifier evaluation (ROC-AUC and
the precision-recall curve) from bucketed scores, and an integer
autocorrelation function over the daily revenue series.

These are the model-adjacent jobs a training-data platform runs next
to the curation pipeline: cluster the embedding lake (data maps,
IVF-style coarse quantizers), score a ranking/filter model without a
threshold sweep collect, and check a forecast's residual structure.
The reference has no ML surface (its two jobs are word count and an
inverted index, mapper_word_count.py:11-35), so this battery extends
the SURVEY §2 extension categories, not reference parity.

Portability discipline (the plans/analytics.py rules): embedding
components enter arithmetic only as floor(x * tick) BIGINTs, money is
BIGINT cents, every published ratio is an integer-tick division with
both operands non-negative.  (Measured fact: Spark ``div`` AND DuckDB
integer ``//`` BOTH truncate toward zero — DuckDB floors only on
floats — so the engines agree even on negatives; the non-negative
rule + explicit sign splits are kept anyway, because the naive-Python
``//`` replicas in the brute-force gate DO floor, and a published
tick should mean floor-of-abs regardless of reader.)  The iterative
oracle materializes every Lloyd round (``_km_chain_sql``).

Scale notes are per-query; the common theme is that every window in
this module sits ABOVE a bucket- or calendar-keyed aggregate (score
buckets, days), never above entity-cardinality rows, so the
window-funnel lint passes structurally, not via allowlist.
"""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf type hints resolve
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .core import query, t

# --- k-means configuration: K initial centroids (the first K vec_ids
# — deterministic, no RNG), T Lloyd update rounds.  Coordinates are
# floor(x*100)+128: embeddings are unit-ish floats (observed range
# [-0.58, 0.52] at sf0.1), so the +128 shift keeps every coordinate,
# coordinate sum, and rounded mean strictly non-negative — the domain
# where every division convention (Spark `div`, DuckDB `//`, and the
# flooring Python `//` in the brute-force replicas) agrees.
_KM_K = 4  # floor (and the tiny-fixture value the auto mode resolves to)
_KM_T = 3
# --- auto-K (the production default since round 7, VERDICT r06
# "what's wrong" #1): K ≈ N / target-cluster-size so per-cluster
# member count — and with it the Σ|c|² candidate volume of every
# cluster-blocked consumer (semdedup) — stays ~constant as the corpus
# grows.  Assignment switches implementation at _KM_LIT_CAP: up to 8
# centroids it is K×64 literal arithmetic inside whole-stage codegen;
# beyond that, an Arrow-batched numpy arg-min over the broadcast
# centroid matrix (one (B×64)·(64×K) integer matmul per batch — the
# FAISS coarse-assign shape), bit-identical to the literal packing by
# construction (parity-pinned in tests/test_brute_force_mlops.py).
# The cap was measured, not guessed (SCALE.md §10b): literal cost
# grows linearly in K while the Arrow pass is ~flat (fixed Python
# worker round-trip + one matmul), and the break-even sits at K≈8-15
# across 500/2k/20k-vector corpora — literal still wins at the K=4
# floor the small fixtures resolve to, Arrow wins at every auto-K
# regime above it.
# _KM_CAP bounds driver state (K×64 int64 ≈ 2 MB at the cap); past
# ~4096 lists a production index moves to two-level coarse
# quantization, out of scope here.  Both engines compute K from the
# same integer formula on count(*), so the dynamic oracles stay
# bit-exact at any scale.
_KM_TARGET = 128
_KM_LIT_CAP = 8
_KM_CAP = 4096
_KM_K_CTE = (
    f"SELECT greatest({_KM_K}, least({_KM_CAP},"
    f" count(*) // {_KM_TARGET})) AS k FROM embeddings"
)
_KM_KX = "(SELECT k FROM km_k)"  # scalar reference into the km_k CTE


def _km_auto_k(n: int) -> int:
    """Python twin of _KM_K_CTE."""
    return max(_KM_K, min(_KM_CAP, n // _KM_TARGET))

_KM_X_SQL = """
    SELECT vec_id, u.i - 1 AS dim,
           CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 100) AS BIGINT)
             + 128 AS q
    FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)"""


def _km_chain_sql() -> str:
    """The shared Lloyd trainer as a CTE chain
    `km_k, x, m0, a1, m1 .. a{T}, m{T}`.  Every stage but ``x`` is
    MATERIALIZED, because each round reads the previous one more than
    once (ORACLE_PORTABILITY.md CTE discipline).  The quantized
    vectors ``x`` stay inline — one scan per read, 2T + 2 reads: DuckDB
    has no row estimate for a materialized CTE, and with ``x``
    materialized it built each round's join hash table on ``x`` and
    probed it with the K-row centroids, serializing the N·K-row
    distance pass (3x slower at the 10x replica).  km_k is the
    corpus-scaled K both engines compute from count(*).

    Round i is an assignment ``a{i}`` and an update ``m{i}``.  The
    argmin is encoded as min(dist*K + j): dist is identical-scale
    across j, so the packed integer's minimum IS the (dist, j)
    lexicographic minimum — deterministic tie-break on the smallest
    cluster id with no min_by/arg_min portability risk."""
    k = _KM_KX
    parts = [
        f"km_k AS MATERIALIZED ({_KM_K_CTE})",
        f"x AS ({_KM_X_SQL})",
        f"m0 AS MATERIALIZED (SELECT vec_id AS j, dim, q AS m FROM x"
        f" WHERE vec_id < {k})",
    ]
    for i in range(1, _KM_T + 1):
        parts.append(f"""a{i} AS MATERIALIZED (
      SELECT vec_id, min(dist * {k} + j) % {k} AS j FROM (
        SELECT x.vec_id, m.j, sum((x.q - m.m) * (x.q - m.m)) AS dist
        FROM x JOIN m{i - 1} m USING (dim) GROUP BY 1, 2)
      GROUP BY 1)""")
        parts.append(f"""m{i} AS MATERIALIZED (
      SELECT a.j, x.dim,
             (2 * sum(x.q) + count(*)) // (2 * count(*)) AS m
      FROM x JOIN a{i} a USING (vec_id) GROUP BY 1, 2)""")
    return ",\n".join(parts)


def _km_oracle() -> str:
    k, last_m = _KM_KX, f"m{_KM_T}"
    return "WITH " + _km_chain_sql() + f"""
    SELECT CAST(f.code % {k} AS BIGINT) AS cluster,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(f.code // {k}) AS BIGINT) AS inertia,
           CAST(min(l.l1) AS BIGINT) AS centroid_l1
    FROM (
      SELECT vec_id, min(dist * {k} + j) AS code FROM (
        SELECT x.vec_id, m.j, sum((x.q - m.m) * (x.q - m.m)) AS dist
        FROM x JOIN {last_m} m USING (dim) GROUP BY 1, 2)
      GROUP BY 1) f
    JOIN (SELECT j, sum(m) AS l1 FROM {last_m} GROUP BY j) l
      ON f.code % {k} = l.j
    GROUP BY 1"""


def _km_quantized(spark: SparkSession, sf: str) -> DataFrame:
    return t(spark, sf, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding, v -> "
            "CAST(floor(CAST(v AS DOUBLE) * 100) AS BIGINT) + 128)"
        ).alias("q"),
    )


# Arrow-path Column memo: a pandas_udf closure is a FRESH Python
# function per construction, so two invocations of the same query
# never produce plan-equal assignment columns and CacheManager reuse
# never fires for anything downstream (measured: semdedup's m-persist
# LOST 0.3 s per run to cache re-materialization, SCALE.md §10i).
# Returning the SAME Column object for identical (k, centroids,
# force_pandas) restores plan equality — repeated invocations of a
# query that persists an assignment-derived frame now hit the cache
# (3.77 → 3.28 s for semdedup, §10l).  Keys are few (one per trained
# state per corpus); the dict is cleared past a small cap as a leak
# guard.  The literal path needs no memo — identical expr strings are
# already plan-equal.
_KM_COL_MEMO: dict[tuple, F.Column] = {}
_KM_COL_MEMO_CAP = 64


def _km_code_col(
    cents: dict[int, list[int]], k: int = _KM_K, force_pandas: bool = False
) -> F.Column:
    """Packed argmin column min_j(dist_j*K + j) over the live
    centroids, reading the quantized vector column ``q``.  ``k`` is
    the packing modulus (the trainer's INITIAL K, even if clusters
    have since dropped out of ``cents``).  Two bit-identical
    implementations: K <= _KM_LIT_CAP unrolls to literal arithmetic
    inside whole-stage codegen (fastest at small K); larger K uses an
    Arrow-batched pandas_udf — per batch one exact int64
    dist = |q|² − 2·Q·Mᵀ + |m|² matrix (B×K, never the B×K×64
    tensor) and a packed argmin over the LIVE cluster ids, replaying
    least(dist·K + j) exactly (int64 headroom: dist <= 64·512² ≈
    1.7e7, ×K(4096) ≈ 7e10).  ``force_pandas`` exists for the parity
    test only."""
    if len(cents) <= _KM_LIT_CAP and not force_pandas:
        exprs = []
        for j, m in sorted(cents.items()):
            arr = "array(" + ",".join(f"{v}L" for v in m) + ")"
            exprs.append(
                f"aggregate(zip_with(q, {arr}, (a, b) -> (a - b) * (a - b)),"
                f" CAST(0 AS BIGINT), (acc, v) -> acc + v) * {k} + {j}"
            )
        return F.expr(f"least({', '.join(exprs)})" if len(exprs) > 1
                      else exprs[0])

    # Session affinity (ADVICE r08): the cached Column wraps a
    # pandas_udf bound to the JVM alive at creation — a memo hit
    # across a stop/recreate of the SparkSession would hand back a
    # Column referencing dead JVM state (opaque py4j errors).  Keying
    # on the active context's applicationId makes a new session a
    # guaranteed memo miss.  If there is NO active session the
    # session identity is unknowable, so the memo is skipped entirely
    # (ADVICE r09): two distinct sessions that both report None must
    # not collide on a shared key.
    active = SparkSession.getActiveSession()
    app_id = active.sparkContext.applicationId if active else None
    memo_key = None
    if app_id is not None:
        memo_key = (
            app_id,
            int(k),
            bool(force_pandas),
            tuple(sorted((int(j), tuple(m)) for j, m in cents.items())),
        )
        hit = _KM_COL_MEMO.get(memo_key)
        if hit is not None:
            return hit

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    js = np.array(sorted(cents), dtype=np.int64)
    M = np.array([cents[int(j)] for j in js], dtype=np.int64)  # K×64
    m2 = (M * M).sum(axis=1)  # K
    kk = int(k)

    @pandas_udf("long")
    def _code(qs: pd.Series) -> pd.Series:
        Q = np.stack(qs.to_numpy()).astype(np.int64)  # B×64
        d = (
            (Q * Q).sum(axis=1)[:, None]
            - 2 * (Q @ M.T)
            + m2[None, :]
        )  # B×K exact int64 squared distances
        packed = d * kk + js[None, :]
        return pd.Series(packed.min(axis=1))

    col = _code(F.col("q"))
    if memo_key is not None:
        if len(_KM_COL_MEMO) >= _KM_COL_MEMO_CAP:
            _KM_COL_MEMO.clear()
        _KM_COL_MEMO[memo_key] = col
    return col


def _km_round_partials(
    cents: dict[int, list[int]], k: int, dims: int
):
    """One Lloyd round as a FUSED assign+partial-aggregate mapInPandas
    stage (opt r14, guide §1.2/§4.2): per Arrow batch, the exact-int64
    packed argmin (the same |q|² − 2·Q·Mᵀ + |m|² matmul as
    _km_code_col's Arrow path, identical assignment by construction)
    followed by numpy per-cluster partial sums, emitting narrow
    (j, d, v) rows — d in [0, dims) is the per-dim coordinate sum,
    d = dims is the member count.  The previous round shape — a
    pandas_udf assignment feeding a 65-expression groupBy aggregate —
    spent ~0.9 s/round at ANY data size in Catalyst planning/codegen
    of the wide aggregate (measured sf0.1: wide-agg-only probe 0.75 s
    vs 0.10 s for the same job with this shape); the fused stage
    plans ~3 expressions and does the heavy lifting in numpy.  Output
    values are identical: exact integer sums in a different order.
    At scale the emitted partials are K×(dims+1) rows per task —
    the textbook distributed-Lloyd combiner."""
    import numpy as np

    js = np.array(sorted(cents), dtype=np.int64)
    M = np.array([cents[int(j)] for j in js], dtype=np.int64)
    m2 = (M * M).sum(axis=1)
    kk = int(k)

    def fn(batches):
        acc_c: dict[int, int] = {}
        acc_s: dict[int, "np.ndarray"] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            d = (Q * Q).sum(axis=1)[:, None] - 2 * (Q @ M.T) + m2[None, :]
            j = ((d * kk + js[None, :]).min(axis=1) % kk).astype(np.int64)
            for jj in np.unique(j):
                mask = j == jj
                jj = int(jj)
                acc_c[jj] = acc_c.get(jj, 0) + int(mask.sum())
                s = Q[mask].sum(axis=0)
                if jj in acc_s:
                    acc_s[jj] += s
                else:
                    acc_s[jj] = s
        out_j, out_d, out_v = [], [], []
        for jj, s in acc_s.items():
            out_j += [jj] * (dims + 1)
            out_d += list(range(dims)) + [dims]
            out_v += [int(v) for v in s] + [acc_c[jj]]
        yield pd.DataFrame({"j": out_j, "d": out_d, "v": out_v})

    return fn


def _km_train(
    spark: SparkSession, sf: str, k: int | None = None
) -> tuple[DataFrame, dict[int, list[int]], int, dict[int, list[int]]]:
    """Run the T-round Lloyd trainer ONCE: returns the persisted
    quantized base table, the final centroid matrix, the K it
    trained with, and the low-id raw tick rows (vec_id < _KM_CAP —
    the setup aggregate already carries them, so a composing query
    needing raw query vectors, e.g. ann_ivfpq_topk's vec_id < NQ
    query set, reads them without another job).  ``k=None`` (the
    default) is the AUTO mode —
    K ≈ count / _KM_TARGET clamped to [_KM_K, _KM_CAP], matching the
    km_k CTE the dynamic oracles compute — so cluster size (and
    every consumer's per-cluster candidate volume) stays ~constant
    as the corpus grows; pass an explicit k only for fixture pins.
    Shared by kmeans_int8_lloyd, coreset_centroid_topk, semdedup and
    IVF-PQ so the merge/update semantics live in exactly one place
    (the BPE-trainer-duplication lesson, VERDICT r05 'what's wrong'
    #4)."""
    base = _km_quantized(spark, sf).persist()
    # ONE setup job folds corpus count (for auto-K), dimensionality,
    # and the seed rows (prefiltered to the _KM_CAP ceiling — at most
    # 4096×64 ints ≈ 2 MB of driver state, corpus-independent)
    row = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.size("q")).alias("dims"),
        F.collect_list(
            F.when(F.col("vec_id") < _KM_CAP, F.struct("vec_id", "q"))
        ).alias("seeds"),
    ).first()
    if k is None:
        k = _km_auto_k(int(row["n"]))
    dims = int(row["dims"])
    low_rows: dict[int, list[int]] = {
        int(s["vec_id"]): [int(v) for v in s["q"]] for s in row["seeds"]
    }
    cents: dict[int, list[int]] = {
        i: list(q) for i, q in low_rows.items() if i < k
    }
    for _ in range(_KM_T):
        # fused assign+partial round (see _km_round_partials): one
        # narrow Python stage + a (j, d) combine, collecting exactly
        # the same integer sums the old wide aggregate produced
        part = base.select("q").mapInPandas(
            _km_round_partials(cents, k, dims), "j long, d long, v long"
        )
        rows = part.groupBy("j", "d").agg(F.sum("v").alias("v")).collect()
        sums: dict[int, dict[int, int]] = {}
        for r in rows:
            sums.setdefault(int(r["j"]), {})[int(r["d"])] = int(r["v"])
        cents = {
            j: [
                (2 * sv[d] + sv[dims]) // (2 * sv[dims])
                for d in range(dims)
            ]
            for j, sv in sums.items()
        }
    return base, cents, k, low_rows


@query(
    "kmeans_int8_lloyd",
    oracle=_km_oracle(),
)
def kmeans_int8_lloyd(spark: SparkSession, sf: str) -> DataFrame:
    """Lloyd k-means (AUTO K ≈ count/128 clamped to [4, 4096], T=3
    rounds) over integer-tick embedding coordinates — the coarse
    quantizer an embedding lake trains for IVF partitioning and data
    maps.  Everything is exact integer
    arithmetic so both engines agree bit-for-bit: coordinates are
    floor(x*100)+128 (non-negative), assignment is the packed argmin
    min_j(dist²·K + j) (deterministic smallest-id tie-break), and the
    centroid update is the round-half-up mean (2·Σq + c) div (2·c) on
    non-negative operands.  A cluster that loses all members simply
    drops out of the next round's centroid table — both engines
    implement the same rule.  Output: one row per surviving cluster
    with member count, exact inertia Σdist² under the final centroids,
    and the centroid's L1 mass as a checksum of the coordinates.

    Scale: the quantized table is computed ONCE and persisted (one
    FileScan in every executed plan); each round is one map-side
    assignment pass (literal codegen arithmetic at K ≤ 8, an
    Arrow-batched integer matmul argmin above — the measured
    break-even, SCALE.md §10b; no join, no shuffle on the vectors)
    plus a groupBy(j) with 64
    per-dim integer sums, so per-round shuffle traffic is K×65
    BIGINTs per map task.  Driver state is the K×64 centroid matrix —
    constant.  At 100 TB the per-round cost is T corpus passes over
    the cached/columnar vectors, the textbook distributed-Lloyd
    shape; K scales with the corpus (K ≈ N/128, the km_k formula both
    engines share — VERDICT r06 "what's wrong" #1) and the T-round
    loop is data-independent, so raising either is linear.
    """
    base, cents, k, _low = _km_train(spark, sf)
    l1 = {j: sum(m) for j, m in cents.items()}
    l1_map = F.create_map(
        *[F.lit(v) for jl in sorted(l1.items()) for v in jl]
    )
    final = base.select(_km_code_col(cents, k).alias("code"))
    return (
        final.groupBy((F.col("code") % k).alias("cluster"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum(F.expr(f"code div {k}")).cast("long").alias(
                "inertia"
            ),
        )
        .select(
            F.col("cluster").cast("long"),
            "n_members",
            "inertia",
            l1_map[F.col("cluster")].cast("long").alias("centroid_l1"),
        )
    )


# --- binary-classifier evaluation: the "model" is a deterministic
# pseudo-score (the first embedding component in e3 ticks) against the
# label==0 class, so the fixture needs no trained artifact; the
# OPERATOR under test is the bucketed cumulative evaluation, which is
# exactly how AUC/PR run at scale (aggregate per distinct score, then
# a window over the score-bucket table — thousands of rows — never a
# global rank over raw examples).

_SCORED_SQL = """
    SELECT CAST(label = 0 AS BIGINT) AS y,
           CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)
             AS score_b
    FROM embeddings"""


def _scored(spark: SparkSession, sf: str) -> DataFrame:
    return t(spark, sf, "embeddings").select(
        (F.col("label") == 0).cast("long").alias("y"),
        F.floor(F.col("embedding")[0].cast("double") * 1000)
        .cast("long")
        .alias("score_b"),
    )


@query(
    "auc_binary_bucketed",
    oracle=f"""
    WITH scored AS ({_SCORED_SQL}),
    b AS (
      SELECT score_b, sum(y) AS p, count(*) - sum(y) AS n
      FROM scored GROUP BY score_b),
    c AS (
      SELECT p, n, sum(n) OVER (ORDER BY score_b) AS cn FROM b)
    SELECT CAST(sum(p) AS BIGINT) AS pos,
           CAST(sum(n) AS BIGINT) AS neg,
           CAST(CASE WHEN sum(p) = 0 OR sum(n) = 0 THEN 0
                ELSE (sum(p * (2 * cn - n)) * 1000000)
                     // (2 * sum(p) * sum(n)) END AS BIGINT) AS auc_e6
    FROM c
    """,
)
def auc_binary_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    """ROC-AUC as the exact Mann-Whitney rank-sum over score buckets:
    group once by the discretized score, then one ordered pass over
    the BUCKET table counts, for every positive, the negatives below
    it (weight 2) and tied with it (weight 1) — auc_e6 =
    Σ p_b·(2·cum_n_below + n_b) · 1e6 // (2·P·N), ties handled by the
    standard 1/2 credit without any floating point.  Headroom: the
    pair count 2·P·N fits int64 up to ~2·10⁹ examples per class;
    beyond that the e6 tick shifts to the documented DECIMAL(38)
    upgrade.

    Scale: one scan → groupBy(score_b) (bounded: distinct discretized
    scores, ~1.1k here), then a window over that aggregate — the
    window-funnel lint verifies the input subtree is the reduced
    bucket table, not raw examples.  This is the plan that replaces
    the collect-and-sklearn AUC at 100 TB."""
    b = _scored(spark, sf).groupBy("score_b").agg(
        F.sum("y").alias("p"),
        (F.count(F.lit(1)) - F.sum("y")).alias("n"),
    )
    c = b.select(
        "p",
        "n",
        F.sum("n").over(
            W.orderBy("score_b").rowsBetween(
                W.unboundedPreceding, W.currentRow
            )
        ).alias("cn"),
    )
    return c.agg(
        F.sum("p").cast("long").alias("pos"),
        F.sum("n").cast("long").alias("neg"),
        F.when(
            (F.sum("p") == 0) | (F.sum("n") == 0), F.lit(0)
        )
        .otherwise(
            F.expr(
                "(sum(p * (2 * cn - n)) * 1000000)"
                " div (2 * sum(p) * sum(n))"
            )
        )
        .cast("long")
        .alias("auc_e6"),
    )


@query(
    "pr_curve_bucketed",
    oracle=f"""
    WITH scored AS ({_SCORED_SQL}),
    b AS (
      SELECT score_b, sum(y) AS p, count(*) - sum(y) AS n
      FROM scored GROUP BY score_b),
    c AS (
      SELECT score_b,
             sum(p) OVER (ORDER BY score_b DESC) AS tp,
             sum(n) OVER (ORDER BY score_b DESC) AS fp,
             sum(p) OVER () AS pos
      FROM b)
    SELECT CAST(score_b AS BIGINT) AS score_b,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST((tp * 1000000) // (tp + fp) AS BIGINT)
             AS precision_e6,
           CAST(CASE WHEN pos = 0 THEN 0
                ELSE (tp * 1000000) // pos END AS BIGINT) AS recall_e6
    FROM c
    """,
)
def pr_curve_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    """Precision-recall curve: one point per distinct score bucket,
    thresholding at "predict positive when score_b >= threshold".
    TP/FP are cumulative sums over the DESC-ordered bucket table;
    precision and recall are e6 integer ticks (tp+fp >= 1 at every
    emitted threshold by construction, so the division is total).

    Scale: same shape as auc_binary_bucketed — bucket aggregate then
    a bounded window; the curve's cardinality is the number of
    distinct buckets, independent of corpus size."""
    b = _scored(spark, sf).groupBy("score_b").agg(
        F.sum("y").alias("p"),
        (F.count(F.lit(1)) - F.sum("y")).alias("n"),
    )
    wdesc = W.orderBy(F.desc("score_b")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    wall = W.rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    c = b.select(
        "score_b",
        F.sum("p").over(wdesc).alias("tp"),
        F.sum("n").over(wdesc).alias("fp"),
        F.sum("p").over(wall).alias("pos"),
    )
    return c.select(
        F.col("score_b").cast("long"),
        F.col("tp").cast("long"),
        F.col("fp").cast("long"),
        F.expr("(tp * 1000000) div (tp + fp)")
        .cast("long")
        .alias("precision_e6"),
        F.when(F.col("pos") == 0, F.lit(0))
        .otherwise(F.expr("(tp * 1000000) div pos"))
        .cast("long")
        .alias("recall_e6"),
    )


_ACF_MAX_LAG = 7


@query(
    "acf_daily_revenue",
    oracle=f"""
    WITH daily AS (
      SELECT o_orderdate AS day,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 10000
               AS x
      FROM orders GROUP BY 1),
    d AS (
      SELECT day,
             x - (sum(x) OVER ()) // (count(*) OVER ()) AS dv
      FROM daily),
    lagged AS (
      SELECT dv,
             {", ".join(f"lag(dv, {k}) OVER (ORDER BY day) AS l{k}"
                        for k in range(1, _ACF_MAX_LAG + 1))}
      FROM d),
    s AS (
      SELECT sum(dv * dv) AS den,
             {", ".join(
                 f"sum(dv * l{k}) AS num{k}, count(l{k}) AS np{k}"
                 for k in range(1, _ACF_MAX_LAG + 1))}
      FROM lagged)
    {" UNION ALL ".join(
        f'''SELECT CAST({k} AS BIGINT) AS lag,
           CAST(np{k} AS BIGINT) AS n_pairs,
           CAST(CASE WHEN den = 0 OR num{k} IS NULL THEN 0
                WHEN num{k} < 0 THEN -((-num{k} * 10000) // den)
                ELSE (num{k} * 10000) // den END AS BIGINT) AS acf_e4
        FROM s'''
        for k in range(1, _ACF_MAX_LAG + 1))}
    """,
)
def acf_daily_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Sample autocorrelation of the daily order-revenue series at
    lags 1..7 — the residual-structure check behind the seasonal
    backtest (seasonal_naive_backtest): ρ_k = Σ d_t·d_{t+k} / Σ d_t²
    with d_t = x_t − x̄ and x̄ the INTEGER mean (S div n), published in
    e4 ticks.  Negative numerators are routed through an explicit
    sign split so the tick means sign·floor(|num|·1e4/den) under ANY
    division convention (see the module-header note on truncation);
    the denominator is shared across lags (the standard ACF
    estimator), so no sqrt.

    Headroom (memory: integer-tick audit): x is daily cents div 1e4
    ($100 units) — at the 100× replica x ≈ 9·10⁴, so Σd² ≲ 2·10¹³ and
    the e4 tick product ≲ 2·10¹⁷, 40× inside int64; at a further 100×
    the divisor doubles in decades, documented here.

    Scale: one orders scan → calendar-keyed aggregate (one row per
    day — bounded), then all 7 lags in ONE window pass over that
    tiny series and a single-row sufficient-stats aggregate exploded
    into the per-lag report.  The window's input is the day-keyed
    aggregate, never raw orders."""
    daily = (
        t(spark, sf, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(
            F.expr(
                "sum(CAST(round(o_totalprice * 100) AS BIGINT))"
                " div 10000"
            ).alias("x")
        )
    )
    d = daily.select(
        "day",
        (F.col("x") - F.expr(
            "sum(x) OVER () div count(x) OVER ()"
        )).alias("dv"),
    )
    word = W.orderBy("day")
    lagged = d.select(
        "dv",
        *[
            F.lag("dv", k).over(word).alias(f"l{k}")
            for k in range(1, _ACF_MAX_LAG + 1)
        ],
    )
    s = lagged.agg(
        F.sum(F.expr("dv * dv")).alias("den"),
        *[
            e
            for k in range(1, _ACF_MAX_LAG + 1)
            for e in (
                F.sum(F.expr(f"dv * l{k}")).alias(f"num{k}"),
                F.count(F.col(f"l{k}")).alias(f"np{k}"),
            )
        ],
    )
    structs = ", ".join(
        f"struct(CAST({k} AS BIGINT) AS lag,"
        f" CAST(np{k} AS BIGINT) AS n_pairs,"
        f" CAST(CASE WHEN den = 0 OR num{k} IS NULL THEN 0"
        f" WHEN num{k} < 0 THEN -((-num{k} * 10000) div den)"
        f" ELSE (num{k} * 10000) div den END AS BIGINT) AS acf_e4)"
        for k in range(1, _ACF_MAX_LAG + 1)
    )
    return s.select(
        F.explode(F.expr(f"array({structs})")).alias("r")
    ).select("r.lag", "r.n_pairs", "r.acf_e4")


@query(
    "isotonic_calibration",
    oracle=f"""
    WITH scored AS ({_SCORED_SQL}),
    b AS (
      SELECT score_b // 100 AS bin, count(*) AS cnt, sum(y) AS pos
      FROM scored GROUP BY 1),
    ix AS (
      SELECT bin, cnt, pos,
             row_number() OVER (ORDER BY bin) AS i,
             sum(cnt) OVER (ORDER BY bin) AS ccnt,
             sum(pos) OVER (ORDER BY bin) AS cpos
      FROM b),
    seg AS (
      SELECT j.i AS j, k.i AS k,
             CAST(k.cpos - j.cpos + j.pos AS DOUBLE)
               / (k.ccnt - j.ccnt + j.cnt) AS m
      FROM ix j JOIN ix k ON j.i <= k.i),
    g AS (
      SELECT i.i, seg.j, min(seg.m) AS mn
      FROM ix i JOIN seg ON seg.j <= i.i AND seg.k >= i.i
      GROUP BY 1, 2),
    iso AS (SELECT i, max(mn) AS v FROM g GROUP BY i)
    SELECT CAST(ix.bin AS BIGINT) AS bin,
           CAST(ix.cnt AS BIGINT) AS cnt,
           CAST(ix.pos AS BIGINT) AS pos,
           CAST(floor(iso.v * 1000000) AS BIGINT) AS iso_e6
    FROM ix JOIN iso ON ix.i = iso.i
    """,
)
def isotonic_calibration(spark: SparkSession, sf: str) -> DataFrame:
    """Isotonic (monotone) calibration of the bucketed classifier
    score — the shape-constrained regression a ranking/filter model
    gets before its scores are treated as probabilities.  The PAVA
    fit is computed by its closed minimax form iso(i) = max_{{j<=i}}
    min_{{k>=i}} mean(y[j..k]) over the COARSE bins (score_b div
    100), so no iterative pooling exists anywhere: segment means come
    from two cumulative sums over the bin table, and the min/max
    folds run over the j<=i<=k triangle of a bins-squared panel.
    Portability: segment means are a single IEEE double division of
    two exact integers — correctly rounded, hence bit-identical on
    both engines — and min/max/floor preserve that; the published
    calibration is floor(iso·1e6).

    Scale: ONE corpus scan reduces to the bin table (tens of rows);
    the triangle enumeration is bins², driver-free and broadcast-
    joined.  The non-equi joins are BroadcastNestedLoopJoins over
    the bin panel BY DESIGN — bounded at any corpus size."""
    b = _scored(spark, sf).groupBy(
        F.expr("score_b div 100").alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos")
    )
    word = W.orderBy("bin").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    ix = b.select(
        "bin",
        "cnt",
        "pos",
        F.row_number().over(W.orderBy("bin")).alias("i"),
        F.sum("cnt").over(word).alias("ccnt"),
        F.sum("pos").over(word).alias("cpos"),
    ).persist()  # bin-table-sized; feeds seg, the triangle, and output
    j = ix.select(
        F.col("i").alias("j"),
        F.col("pos").alias("jpos"),
        F.col("cnt").alias("jcnt"),
        F.col("ccnt").alias("jccnt"),
        F.col("cpos").alias("jcpos"),
    )
    k = ix.select(
        F.col("i").alias("k"),
        F.col("ccnt").alias("kccnt"),
        F.col("cpos").alias("kcpos"),
    )
    seg = j.join(k, F.col("j") <= F.col("k")).select(
        "j",
        "k",
        (
            (F.col("kcpos") - F.col("jcpos") + F.col("jpos")).cast(
                "double"
            )
            / (F.col("kccnt") - F.col("jccnt") + F.col("jcnt"))
        ).alias("m"),
    )
    g = (
        ix.select("i")
        .join(seg, (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")))
        .groupBy("i", "j")
        .agg(F.min("m").alias("mn"))
    )
    iso = g.groupBy("i").agg(F.max("mn").alias("v"))
    return ix.join(iso, "i").select(
        F.col("bin").cast("long"),
        F.col("cnt").cast("long"),
        F.col("pos").cast("long"),
        F.floor(F.col("v") * 1000000).cast("long").alias("iso_e6"),
    )


_CORESET_TOPK = 3


def _coreset_oracle() -> str:
    # cluster/dist unpack in an inner subquery so the window
    # partitions by a NAMED column (a scalar subquery inside
    # PARTITION BY is not portable)
    k = _KM_KX
    return "WITH " + _km_chain_sql() + f"""
    SELECT cluster, rnk, vec_id, dist FROM (
      SELECT cluster,
             CAST(row_number() OVER (
               PARTITION BY cluster
               ORDER BY dist, vec_id) AS BIGINT) AS rnk,
             vec_id, dist
      FROM (
        SELECT vec_id,
               CAST(code % {k} AS BIGINT) AS cluster,
               CAST(code // {k} AS BIGINT) AS dist
        FROM (
          SELECT vec_id, min(dist * {k} + j) AS code FROM (
            SELECT x.vec_id, m.j, sum((x.q - m.m) * (x.q - m.m)) AS dist
            FROM x JOIN m{_KM_T} m USING (dim) GROUP BY 1, 2)
          GROUP BY 1))) r
    WHERE rnk <= {_CORESET_TOPK}
    """


@query(
    "coreset_centroid_topk",
    oracle=_coreset_oracle(),
)
def coreset_centroid_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Coreset selection: after the SAME Lloyd training as
    kmeans_int8_lloyd (one shared trainer, `_km_train` — no duplicated
    loop), keep the 3 most-central vectors of every cluster — the
    representative-subset pruning a training pipeline runs to
    distill an embedding lake (centroid-nearest exemplars per data
    region).  Rank is (exact integer dist², vec_id) — a total order,
    so the top-3 is deterministic on both engines.

    Scale: the ranking filter is rank <= k inside a per-cluster
    window, which Spark 4 plans as a map-side WindowGroupLimit —
    every task forwards at most k rows per cluster to the final
    window, so the low-cardinality partition spec never funnels the
    corpus through one task (the lint's _BOUNDED_STOP recognizes
    exactly this shape)."""
    base, cents, k, _low = _km_train(spark, sf)
    f = base.select(
        "vec_id", _km_code_col(cents, k).alias("code")
    ).select(
        (F.col("code") % k).cast("long").alias("cluster"),
        "vec_id",
        F.expr(f"code div {k}").cast("long").alias("dist"),
    )
    w = W.partitionBy("cluster").orderBy("dist", "vec_id")
    return (
        f.select(
            "cluster",
            F.row_number().over(w).cast("long").alias("rnk"),
            "vec_id",
            "dist",
        )
        .filter(F.col("rnk") <= _CORESET_TOPK)
        .select("cluster", "rnk", "vec_id", "dist")
    )


_DAY_US = 86_400_000_000
_CHURN_LABEL_D = 14  # label window: purchase within 14d after cutoff
_CHURN_HOLDOUT_D = 28  # cutoff = last purchase instant - 28d

from .core import EVENTS_US  # noqa: E402  (module-local oracle relation)


@query(
    "churn_training_set",
    oracle=f"""
    WITH p AS (
      SELECT user_id, epoch_us(ts) AS us,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM {EVENTS_US} events WHERE event_type = 'purchase'),
    cut AS (
      SELECT max(us) - {_CHURN_HOLDOUT_D} * {_DAY_US} AS cutoff
      FROM p),
    feat AS (
      SELECT p.user_id,
             (cut.cutoff - max(p.us)) // {_DAY_US} AS recency_d,
             count(*) AS frequency,
             sum(p.cents) AS monetary_c
      FROM p CROSS JOIN cut
      WHERE p.us <= cut.cutoff
      GROUP BY p.user_id, cut.cutoff),
    lab AS (
      SELECT DISTINCT p.user_id
      FROM p CROSS JOIN cut
      WHERE p.us > cut.cutoff
        AND p.us <= cut.cutoff + {_CHURN_LABEL_D} * {_DAY_US})
    SELECT f.user_id,
           CAST(f.recency_d AS BIGINT) AS recency_d,
           CAST(f.frequency AS BIGINT) AS frequency,
           CAST(f.monetary_c AS BIGINT) AS monetary_c,
           CAST(lab.user_id IS NOT NULL AS BIGINT) AS label
    FROM feat f LEFT JOIN lab ON f.user_id = lab.user_id
    """,
)
def churn_training_set(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe churn training set: point-in-time-correct features
    and a forward-window label from ONE cutoff instant (the last
    purchase minus 28 days, a data-derived scalar, so the fixture
    needs no wall clock).  Features see ONLY events at or before the
    cutoff — recency in whole days, purchase frequency, monetary
    cents — and the binary label is "purchased within the 14 days
    AFTER the cutoff"; a user with no pre-cutoff purchase has no
    feature row (they cannot be scored), and label-window activity
    can never leak into a feature because the predicates partition
    time at the cutoff exactly.  This is the dataset-construction
    discipline (time-travel correctness) that separates a trainable
    snapshot from a leaky one.

    Scale: the cutoff is a 1-row scalar broadcast; the purchase
    stream is ONE persisted filtered projection read by the scalar,
    the feature build, and the label build (audited at the default
    one events scan since round 8); features and labels are both
    per-user aggregates on that stream, joined per-user.  At 100 TB
    the same plan holds with the cutoff supplied by the orchestrator
    instead of max(ts)."""
    # persisted: the cutoff scalar, the feature build, and the label
    # build all read the purchase stream — one filtered projection
    # cache (purchases only, sub-corpus) instead of three event scans
    p = (
        t(spark, sf, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.unix_micros("ts").alias("us"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .persist()
    )
    cut = p.agg(
        (
            F.max("us") - F.lit(_CHURN_HOLDOUT_D * _DAY_US)
        ).alias("cutoff")
    )
    pc = p.crossJoin(F.broadcast(cut))
    feat = (
        pc.filter(F.col("us") <= F.col("cutoff"))
        .groupBy("user_id", "cutoff")
        .agg(
            F.expr(f"(cutoff - max(us)) div {_DAY_US}").alias(
                "recency_d"
            ),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("cents").alias("monetary_c"),
        )
    )
    lab = (
        pc.filter(
            (F.col("us") > F.col("cutoff"))
            & (
                F.col("us")
                <= F.col("cutoff") + _CHURN_LABEL_D * _DAY_US
            )
        )
        .select("user_id")
        .distinct()
        .withColumn("lbl", F.lit(1))
    )
    return feat.join(lab, "user_id", "left").select(
        "user_id",
        F.col("recency_d").cast("long"),
        F.col("frequency").cast("long"),
        F.col("monetary_c").cast("long"),
        F.coalesce(F.col("lbl"), F.lit(0)).cast("long").alias("label"),
    )


_TE_SAMPLE_MOD = 199  # deterministic ~0.5% output sample


@query(
    "target_encode_loo",
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey, c_nationkey AS nation,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders JOIN customer ON c_custkey = o_custkey),
    g AS (SELECT nation, sum(cents) AS s, count(*) AS n
          FROM o GROUP BY nation),
    a AS (SELECT sum(cents) AS sa, count(*) AS na FROM o)
    SELECT o.o_orderkey, CAST(o.nation AS BIGINT) AS nation,
           o.cents,
           CAST(CASE WHEN g.n > 1 THEN (g.s - o.cents) // (g.n - 1)
                     ELSE (a.sa - o.cents) // (a.na - 1)
                END AS BIGINT) AS enc_cents
    FROM o JOIN g ON g.nation = o.nation CROSS JOIN a
    WHERE o.o_orderkey % {_TE_SAMPLE_MOD} = 0 AND a.na > 1
    """,
)
def target_encode_loo(spark: SparkSession, sf: str) -> DataFrame:
    """Leave-one-out target encoding of the customer-nation
    categorical against order value — the leakage-safe categorical
    feature encoder every tabular training pipeline needs (naive
    per-category means leak each row's own label; LOO subtracts the
    row before dividing).  enc = (sum(category) - own) div (n - 1),
    falling back to the leave-one-out GLOBAL mean for singleton
    categories — all BIGINT cents with truncating integer division,
    bit-portable.  The published rows are a deterministic modulus
    sample (o_orderkey % {_TE_SAMPLE_MOD} = 0) so the output stays
    bounded at any replica scale while the encoder's sums still cover
    every row.

    Scale: one orders-x-customer broadcast-dim join (customer
    nationkey is the dim side at TPC-H shape; at 100 TB the join key
    is the pre-bucketed custkey), one 25-row category aggregate, one
    scalar-total broadcast; the encode itself is a map-side broadcast
    join back — no second shuffle of the fact table."""
    o = (
        t(spark, sf, "orders")
        .join(
            F.broadcast(
                t(spark, sf, "customer").select(
                    "c_custkey", "c_nationkey"
                )
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .select(
            "o_orderkey",
            F.col("c_nationkey").alias("nation"),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias(
                "cents"
            ),
        )
    ).persist()  # feeds the category sums, the global row, and the encode
    g = o.groupBy("nation").agg(
        F.sum("cents").alias("s"), F.count(F.lit(1)).alias("n")
    )
    a = o.agg(
        F.sum("cents").alias("sa"), F.count(F.lit(1)).alias("na")
    ).select(F.lit(1).alias("k"), "sa", "na")
    return (
        o.filter(F.col("o_orderkey") % _TE_SAMPLE_MOD == 0)
        .join(F.broadcast(g), "nation")
        .withColumn("k", F.lit(1))
        .join(F.broadcast(a), "k")
        .filter(F.col("na") > 1)
        .select(
            "o_orderkey",
            F.col("nation").cast("long").alias("nation"),
            "cents",
            F.when(
                F.col("n") > 1,
                F.expr("(s - cents) div (n - 1)"),
            )
            .otherwise(F.expr("(sa - cents) div (na - 1)"))
            .cast("long")
            .alias("enc_cents"),
        )
    )


@query(
    "kaplan_meier_survival",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS us
      FROM {EVENTS_US} events),
    u AS (
      SELECT user_id,
             min(us) AS first_us,
             max(us) AS last_us,
             min(CASE WHEN event_type = 'purchase' THEN us END) AS pus
      FROM ev GROUP BY user_id),
    d AS (
      SELECT CASE WHEN pus IS NOT NULL
                  THEN (pus - first_us) // {86_400_000_000}
                  ELSE (last_us - first_us) // {86_400_000_000}
             END AS dur,
             CASE WHEN pus IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM u),
    byday AS (
      SELECT dur AS day, sum(ev) AS d_events, count(*) AS n_ending
      FROM d GROUP BY dur),
    risk AS (
      SELECT day, d_events,
             sum(n_ending) OVER
               (ORDER BY day DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS n_risk
      FROM byday),
    km AS (
      SELECT day, d_events, n_risk,
             sum(CASE WHEN d_events > 0 AND n_risk > d_events
                      THEN ln(CAST(n_risk - d_events AS DOUBLE))
                           - ln(CAST(n_risk AS DOUBLE))
                      ELSE 0.0 END) OVER
               (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS lsum,
             max(CASE WHEN d_events >= n_risk THEN 1 ELSE 0 END) OVER
               (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS dead
      FROM risk)
    SELECT CAST(day AS BIGINT) AS day,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d_events AS BIGINT) AS d_events,
           round(CASE WHEN dead = 1 THEN 0.0 ELSE exp(lsum) END, 6)
             AS survival
    FROM km WHERE d_events > 0
    """,
)
def kaplan_meier_survival(spark: SparkSession, sf: str) -> DataFrame:
    """Kaplan-Meier survival curve of time-to-first-purchase with
    right censoring — the survival-analysis estimator behind churn /
    conversion-latency studies.  Subjects enter at their first event;
    the event is first purchase (duration in whole days); users who
    never purchase are censored at their last event.  S(t) =
    prod_{{t_j <= t}} (n_j - d_j) / n_j over event days, computed as
    exp of an ORDERED cumulative sum of ln(n_j - d_j) - ln(n_j) —
    logs of IDENTICAL INTEGERS accumulated in the same day order by
    both engines (the ordered-frame sum pins the float summation
    order), so exp() sees a bit-identical argument; a cumulative-max
    zero-crossing flag handles the n_j = d_j everyone-dies day
    without either engine evaluating ln(0) (Spark returns NULL there,
    DuckDB -inf — the guard keeps BOTH out of the sum).

    Scale: one events scan -> per-user (first, last, first-purchase)
    aggregate (single shuffle), then a day-bounded table (<= a few
    thousand rows) through suffix-sum and cumulative windows — the
    windows run over AGGREGATED input, never the corpus (window-
    funnel lint discipline)."""
    day_us = 86_400_000_000
    ev = t(spark, sf, "events").select(
        "user_id", "event_type", F.expr("unix_micros(ts)").alias("us")
    )
    u = ev.groupBy("user_id").agg(
        F.min("us").alias("first_us"),
        F.max("us").alias("last_us"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("us"))
        ).alias("pus"),
    )
    d = u.select(
        F.when(
            F.col("pus").isNotNull(),
            F.expr(f"(pus - first_us) div {day_us}"),
        )
        .otherwise(F.expr(f"(last_us - first_us) div {day_us}"))
        .alias("dur"),
        F.when(F.col("pus").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    byday = d.groupBy(F.col("dur").alias("day")).agg(
        F.sum("ev").alias("d_events"),
        F.count(F.lit(1)).alias("n_ending"),
    )
    w_desc = (
        W.orderBy(F.desc("day"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    risk = byday.withColumn("n_risk", F.sum("n_ending").over(w_desc))
    w_asc = W.orderBy("day").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    term = F.when(
        (F.col("d_events") > 0) & (F.col("n_risk") > F.col("d_events")),
        F.log((F.col("n_risk") - F.col("d_events")).cast("double"))
        - F.log(F.col("n_risk").cast("double")),
    ).otherwise(F.lit(0.0))
    km = risk.withColumn("lsum", F.sum(term).over(w_asc)).withColumn(
        "dead",
        F.max(
            F.when(F.col("d_events") >= F.col("n_risk"), 1).otherwise(0)
        ).over(w_asc),
    )
    return km.filter(F.col("d_events") > 0).select(
        F.col("day").cast("long"),
        F.col("n_risk").cast("long"),
        F.col("d_events").cast("long"),
        F.round(
            F.when(F.col("dead") == 1, F.lit(0.0)).otherwise(
                F.exp("lsum")
            ),
            6,
        ).alias("survival"),
    )
