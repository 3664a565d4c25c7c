"""Round-6 analytics battery #9: inequality/concentration metrics,
exact nonparametric two-sample tests, and per-user burstiness.

Same portability discipline as the earlier batteries: money is BIGINT
cents, every published ratio is an integer tick division or a single
correctly-rounded IEEE-754 division of exactly-representable int64
values, and sums that feed publications are audited for int64
headroom at the 100x replica.  Reference parity note: the reference
engine (ParitoshSabade/DistributedMapReduce) exposes only
map/reduce word-count jobs (mapper_word_count.py:11-35); these
queries are the extension surface SURVEY.md §2.2 declares for a
training-data / analytics deployment at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.text import norm_fingerprint, tokens
from ..operators.simjoin import bucket_pairs
from .core import EVENTS_US, query, t

_KS_G0 = "1-URGENT"
_KS_G1 = "5-LOW"
_KS_BKT_C = 1_000_000  # $10k value buckets for the two-phase cumsum
_DAY_US = 86_400_000_000


@query(
    "gini_order_concentration",
    oracle="""
    WITH oc AS (
      SELECT o_custkey AS ck, CAST(count(*) AS BIGINT) AS x
      FROM orders GROUP BY 1),
    cx AS (
      SELECT c_nationkey AS nation, coalesce(x, 0) AS x
      FROM customer LEFT JOIN oc ON oc.ck = c_custkey),
    h AS (
      SELECT nation, x, CAST(count(*) AS BIGINT) AS c
      FROM cx GROUP BY 1, 2),
    w AS (
      SELECT nation, x, c,
             coalesce(sum(c) OVER (PARTITION BY nation ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS strt
      FROM h),
    a AS (
      SELECT nation,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(x * c) AS BIGINT) AS s,
             CAST(sum(x * (2 * strt * c + c * (c + 1))) AS BIGINT)
               AS two_ix
      FROM w GROUP BY 1)
    SELECT CAST(nation AS BIGINT) AS nation,
           n AS n_customers, s AS total_orders,
           (two_ix - (n + 1) * s) * 1000000 // (n * s) AS gini_e6
    FROM a WHERE s > 0
    """,
)
def gini_order_concentration(spark: SparkSession, sf: str) -> DataFrame:
    """Exact Gini coefficient of per-customer order counts, per
    nation — the inequality/concentration staple (is activity spread
    evenly or owned by a few whales?).  Zero-order customers are
    included via the left join, so the coefficient reflects the whole
    population.  Uses the sorted-index identity
    G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx); because swapping equal
    values never changes Σ i·x_i, ties need no deterministic
    ordering.

    Scale: corpus-sized work is one orders groupBy and one customer
    join; the rank structure is computed on the (nation, count) VALUE
    HISTOGRAM — for a discrete-domain variable the block of ranks a
    value occupies is contiguous, so Σ i·x_i collapses to
    v·(2·start·c + c·(c+1)) per histogram row and the only window
    runs over the histogram (≤ distinct-count rows per nation), never
    the population.  Int64: two_ix ≤ 2·n·S ≈ 7.2e10 at the 100x
    replica; ×1e6 = 7.2e16, 128× inside int64 (drop to 1e4 ticks
    past ~1000x)."""
    oc = (
        t(spark, sf, "orders")
        .groupBy(F.col("o_custkey").alias("ck"))
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    cx = (
        t(spark, sf, "customer")
        .select(
            F.col("c_custkey").alias("ck"),
            F.col("c_nationkey").alias("nation"),
        )
        .join(oc, "ck", "left")
        .select("nation", F.coalesce("x", F.lit(0)).alias("x"))
    )
    h = cx.groupBy("nation", "x").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wb = (
        W.partitionBy("nation")
        .orderBy("x")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w = h.withColumn(
        "strt", F.coalesce(F.sum("c").over(wb), F.lit(0))
    )
    a = w.groupBy("nation").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("x") * F.col("c")).cast("long").alias("s"),
        F.sum(
            F.col("x")
            * (
                2 * F.col("strt") * F.col("c")
                + F.col("c") * (F.col("c") + 1)
            )
        )
        .cast("long")
        .alias("two_ix"),
    )
    return a.filter(F.col("s") > 0).select(
        F.col("nation").cast("long").alias("nation"),
        F.col("n").alias("n_customers"),
        F.col("s").alias("total_orders"),
        F.expr(
            "(two_ix - (n + 1) * s) * 1000000 div (n * s)"
        ).alias("gini_e6"),
    )


def _two_group_cdf(spark: SparkSession, sf: str) -> DataFrame:
    """Shared machinery for the exact two-sample tests: the per-value
    joint CDF of order totals (cents) for the URGENT vs LOW priority
    groups, built with the two-phase bucketed cumsum discipline
    (curation.py::_budget_prefix): per-value counts reduce to a value
    histogram, $10k-band bucket totals give broadcastable bases via a
    tiny window, and the per-value window is PARTITIONED BY BUCKET —
    its size is bounded by the band width (≤ 1e6 distinct cents
    values), never the corpus.  Returns one PERSISTED DataFrame
    (v, c0, c1, cum0, cum1) with inclusive cumulative counts."""
    f = (
        t(spark, sf, "orders")
        .filter(F.col("o_orderpriority").isin(_KS_G0, _KS_G1))
        .select(
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("v"),
            (F.col("o_orderpriority") == _KS_G1)
            .cast("long")
            .alias("g"),
        )
    )
    h = f.groupBy("v").agg(
        F.sum(1 - F.col("g")).cast("long").alias("c0"),
        F.sum("g").cast("long").alias("c1"),
    ).withColumn("bkt", F.expr(f"v div {_KS_BKT_C}"))
    btot = h.groupBy("bkt").agg(
        F.sum("c0").alias("b0"), F.sum("c1").alias("b1")
    )
    wb = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    bbase = btot.select(
        "bkt",
        F.coalesce(F.sum("b0").over(wb), F.lit(0)).alias("base0"),
        F.coalesce(F.sum("b1").over(wb), F.lit(0)).alias("base1"),
    )
    wv = (
        W.partitionBy("bkt")
        .orderBy("v")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        h.join(F.broadcast(bbase), "bkt")
        .select(
            "v",
            "c0",
            "c1",
            (F.col("base0") + F.sum("c0").over(wv)).alias("cum0"),
            (F.col("base1") + F.sum("c1").over(wv)).alias("cum1"),
        )
        .persist()  # value-histogram-sized; read by cdf and totals
    )


@query(
    "ks_two_sample_exact",
    oracle=f"""
    WITH f AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
             CASE WHEN o_orderpriority = '{_KS_G1}' THEN 1 ELSE 0 END
               AS g
      FROM orders
      WHERE o_orderpriority IN ('{_KS_G0}', '{_KS_G1}')),
    h AS (
      SELECT v,
             CAST(sum(1 - g) AS BIGINT) AS c0,
             CAST(sum(g) AS BIGINT) AS c1
      FROM f GROUP BY 1),
    c AS (
      SELECT v,
             CAST(sum(c0) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS cum0,
             CAST(sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS cum1
      FROM h),
    tot AS (
      SELECT CAST(sum(c0) AS BIGINT) AS n0,
             CAST(sum(c1) AS BIGINT) AS n1
      FROM h),
    d AS (
      SELECT v, n0, n1, abs(cum0 * n1 - cum1 * n0) AS d_num
      FROM c CROSS JOIN tot)
    SELECT n0, n1, CAST(v AS BIGINT) AS at_cents,
           CAST(d_num AS BIGINT) AS d_num,
           CAST(n0 * n1 AS BIGINT) AS d_den,
           round(CAST(d_num AS DOUBLE)
                 / (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)), 6)
             AS ks_d
    FROM d ORDER BY d_num DESC, v ASC LIMIT 1
    """,
)
def ks_two_sample_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the
    order-total distributions of the URGENT and LOW priority groups:
    D = sup_v |F0(v) − F1(v)|, evaluated at every distinct value with
    the CROSS-MULTIPLIED integer form |cum0·n1 − cum1·n0| so the sup
    itself is exact int64 arithmetic (no float CDFs).  The published
    ks_d is the single division d_num/(n0·n1) of two
    exactly-representable-in-double int64s (< 2^53 at the 100x
    replica), so it is correctly rounded and bit-identical across
    engines; argmax ties break to the smallest value.

    Scale: one orders scan to the value histogram; cumulatives use
    the two-phase bucketed cumsum (per-value window partitioned by
    $10k band — see _two_group_cdf); the sup is a TakeOrdered top-1.
    Int64: cum·n ≤ n0·n1 ≈ 9e12 at 100x (exact to ~3e9 rows per
    side; past that the cross-multiplied sup needs DECIMAL(38))."""
    cdf = _two_group_cdf(spark, sf)
    tot = cdf.agg(
        F.sum("c0").cast("long").alias("n0"),
        F.sum("c1").cast("long").alias("n1"),
    )
    d = cdf.crossJoin(F.broadcast(tot)).select(
        "v",
        "n0",
        "n1",
        F.abs(
            F.col("cum0") * F.col("n1") - F.col("cum1") * F.col("n0")
        ).alias("d_num"),
    )
    return (
        d.orderBy(F.desc("d_num"), F.asc("v"))
        .limit(1)
        .select(
            "n0",
            "n1",
            F.col("v").alias("at_cents"),
            F.col("d_num"),
            (F.col("n0") * F.col("n1")).alias("d_den"),
            F.round(
                F.col("d_num").cast("double")
                / (
                    F.col("n0").cast("double")
                    * F.col("n1").cast("double")
                ),
                6,
            ).alias("ks_d"),
        )
    )


@query(
    "mann_whitney_u_exact",
    oracle=f"""
    WITH f AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
             CASE WHEN o_orderpriority = '{_KS_G1}' THEN 1 ELSE 0 END
               AS g
      FROM orders
      WHERE o_orderpriority IN ('{_KS_G0}', '{_KS_G1}')),
    h AS (
      SELECT v,
             CAST(sum(1 - g) AS BIGINT) AS c0,
             CAST(sum(g) AS BIGINT) AS c1
      FROM f GROUP BY 1),
    c AS (
      SELECT v, c0, c1,
             CAST(sum(c0 + c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS cumt
      FROM h),
    r AS (
      SELECT CAST(sum(c1 * (2 * (cumt - c0 - c1) + c0 + c1 + 1))
                  AS BIGINT) AS r1_x2
      FROM c),
    tot AS (
      SELECT CAST(sum(c0) AS BIGINT) AS n0,
             CAST(sum(c1) AS BIGINT) AS n1
      FROM h)
    SELECT n0, n1, r1_x2,
           r1_x2 - n1 * (n1 + 1) AS u1_x2,
           2 * n0 * n1 - (r1_x2 - n1 * (n1 + 1)) AS u0_x2,
           round(CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE)
                 / (2.0 * CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)), 6)
             AS auc_g1
    FROM r CROSS JOIN tot
    """,
)
def mann_whitney_u_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact Mann-Whitney U between the URGENT and LOW order-total
    samples, with textbook tie handling: tied values share the
    AVERAGE rank, kept integral by publishing ×2 ticks — a value
    block with combined count c starting after cumt−c observations
    has 2·avg-rank = 2·(cumt−c) + c + 1, so R1×2 and both U×2 are
    exact int64.  auc_g1 = U1/(n0·n1) is the common-language effect
    size (the probability a random LOW total exceeds a random URGENT
    one, ties half-weighted) — one correctly-rounded division of
    exact doubles, engine-identical.  Identity u0_x2 + u1_x2 =
    2·n0·n1 holds exactly.

    Scale: shares _two_group_cdf's one-scan two-phase machinery; the
    rank-sum is a map-side-combinable aggregate over the value
    histogram.  Int64: R1×2 ≤ n1·2N ≈ 9e13 at 100x."""
    cdf = _two_group_cdf(spark, sf)
    tot = cdf.agg(
        F.sum("c0").cast("long").alias("n0"),
        F.sum("c1").cast("long").alias("n1"),
    )
    r = cdf.agg(
        F.sum(
            F.col("c1")
            * (
                2 * (F.col("cum0") + F.col("cum1") - F.col("c0") - F.col("c1"))
                + F.col("c0")
                + F.col("c1")
                + 1
            )
        )
        .cast("long")
        .alias("r1_x2")
    )
    u1 = F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)
    return r.crossJoin(F.broadcast(tot)).select(
        "n0",
        "n1",
        "r1_x2",
        u1.alias("u1_x2"),
        (2 * F.col("n0") * F.col("n1") - u1).alias("u0_x2"),
        F.round(
            u1.cast("double")
            / (
                F.lit(2.0)
                * F.col("n0").cast("double")
                * F.col("n1").cast("double")
            ),
            6,
        ).alias("auc_g1"),
    )


@query(
    "user_burstiness_fano",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) // {_DAY_US} AS day
      FROM {EVENTS_US} events),
    ud AS (
      SELECT user_id, day, CAST(count(*) AS BIGINT) AS k
      FROM e GROUP BY 1, 2),
    span AS (
      SELECT CAST(max(day) - min(day) + 1 AS BIGINT) AS d FROM ud),
    u AS (
      SELECT user_id,
             CAST(sum(k) AS BIGINT) AS kk,
             CAST(sum(k * k) AS BIGINT) AS k2,
             CAST(count(*) AS BIGINT) AS active_days
      FROM ud GROUP BY 1)
    SELECT user_id, kk AS n_events, active_days,
           d AS span_days,
           (d * k2 - kk * kk) * 10000 // (d * kk) AS fano_e4
    FROM u CROSS JOIN span
    """,
)
def user_burstiness_fano(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user burstiness: the Fano factor (variance/mean) of the
    user's DAILY event counts over the global observation span, zero
    days included — the bot/burst-detection primitive for curation
    (Fano ≈ 1 is Poisson-like organic traffic; ≫1 is bursty;
    ≪1 is metronomic automation).  With D span days, K total
    events and Σk² over active days, F = var/mean =
    (D·Σk² − K²)/(D·K), published as exact 1e4 ticks — the
    numerator is ≥ 0 by Cauchy-Schwarz, so truncation has no sign
    hazard.

    Scale: one events scan → (user, day) aggregate → per-user
    sufficient statistics; the global span is a scalar off the same
    cached aggregate (no second FileScan) broadcast to every row.
    Int64: D·Σk² ≤ 365·K² ≈ 6e7 at 100x (6e15 even at 100 TB
    per-user K ~ 4e4); ×1e4 inside int64 throughout."""
    ud = (
        t(spark, sf, "events")
        .select(
            "user_id",
            F.expr(f"unix_micros(ts) div {_DAY_US}").alias("day"),
        )
        .groupBy("user_id", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
        .persist()  # feeds both the span scalar and per-user stats
    )
    span = ud.agg(
        (F.max("day") - F.min("day") + 1).cast("long").alias("d")
    )
    u = ud.groupBy("user_id").agg(
        F.sum("k").cast("long").alias("kk"),
        F.sum(F.col("k") * F.col("k")).cast("long").alias("k2"),
        F.count(F.lit(1)).cast("long").alias("active_days"),
    )
    return u.crossJoin(F.broadcast(span)).select(
        "user_id",
        F.col("kk").alias("n_events"),
        "active_days",
        F.col("d").alias("span_days"),
        F.expr(
            "(d * k2 - kk * kk) * 10000 div (d * kk)"
        ).alias("fano_e4"),
    )


_NB_R = 6  # published log-score precision (bm25 ln precedent)


_NB_CORE_SQL = f"""toks AS (
      SELECT doc_id, lang,
             list_filter(string_split(lower(text), ' '), x -> x <> '')
               AS ws
      FROM documents),
    docw AS (
      SELECT doc_id, lang, unnest(ws) AS w FROM toks),
    dw AS MATERIALIZED (
      SELECT doc_id, lang, w, CAST(count(*) AS BIGINT) AS nwd
      FROM docw GROUP BY 1, 2, 3),
    model AS (
      SELECT lang, w, CAST(sum(nwd) AS BIGINT) AS cwl
      FROM dw GROUP BY 1, 2),
    lstat AS (
      SELECT lang, CAST(sum(cwl) AS BIGINT) AS tot_l FROM model
      GROUP BY 1),
    prior AS (
      SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS dcount
      FROM dw GROUP BY 1),
    vv AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM model),
    dd AS (SELECT CAST(sum(dcount) AS BIGINT) AS d FROM prior),
    panel AS (
      SELECT lstat.lang, tot_l, dcount, v, d
      FROM lstat JOIN prior ON prior.lang = lstat.lang
      CROSS JOIN vv CROSS JOIN dd),
    dstat AS (
      SELECT doc_id, lang AS true_lang, CAST(sum(nwd) AS BIGINT)
               AS len_d
      FROM dw GROUP BY 1, 2),
    s1 AS (
      SELECT dw.doc_id, model.lang,
             sum(nwd * ln(CAST(cwl + 1 AS DOUBLE))) AS s
      FROM dw JOIN model ON model.w = dw.w
      GROUP BY 1, 2),
    grid AS (
      SELECT dstat.doc_id, dstat.true_lang, dstat.len_d,
             panel.lang, panel.tot_l, panel.dcount, panel.v, panel.d
      FROM dstat CROSS JOIN panel),
    sc AS (
      SELECT grid.doc_id, grid.true_lang, grid.lang,
             round(ln(CAST(dcount AS DOUBLE))
                   - ln(CAST(d AS DOUBLE))
                   + coalesce(s1.s, 0.0)
                   - len_d * ln(CAST(tot_l + v AS DOUBLE)),
                   {_NB_R}) AS score_r
      FROM grid LEFT JOIN s1
        ON s1.doc_id = grid.doc_id AND s1.lang = grid.lang),
    rk AS (
      SELECT doc_id, true_lang, lang, score_r,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY score_r DESC, lang ASC) AS rn,
             lead(score_r) OVER (PARTITION BY doc_id
               ORDER BY score_r DESC, lang ASC) AS second
      FROM sc)"""

def _nb_rk(spark: SparkSession, sf: str) -> DataFrame:
    """Shared NB core (Spark twin of _NB_CORE_SQL): per-(doc, lang)
    rounded scores ranked per doc — both the predict and eval queries
    read this relation."""
    docs = t(spark, sf, "documents").select(
        "doc_id",
        "lang",
        F.explode(tokens("text", lowercase=True)).alias("w"),
    )
    dw = (
        docs.groupBy("doc_id", "lang", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("nwd"))
        .persist()  # one corpus materialization; feeds model + scores
    )
    model = (
        dw.groupBy(F.col("lang").alias("m_lang"), "w")
        .agg(F.sum("nwd").cast("long").alias("cwl"))
        .persist()  # vocab x langs bounded
    )
    lstat = model.groupBy("m_lang").agg(
        F.sum("cwl").cast("long").alias("tot_l")
    )
    prior = dw.groupBy("lang").agg(
        F.countDistinct("doc_id").cast("long").alias("dcount")
    )
    vv = model.agg(F.countDistinct("w").cast("long").alias("v"))
    panel = (
        lstat.join(prior, lstat["m_lang"] == prior["lang"])
        .select("m_lang", "tot_l", "dcount")
        .crossJoin(F.broadcast(vv))
    )
    dd = panel.agg(F.sum("dcount").cast("long").alias("d"))
    panel = panel.crossJoin(F.broadcast(dd))
    dstat = dw.groupBy("doc_id", F.col("lang").alias("true_lang")).agg(
        F.sum("nwd").cast("long").alias("len_d")
    )
    s1 = (
        dw.join(model.withColumnRenamed("w", "mw"),
                F.col("mw") == F.col("w"))
        .groupBy(
            F.col("doc_id").alias("s_doc"),
            F.col("m_lang").alias("s_lang"),
        )
        .agg(
            F.sum(
                F.col("nwd")
                * F.log((F.col("cwl") + 1).cast("double"))
            ).alias("s")
        )
    )
    grid = dstat.crossJoin(F.broadcast(panel))
    sc = grid.join(
        s1,
        (F.col("s_doc") == grid["doc_id"])
        & (F.col("s_lang") == grid["m_lang"]),
        "left",
    ).select(
        grid["doc_id"],
        "true_lang",
        grid["m_lang"].alias("lang"),
        F.round(
            F.log(F.col("dcount").cast("double"))
            - F.log(F.col("d").cast("double"))
            + F.coalesce(F.col("s"), F.lit(0.0))
            - F.col("len_d") * F.log((F.col("tot_l") + F.col("v")).cast("double")),
            _NB_R,
        ).alias("score_r"),
    )
    wd = W.partitionBy("doc_id").orderBy(
        F.desc("score_r"), F.asc("lang")
    )
    rk = sc.select(
        "doc_id",
        "true_lang",
        "lang",
        "score_r",
        F.row_number().over(wd).alias("rn"),
        F.lead("score_r").over(wd).alias("second"),
    )
    return rk


_NB_PRED_SELECT = f"""
    SELECT doc_id, lang AS pred_lang, score_r AS top_score,
           round(score_r - second, {_NB_R}) AS margin,
           CAST(lang = true_lang AS BIGINT) AS is_correct
    FROM rk WHERE rn = 1
    """


@query(
    "naive_bayes_lang_predict",
    oracle=f"""
    WITH {_NB_CORE_SQL}
    {_NB_PRED_SELECT}
    """,
)
def naive_bayes_lang_predict(spark: SparkSession, sf: str) -> DataFrame:
    """Multinomial naive-Bayes language identification, trained and
    evaluated on the corpus itself (train-accuracy audit): add-1
    smoothed word likelihoods with the UNSEEN-WORD terms factored out
    algebraically — score(d, l) = ln(P(l)) + Σ_w n_wd·ln(c_wl + 1)
    − len_d·ln(tot_l + V), so only (word, lang) pairs PRESENT in the
    model are ever joined (an absent pair contributes ln(0+1) = 0)
    and no dense doc×vocab grid exists.  Scores publish at 6 dp (the
    bm25 ln precedent); the winner is chosen on the ROUNDED score
    with language-name tiebreak, so the argmax is exactly as
    deterministic as the published values.  Core shared with
    naive_bayes_lang_eval via _nb_rk / _NB_CORE_SQL (the
    one-trainer-body rule from the r05 BPE dedup).

    Scale: ONE documents FileScan → per-(doc, lang, word) counts (the
    persisted materialization everything else derives from); the
    model is vocab×langs-bounded, the lang panel is 5 rows crossed
    with two scalar aggregates, and the scoring join fans out by at
    most the number of languages containing the word.  The only
    windows run over ≤ n_langs rows per doc."""
    rk = _nb_rk(spark, sf)
    return rk.filter(F.col("rn") == 1).select(
        "doc_id",
        F.col("lang").alias("pred_lang"),
        F.col("score_r").alias("top_score"),
        F.round(F.col("score_r") - F.col("second"), _NB_R).alias(
            "margin"
        ),
        (F.col("lang") == F.col("true_lang")).cast("long").alias(
            "is_correct"
        ),
    )


_ZIPF_TOP = 100


@query(
    "zipf_slope_top_vocab",
    oracle=f"""
    WITH w AS (
      SELECT unnest(list_filter(string_split(lower(text), ' '),
                                x -> x <> '')) AS w
      FROM documents),
    f AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY 1),
    top AS (SELECT w, n FROM f ORDER BY n DESC, w ASC
            LIMIT {_ZIPF_TOP}),
    rk AS (
      SELECT n, CAST(row_number() OVER (ORDER BY n DESC, w ASC)
                     AS BIGINT) AS r
      FROM top),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             sum(ln(CAST(r AS DOUBLE))) AS sx,
             sum(ln(CAST(n AS DOUBLE))) AS sy,
             sum(ln(CAST(r AS DOUBLE)) * ln(CAST(n AS DOUBLE)))
               AS sxy,
             sum(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE)))
               AS sxx,
             sum(ln(CAST(n AS DOUBLE)) * ln(CAST(n AS DOUBLE)))
               AS syy
      FROM rk)
    SELECT m AS n_words,
           floor((m * sxy - sx * sy) / (m * sxx - sx * sx) * 1e4
                 + 0.5) / 1e4 AS zipf_slope,
           floor((sy - (m * sxy - sx * sy) / (m * sxx - sx * sx)
                  * sx) / m * 1e4 + 0.5) / 1e4 AS intercept_ln,
           floor((m * sxy - sx * sy) * (m * sxy - sx * sy)
                 / ((m * sxx - sx * sx) * (m * syy - sy * sy)) * 1e6
                 + 0.5) / 1e6 AS r2
    FROM s
    """,
)
def zipf_slope_top_vocab(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf's-law fit over the top-100 vocabulary: OLS of ln(freq) on
    ln(rank) — slope ≈ −1 for natural language, and systematic
    deviation is a corpus-quality signal (template/boilerplate
    corpora are flatter; spam is steeper).  Publication follows the
    groupwise_ols discipline: ranks and counts are exact integers,
    the ln/ratio arithmetic happens in one final expression published
    via the engine-identical floor(x·1eK + 0.5)/1eK form.

    Scale: one corpus scan to word counts; the fit runs on a
    TakeOrdered top-100 PANEL, so the rank window orders 100 rows
    regardless of corpus size (panel-reduced input, lint-allowlisted
    like topk_orders_global)."""
    f = (
        t(spark, sf, "documents")
        .select(
            F.explode(tokens("text", lowercase=True)).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    top = f.orderBy(F.desc("n"), F.asc("w")).limit(_ZIPF_TOP)
    rk = top.select(
        "n",
        F.row_number()
        .over(W.orderBy(F.desc("n"), F.asc("w")))
        .cast("long")
        .alias("r"),
    )
    lx = F.log(F.col("r").cast("double"))
    ly = F.log(F.col("n").cast("double"))
    s = rk.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lx * ly).alias("sxy"),
        F.sum(lx * lx).alias("sxx"),
        F.sum(ly * ly).alias("syy"),
    )
    slope = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("m").alias("n_words"),
        (F.floor(slope * 1e4 + 0.5) / 1e4).alias("zipf_slope"),
        (
            F.floor(
                (F.col("sy") - slope * F.col("sx")) / F.col("m") * 1e4
                + 0.5
            )
            / 1e4
        ).alias("intercept_ln"),
        (
            F.floor(
                (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
                * (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (
                    (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
                    * (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy"))
                )
                * 1e6
                + 0.5
            )
            / 1e6
        ).alias("r2"),
    )


@query(
    "stratified_ate_by_segment",
    oracle="""
    WITH j AS (
      SELECT c_mktsegment AS segment,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS tr,
             CAST(round(o_totalprice * 100) AS BIGINT) AS y
      FROM orders JOIN customer ON c_custkey = o_custkey),
    s AS (
      SELECT segment,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(tr) AS BIGINT) AS tcnt,
             CAST(sum(tr * y) AS BIGINT) AS sy1,
             CAST(sum((1 - tr) * y) AS BIGINT) AS sy0
      FROM j GROUP BY 1)
    SELECT segment, n AS n_orders, tcnt AS n_treated,
           sy1 * 100 // tcnt AS mean1_c_e2,
           sy0 * 100 // (n - tcnt) AS mean0_c_e2,
           sy1 * 100 // tcnt - sy0 * 100 // (n - tcnt) AS ate_c_e2
    FROM s WHERE tcnt > 0 AND n - tcnt > 0
    """,
)
def stratified_ate_by_segment(spark: SparkSession, sf: str) -> DataFrame:
    """Stratified difference-in-means treatment-effect table — the
    observational-causal staple (standardization / exact-matching on
    a categorical confounder): within each market segment, the mean
    order value of 'treated' (URGENT-priority) orders minus control,
    ALL-INTEGER — means are exact 1e2 sub-cent ticks (sy·100 // n),
    so no float enters any published column and the truncation
    convention is the same `//`==`div` on both engines.  A weighted
    combination across strata is one more exact multiply-add away,
    left to the reader so every published number stays a pure
    per-stratum statistic.

    Scale: one orders-customer equi-join (customer side broadcast at
    dim scale), one map-side-combinable aggregate; output is
    segment-count-bounded.  Int64: sy·100 ≈ 2e14 at 100x, 2e17 at
    100 TB — inside range throughout."""
    j = (
        t(spark, sf, "orders")
        .select(
            "o_custkey",
            (F.col("o_orderpriority") == "1-URGENT")
            .cast("long")
            .alias("tr"),
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("y"),
        )
        .join(
            F.broadcast(
                t(spark, sf, "customer").select(
                    F.col("c_custkey").alias("o_custkey"),
                    F.col("c_mktsegment").alias("segment"),
                )
            ),
            "o_custkey",
        )
    )
    s = j.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("tr").cast("long").alias("tcnt"),
        F.sum(F.col("tr") * F.col("y")).cast("long").alias("sy1"),
        F.sum((1 - F.col("tr")) * F.col("y"))
        .cast("long")
        .alias("sy0"),
    )
    return s.filter(
        (F.col("tcnt") > 0) & (F.col("n") - F.col("tcnt") > 0)
    ).select(
        "segment",
        F.col("n").alias("n_orders"),
        F.col("tcnt").alias("n_treated"),
        F.expr("sy1 * 100 div tcnt").alias("mean1_c_e2"),
        F.expr("sy0 * 100 div (n - tcnt)").alias("mean0_c_e2"),
        F.expr(
            "sy1 * 100 div tcnt - sy0 * 100 div (n - tcnt)"
        ).alias("ate_c_e2"),
    )


@query(
    "user_type_diversity_simpson",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS k
      FROM events GROUP BY 1, 2),
    u AS (
      SELECT user_id,
             CAST(sum(k) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(k * (k - 1)) AS BIGINT) AS same
      FROM c GROUP BY 1)
    SELECT user_id, n AS n_events, n_types,
           (n * (n - 1) - same) * 1000000 // (n * (n - 1))
             AS simpson_e6
    FROM u WHERE n >= 2
    """,
)
def user_type_diversity_simpson(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user behavioral diversity: the Simpson/Gini-Simpson index
    of the user's event-type mix — the exact probability that two of
    the user's events drawn WITHOUT replacement have different types,
    1 − Σ k_i(k_i−1)/(n(n−1)).  Low diversity plus high volume is
    the classic single-action-bot signature; pairs with
    user_burstiness_fano as the curation screen.  Pure integer
    arithmetic end-to-end (1e6 ticks, numerator ≥ 0).

    Scale: one events scan → (user, type) counts → per-user
    sufficient statistics; everything map-side combinable, zero
    windows, zero joins.  Int64: n(n−1)·1e6 is per-USER bounded
    (≈1.6e11 even at 100 TB per-user densities), independent of
    corpus size."""
    c = (
        t(spark, sf, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    u = c.groupBy("user_id").agg(
        F.sum("k").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("k") * (F.col("k") - 1))
        .cast("long")
        .alias("same"),
    )
    return u.filter(F.col("n") >= 2).select(
        "user_id",
        F.col("n").alias("n_events"),
        "n_types",
        F.expr(
            "(n * (n - 1) - same) * 1000000 div (n * (n - 1))"
        ).alias("simpson_e6"),
    )


@query(
    "hhi_supplier_concentration",
    oracle="""
    WITH s AS (
      SELECT s_nationkey AS nation, l_suppkey AS sk,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_c
      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
      GROUP BY 1, 2),
    tot AS (
      SELECT nation, CAST(sum(rev_c) AS BIGINT) AS tot_c,
             CAST(count(*) AS BIGINT) AS n_suppliers
      FROM s GROUP BY 1)
    SELECT CAST(s.nation AS BIGINT) AS nation, n_suppliers, tot_c,
           round(sum((CAST(rev_c AS DOUBLE) / CAST(tot_c AS DOUBLE))
                     * (CAST(rev_c AS DOUBLE)
                        / CAST(tot_c AS DOUBLE))), 6) AS hhi
    FROM s JOIN tot ON tot.nation = s.nation
    GROUP BY 1, 2, 3
    """,
)
def hhi_supplier_concentration(spark: SparkSession, sf: str) -> DataFrame:
    """Herfindahl-Hirschman supplier-concentration index per nation —
    the antitrust/market-structure staple: Σ share² of each
    supplier's lineitem revenue within its nation (1/n = perfectly
    even, 1.0 = monopoly).  Shares are single correctly-rounded
    divisions of exact int64 cents (< 2^53 at the 100x replica); the
    Σ over ~suppliers-per-nation squared shares carries only
    accumulation-order noise ~1e-16 relative, nine orders below the
    6 dp publication (the bm25 ln-sum precedent).

    Scale: one lineitem scan with the supplier dim broadcast, one
    two-level aggregate; output is nation-bounded.  Cents totals
    exceed 2^53 past ~2e13 rows — downscale to dollars there (the
    acf_daily_revenue discipline)."""
    sup = F.broadcast(
        t(spark, sf, "supplier").select(
            F.col("s_suppkey").alias("l_suppkey"),
            F.col("s_nationkey").alias("nation"),
        )
    )
    s = (
        t(spark, sf, "lineitem")
        .select(
            "l_suppkey",
            F.round(F.col("l_extendedprice") * 100)
            .cast("long")
            .alias("c"),
        )
        .join(sup, "l_suppkey")
        .groupBy("nation", F.col("l_suppkey").alias("sk"))
        .agg(F.sum("c").cast("long").alias("rev_c"))
        .persist()  # supplier-bounded; feeds totals and shares
    )
    tot = s.groupBy(F.col("nation").alias("t_nation")).agg(
        F.sum("rev_c").cast("long").alias("tot_c"),
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
    )
    share = F.col("rev_c").cast("double") / F.col("tot_c").cast("double")
    return (
        s.join(tot, F.col("t_nation") == F.col("nation"))
        .groupBy(
            F.col("nation").cast("long").alias("nation"),
            "n_suppliers",
            "tot_c",
        )
        .agg(F.round(F.sum(share * share), 6).alias("hhi"))
    )


_CCF_MAX_LAG = 3


def _ccf_oracle() -> str:
    lags = range(-_CCF_MAX_LAG, _CCF_MAX_LAG + 1)

    def num(k: int) -> str:
        col = f"lead(dy, {k})" if k >= 0 else f"lag(dy, {-k})"
        return f"{col} OVER (ORDER BY day) AS y{k + _CCF_MAX_LAG}"

    return f"""
    WITH e AS (
      SELECT epoch_us(ts) // 86400000000 AS day, event_type
      FROM {EVENTS_US} events),
    b AS (SELECT min(day) AS mn, max(day) AS mx FROM e),
    grid AS (SELECT unnest(generate_series(mn, mx)) AS day FROM b),
    daily AS (
      SELECT grid.day,
             CAST(coalesce(sum(CASE WHEN event_type = 'view'
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS x,
             CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS y
      FROM grid LEFT JOIN e ON e.day = grid.day GROUP BY 1),
    d AS (
      SELECT day,
             x - (sum(x) OVER ()) // (count(*) OVER ()) AS dx,
             y - (sum(y) OVER ()) // (count(*) OVER ()) AS dy
      FROM daily),
    l AS (
      SELECT day, dx, dy,
             {", ".join(num(k) for k in lags)}
      FROM d),
    s AS MATERIALIZED (
      SELECT sum(dx * dx) AS denx, sum(dy * dy) AS deny,
             {", ".join(
                 f"sum(dx * y{k + _CCF_MAX_LAG}) AS num{k + _CCF_MAX_LAG},"
                 f" count(y{k + _CCF_MAX_LAG}) AS np{k + _CCF_MAX_LAG}"
                 for k in lags)}
      FROM l)
    {" UNION ALL ".join(
        f'''SELECT CAST({k} AS BIGINT) AS lag,
           CAST(np{k + _CCF_MAX_LAG} AS BIGINT) AS n_pairs,
           CAST(denx AS BIGINT) AS denx, CAST(deny AS BIGINT) AS deny,
           floor(CAST(num{k + _CCF_MAX_LAG} AS DOUBLE)
                 / sqrt(CAST(denx AS DOUBLE) * CAST(deny AS DOUBLE))
                 * 1e4 + 0.5) / 1e4 AS ccf_e4
        FROM s'''
        for k in lags)}
    """


@query("ccf_view_purchase_daily", oracle=_ccf_oracle())
def ccf_view_purchase_daily(spark: SparkSession, sf: str) -> DataFrame:
    """Lagged cross-correlation between the daily view and purchase
    count series (lags −3..+3): does view volume LEAD purchase volume
    (positive lag = purchases k days after views)?  Built on the
    acf_daily_revenue discipline — full calendar grid (gap days count
    0, so lags align on real days, not row offsets), INTEGER mean
    (S div n), exact integer numerators/denominators, and ONE double
    normalization num/sqrt(denx·deny) published via the
    floor(x·1e4 + 0.5) engine-identical form.

    Scale: one events scan to the calendar-bounded daily grid; every
    window (day sequence, lags) runs over that grid, never the
    corpus.  Int64: num ≤ √(Σdx²·Σdy²) ≈ 4e12 at the 100x replica —
    deep inside range; the doubles entering the one division are
    exact (< 2^53)."""
    dayc = (
        t(spark, sf, "events")
        .select(
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            "event_type",
        )
        .groupBy("day")
        .agg(
            F.sum(
                (F.col("event_type") == "view").cast("long")
            ).alias("xr"),
            F.sum(
                (F.col("event_type") == "purchase").cast("long")
            ).alias("yr"),
        )
        .persist()  # calendar-bounded; feeds bounds + grid join
    )
    b = dayc.agg(
        F.min("day").alias("mn"), F.max("day").alias("mx")
    )
    grid = b.select(
        F.explode(F.sequence("mn", "mx")).alias("day")
    )
    daily = grid.join(dayc, "day", "left").select(
        "day",
        F.coalesce("xr", F.lit(0)).cast("long").alias("x"),
        F.coalesce("yr", F.lit(0)).cast("long").alias("y"),
    )
    d = daily.select(
        "day",
        (
            F.col("x")
            - F.expr("sum(x) over () div count(*) over ()")
        ).alias("dx"),
        (
            F.col("y")
            - F.expr("sum(y) over () div count(*) over ()")
        ).alias("dy"),
    )
    wd = W.orderBy("day")
    lags = list(range(-_CCF_MAX_LAG, _CCF_MAX_LAG + 1))
    lcols = [
        (
            F.lead("dy", k).over(wd)
            if k >= 0
            else F.lag("dy", -k).over(wd)
        ).alias(f"y{k + _CCF_MAX_LAG}")
        for k in lags
    ]
    l = d.select("day", "dx", "dy", *lcols)
    aggs = [
        F.sum(F.col("dx") * F.col("dx")).alias("denx"),
        F.sum(F.col("dy") * F.col("dy")).alias("deny"),
    ]
    for k in lags:
        i = k + _CCF_MAX_LAG
        aggs.append(F.sum(F.col("dx") * F.col(f"y{i}")).alias(f"num{i}"))
        aggs.append(F.count(F.col(f"y{i}")).alias(f"np{i}"))
    s = l.agg(*aggs)
    parts = []
    for k in lags:
        i = k + _CCF_MAX_LAG
        parts.append(
            s.select(
                F.lit(k).cast("long").alias("lag"),
                F.col(f"np{i}").cast("long").alias("n_pairs"),
                F.col("denx").cast("long").alias("denx"),
                F.col("deny").cast("long").alias("deny"),
                (
                    F.floor(
                        F.col(f"num{i}").cast("double")
                        / F.sqrt(
                            F.col("denx").cast("double")
                            * F.col("deny").cast("double")
                        )
                        * 1e4
                        + 0.5
                    )
                    / 1e4
                ).alias("ccf_e4"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_KT_PB_C = 1_000_000  # $10k price buckets for the contingency table


@query(
    "kendall_tau_qty_price",
    oracle=f"""
    WITH f AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS q,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               // {_KT_PB_C} AS p
      FROM lineitem),
    cells AS (
      SELECT q, p, CAST(count(*) AS BIGINT) AS c
      FROM f GROUP BY 1, 2),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
    cd AS (
      SELECT
        CAST(sum(CASE WHEN b.q > a.q AND b.p > a.p
                      THEN a.c * b.c ELSE 0 END) AS BIGINT) AS cc,
        CAST(sum(CASE WHEN b.q > a.q AND b.p < a.p
                      THEN a.c * b.c ELSE 0 END) AS BIGINT) AS dd
      FROM cells a CROSS JOIN cells b),
    ties AS (
      SELECT
        CAST((SELECT sum(rc * (rc - 1)) // 2 FROM (
           SELECT sum(c) AS rc FROM cells GROUP BY q) r) AS BIGINT)
          AS t_q,
        CAST((SELECT sum(pc * (pc - 1)) // 2 FROM (
           SELECT sum(c) AS pc FROM cells GROUP BY p) s) AS BIGINT)
          AS t_p)
    SELECT n, cc AS concordant, dd AS discordant, t_q AS ties_qty,
           t_p AS ties_price,
           floor(CAST(cc - dd AS DOUBLE)
                 / sqrt(CAST(n * (n - 1) // 2 - t_q AS DOUBLE)
                        * CAST(n * (n - 1) // 2 - t_p AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS tau_b
    FROM cd CROSS JOIN ties CROSS JOIN tot
    """,
)
def kendall_tau_qty_price(spark: SparkSession, sf: str) -> DataFrame:
    """Kendall's τ-b rank correlation between lineitem quantity and
    price, computed EXACTLY on grouped data: both variables are
    discretized (quantity is already integral; price in $10k bands),
    so the joint distribution collapses to a bounded CONTINGENCY
    TABLE and concordant/discordant pair counts are Σ n_ij·n_kl over
    strictly-greater cell pairs — each unordered pair counted once
    because strict inequality in both coordinates picks exactly one
    ordering.  Tie corrections use the marginal counts; τ-b publishes
    via the engine-identical floor form with the only float op being
    one sqrt of exact int64 doubles.

    Scale: one lineitem scan to ~50×11 cells; the pair double-sum is
    a cells×cells crossJoin of a BOUNDED table (≤ 3e5 cell pairs at
    any corpus size) — lint-allowlisted by design.  Int64:
    C, D ≤ n(n−1)/2 ≈ 1.8e17 at the 100x replica; past ~4e9 rows
    the pair counts need DECIMAL(38)."""
    f = t(spark, sf, "lineitem").select(
        F.round(F.col("l_quantity")).cast("long").alias("q"),
        F.expr(
            f"CAST(round(l_extendedprice * 100) AS BIGINT)"
            f" div {_KT_PB_C}"
        ).alias("p"),
    )
    cells = (
        f.groupBy("q", "p")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist()  # bounded contingency table; 4 readers below
    )
    tot = cells.agg(F.sum("c").cast("long").alias("n"))
    a = cells.select(
        F.col("q").alias("aq"), F.col("p").alias("ap"),
        F.col("c").alias("ac"),
    )
    bc = F.broadcast(
        cells.select(
            F.col("q").alias("bq"), F.col("p").alias("bp"),
            F.col("c").alias("bc"),
        )
    )
    cd = a.crossJoin(bc).agg(
        F.sum(
            F.when(
                (F.col("bq") > F.col("aq"))
                & (F.col("bp") > F.col("ap")),
                F.col("ac") * F.col("bc"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("cc"),
        F.sum(
            F.when(
                (F.col("bq") > F.col("aq"))
                & (F.col("bp") < F.col("ap")),
                F.col("ac") * F.col("bc"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("dd"),
    )
    tq = (
        cells.groupBy("q")
        .agg(F.sum("c").alias("rc"))
        .agg(
            F.expr("CAST(sum(rc * (rc - 1)) div 2 AS BIGINT)").alias(
                "t_q"
            )
        )
    )
    tp = (
        cells.groupBy("p")
        .agg(F.sum("c").alias("pc"))
        .agg(
            F.expr("CAST(sum(pc * (pc - 1)) div 2 AS BIGINT)").alias(
                "t_p"
            )
        )
    )
    j = (
        cd.crossJoin(F.broadcast(tq))
        .crossJoin(F.broadcast(tp))
        .crossJoin(F.broadcast(tot))
    )
    n0 = F.expr("n * (n - 1) div 2")
    return j.select(
        "n",
        F.col("cc").alias("concordant"),
        F.col("dd").alias("discordant"),
        F.col("t_q").alias("ties_qty"),
        F.col("t_p").alias("ties_price"),
        (
            F.floor(
                (F.col("cc") - F.col("dd")).cast("double")
                / F.sqrt(
                    (n0 - F.col("t_q")).cast("double")
                    * (n0 - F.col("t_p")).cast("double")
                )
                * 1e6
                + 0.5
            )
            / 1e6
        ).alias("tau_b"),
    )


_TRIM_PCT = 5
_TM_BKT_C = 1_000_000


@query(
    "trimmed_mean_price",
    oracle=f"""
    WITH f AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS v
      FROM lineitem),
    h AS (
      SELECT flag, v, CAST(count(*) AS BIGINT) AS c
      FROM f GROUP BY 1, 2),
    cumt AS (
      SELECT flag, v, c,
             CAST(sum(c) OVER (PARTITION BY flag ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
      FROM h),
    tot AS (
      SELECT flag, CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) * {_TRIM_PCT} // 100 AS lo
      FROM h GROUP BY 1),
    kept AS (
      SELECT cumt.flag, tot.n, tot.lo,
             CAST(sum(v * greatest(0,
                   least(cum, n - lo) - greatest(cum - c, lo)))
                  AS BIGINT) AS ksum
      FROM cumt JOIN tot ON tot.flag = cumt.flag
      GROUP BY 1, 2, 3)
    SELECT flag, n, lo AS n_trimmed_each_side,
           ksum * 100 // (n - 2 * lo) AS trimmed_mean_c_e2
    FROM kept WHERE n - 2 * lo > 0
    """,
)
def trimmed_mean_price(spark: SparkSession, sf: str) -> DataFrame:
    """Exact 5%-trimmed mean of lineitem price per return flag — the
    robust location estimate (outlier-insensitive mean).  The trim is
    RANK-exact, not approximate: with lo = n·5//100 dropped from each
    side, a value block covering cumulative range (cum−c, cum]
    contributes v × overlap with the kept rank interval [lo+1, n−lo]
    — boundary blocks contribute partially, interior blocks fully.
    Published as exact 1e2 sub-cent ticks.

    Scale: the Spark side runs the cumulative on the per-flag VALUE
    HISTOGRAM through the two-phase $10k-band bucketed cumsum (the
    _budget_prefix discipline — per-value windows are partitioned by
    (flag, band), bounded by band width, never corpus-sized); group
    totals broadcast.  Int64: kept cents ×100 ≈ 6e16 at the 100x
    replica (~6e18 at 100 TB — inside, barely; dollars downscale past
    that)."""
    f = t(spark, sf, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("v"),
    )
    h = (
        f.groupBy("flag", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .withColumn("bkt", F.expr(f"v div {_TM_BKT_C}"))
        .persist()  # value histogram; feeds buckets, totals, kept sum
    )
    btot = h.groupBy("flag", "bkt").agg(F.sum("c").alias("bsum"))
    wb = (
        W.partitionBy("flag")
        .orderBy("bkt")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    bbase = btot.select(
        "flag",
        "bkt",
        F.coalesce(F.sum("bsum").over(wb), F.lit(0)).alias("base"),
    )
    wv = (
        W.partitionBy("flag", "bkt")
        .orderBy("v")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cumt = h.join(F.broadcast(bbase), ["flag", "bkt"]).select(
        "flag",
        "v",
        "c",
        (F.col("base") + F.sum("c").over(wv)).alias("cum"),
    )
    tot = h.groupBy(F.col("flag").alias("t_flag")).agg(
        F.sum("c").cast("long").alias("n"),
        F.expr(
            f"CAST(sum(c) * {_TRIM_PCT} div 100 AS BIGINT)"
        ).alias("lo"),
    )
    kept = (
        cumt.join(
            F.broadcast(tot), F.col("t_flag") == F.col("flag")
        )
        .groupBy("flag", "n", "lo")
        .agg(
            F.sum(
                F.col("v")
                * F.greatest(
                    F.lit(0),
                    F.least(F.col("cum"), F.col("n") - F.col("lo"))
                    - F.greatest(
                        F.col("cum") - F.col("c"), F.col("lo")
                    ),
                )
            )
            .cast("long")
            .alias("ksum")
        )
    )
    return kept.filter(F.col("n") - 2 * F.col("lo") > 0).select(
        "flag",
        "n",
        F.col("lo").alias("n_trimmed_each_side"),
        F.expr("ksum * 100 div (n - 2 * lo)").alias(
            "trimmed_mean_c_e2"
        ),
    )


@query(
    "mutual_info_type_hour",
    oracle=f"""
    WITH e AS (
      SELECT event_type AS ty,
             (epoch_us(ts) // 3600000000) % 24 AS hr
      FROM {EVENTS_US} events),
    cell AS (
      SELECT ty, hr, CAST(count(*) AS BIGINT) AS nij
      FROM e GROUP BY 1, 2),
    rowm AS (SELECT ty, CAST(sum(nij) AS BIGINT) AS ri
             FROM cell GROUP BY 1),
    colm AS (SELECT hr, CAST(sum(nij) AS BIGINT) AS cj
             FROM cell GROUP BY 1),
    tot AS (SELECT CAST(sum(nij) AS BIGINT) AS n FROM cell)
    SELECT n,
           CAST(count(*) AS BIGINT) AS n_cells,
           round(sum((CAST(nij AS DOUBLE) / n)
                     * ln(CAST(nij AS DOUBLE) * n
                          / (CAST(ri AS DOUBLE) * cj))), 6)
             AS mi_nats
    FROM cell
    JOIN rowm ON rowm.ty = cell.ty
    JOIN colm ON colm.hr = cell.hr
    CROSS JOIN tot
    GROUP BY n
    """,
)
def mutual_info_type_hour(spark: SparkSession, sf: str) -> DataFrame:
    """Mutual information (nats) between event type and hour-of-day —
    the model-free dependence measure feature selection ranks on:
    I(X;Y) = Σ_ij p_ij · ln(p_ij / (p_i·p_j)), evaluated on the
    bounded types×24 contingency table with all counts exact int64
    and the ln/ratio arithmetic confined to the final per-cell
    expression (zero cells contribute nothing by construction —
    absent rows ARE the limit x·ln(x) → 0).  Accumulation noise over
    ≤ types×24 cells sits ~1e-15, nine orders below the 6 dp
    publication (bm25 ln precedent).

    Scale: one events scan to the bounded contingency table; margins
    and the grand total are aggregates OF the cell table, and the
    final sum runs over ≤ 120 rows.  No corpus-sized join exists —
    the margin joins key on the cell table itself."""
    cell = (
        t(spark, sf, "events")
        .select(
            F.col("event_type").alias("ty"),
            F.expr(
                "(unix_micros(ts) div 3600000000) % 24"
            ).alias("hr"),
        )
        .groupBy("ty", "hr")
        .agg(F.count(F.lit(1)).cast("long").alias("nij"))
        .persist()  # bounded cells; feeds margins + total + MI sum
    )
    rowm = cell.groupBy(F.col("ty").alias("r_ty")).agg(
        F.sum("nij").cast("long").alias("ri")
    )
    colm = cell.groupBy(F.col("hr").alias("c_hr")).agg(
        F.sum("nij").cast("long").alias("cj")
    )
    tot = cell.agg(F.sum("nij").cast("long").alias("n"))
    j = (
        cell.join(F.broadcast(rowm), F.col("r_ty") == F.col("ty"))
        .join(F.broadcast(colm), F.col("c_hr") == F.col("hr"))
        .crossJoin(F.broadcast(tot))
    )
    term = (F.col("nij").cast("double") / F.col("n")) * F.log(
        F.col("nij").cast("double")
        * F.col("n")
        / (F.col("ri").cast("double") * F.col("cj"))
    )
    return j.groupBy("n").agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.round(F.sum(term), 6).alias("mi_nats"),
    )


_DID_SPLIT = "1995-06-01"


@query(
    "difference_in_differences",
    oracle=f"""
    WITH j AS (
      SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
               AS tr,
             CASE WHEN o_orderdate >= DATE '{_DID_SPLIT}' THEN 1
                  ELSE 0 END AS post,
             CAST(round(o_totalprice * 100) AS BIGINT) AS y
      FROM orders JOIN customer ON c_custkey = o_custkey),
    s AS (
      SELECT tr, post, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS sy
      FROM j GROUP BY 1, 2),
    m AS (
      SELECT CAST(max(CASE WHEN tr = 1 AND post = 1
                      THEN sy * 100 // n END) AS BIGINT) AS t1,
             CAST(max(CASE WHEN tr = 1 AND post = 0
                      THEN sy * 100 // n END) AS BIGINT) AS t0,
             CAST(max(CASE WHEN tr = 0 AND post = 1
                      THEN sy * 100 // n END) AS BIGINT) AS c1,
             CAST(max(CASE WHEN tr = 0 AND post = 0
                      THEN sy * 100 // n END) AS BIGINT) AS c0,
             CAST(sum(n) AS BIGINT) AS n_total
      FROM s)
    SELECT n_total, t0 AS treat_pre_c_e2, t1 AS treat_post_c_e2,
           c0 AS ctrl_pre_c_e2, c1 AS ctrl_post_c_e2,
           (t1 - t0) - (c1 - c0) AS did_c_e2
    FROM m
    """,
)
def difference_in_differences(spark: SparkSession, sf: str) -> DataFrame:
    """Difference-in-differences estimator — the panel-data causal
    staple: (treated post − treated pre) − (control post − control
    pre) mean order value, with BUILDING-segment customers as the
    treated group and a mid-1995 policy date as the split.  All four
    cell means are exact 1e2 sub-cent integer ticks (sy·100 // n),
    so the DiD is a pure integer expression — the
    stratified_ate_by_segment discipline extended to the 2×2
    pre/post design.

    Scale: one orders scan with the customer dim broadcast, one
    4-cell aggregate, one 1-row pivot.  Int64: sy·100 ≈ 5e14 at the
    100x replica."""
    j = (
        t(spark, sf, "orders")
        .select(
            "o_custkey",
            (F.col("o_orderdate") >= F.lit(_DID_SPLIT).cast("date"))
            .cast("long")
            .alias("post"),
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("y"),
        )
        .join(
            F.broadcast(
                t(spark, sf, "customer").select(
                    F.col("c_custkey").alias("o_custkey"),
                    (F.col("c_mktsegment") == "BUILDING")
                    .cast("long")
                    .alias("tr"),
                )
            ),
            "o_custkey",
        )
    )
    s = j.groupBy("tr", "post").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
    )
    mean = F.expr("sy * 100 div n")
    m = s.agg(
        F.max(
            F.when((F.col("tr") == 1) & (F.col("post") == 1), mean)
        ).cast("long").alias("t1"),
        F.max(
            F.when((F.col("tr") == 1) & (F.col("post") == 0), mean)
        ).cast("long").alias("t0"),
        F.max(
            F.when((F.col("tr") == 0) & (F.col("post") == 1), mean)
        ).cast("long").alias("c1"),
        F.max(
            F.when((F.col("tr") == 0) & (F.col("post") == 0), mean)
        ).cast("long").alias("c0"),
        F.sum("n").cast("long").alias("n_total"),
    )
    return m.select(
        "n_total",
        F.col("t0").alias("treat_pre_c_e2"),
        F.col("t1").alias("treat_post_c_e2"),
        F.col("c0").alias("ctrl_pre_c_e2"),
        F.col("c1").alias("ctrl_post_c_e2"),
        (
            (F.col("t1") - F.col("t0"))
            - (F.col("c1") - F.col("c0"))
        ).alias("did_c_e2"),
    )


_AR_MIN_SUPPORT = 3


@query(
    "assoc_rules_lift",
    oracle=f"""
    WITH b AS (
      SELECT DISTINCT l_orderkey AS ok, p_brand AS item
      FROM lineitem JOIN part ON p_partkey = l_partkey),
    n_orders AS (
      SELECT CAST(count(DISTINCT ok) AS BIGINT) AS nn FROM b),
    isup AS (
      SELECT item, CAST(count(*) AS BIGINT) AS ni FROM b GROUP BY 1),
    pair AS (
      SELECT a.item AS ante, c.item AS cons,
             CAST(count(*) AS BIGINT) AS nab
      FROM b a JOIN b c ON a.ok = c.ok AND a.item <> c.item
      GROUP BY 1, 2),
    r AS (
      SELECT ante, cons, nab, ia.ni AS na, ic.ni AS nc, nn
      FROM pair
      JOIN isup ia ON ia.item = pair.ante
      JOIN isup ic ON ic.item = pair.cons
      CROSS JOIN n_orders
      WHERE nab >= {_AR_MIN_SUPPORT})
    SELECT ante, cons, nab AS support_pair, na AS support_ante,
           nc AS support_cons, nn AS n_baskets,
           nab * 10000 // na AS confidence_e4,
           (nab * nn) * 10000 // (na * nc) AS lift_e4
    FROM r
    """,
)
def assoc_rules_lift(spark: SparkSession, sf: str) -> DataFrame:
    """Directed association rules ante→cons over per-order brand
    baskets, with the two standard strengths as exact integer ticks:
    confidence = P(cons|ante) and lift = P(ante,cons)/(P(ante)·
    P(cons)) — lift computed as (n_ab·N)·1e4 // (n_a·n_b), one
    cross-multiplication so no float enters.  Extends
    frequent_itempairs (which stops at co-occurrence counts) into the
    rule-mining surface.

    Scale: baskets are the DISTINCT (order, brand) pairs — the pair
    self-join keys on order with per-order fanout bounded by
    distinct brands per order (≤ 25); item supports and the basket
    count aggregate off the same deduplicated relation.  Int64:
    n_ab·N·1e4 ≈ 2e17 at the 100x replica — inside; past that drop
    to 1e2 ticks (documented)."""
    b = (
        t(spark, sf, "lineitem")
        .join(
            F.broadcast(
                t(spark, sf, "part").select(
                    F.col("p_partkey").alias("l_partkey"),
                    F.col("p_brand").alias("item"),
                )
            ),
            "l_partkey",
        )
        .select(F.col("l_orderkey").alias("ok"), "item")
        .distinct()
        .persist()  # dedup'd baskets: pair join + supports + count
    )
    nn = b.agg(F.countDistinct("ok").cast("long").alias("nn"))
    isup = b.groupBy("item").agg(
        F.count(F.lit(1)).cast("long").alias("ni")
    )
    a = b.select("ok", F.col("item").alias("ante"))
    c = b.select("ok", F.col("item").alias("cons"))
    pair = (
        a.join(c, "ok")
        .filter(F.col("ante") != F.col("cons"))
        .groupBy("ante", "cons")
        .agg(F.count(F.lit(1)).cast("long").alias("nab"))
        .filter(F.col("nab") >= _AR_MIN_SUPPORT)
    )
    r = (
        pair.join(
            F.broadcast(
                isup.select(
                    F.col("item").alias("ante"),
                    F.col("ni").alias("na"),
                )
            ),
            "ante",
        )
        .join(
            F.broadcast(
                isup.select(
                    F.col("item").alias("cons"),
                    F.col("ni").alias("nc"),
                )
            ),
            "cons",
        )
        .crossJoin(F.broadcast(nn))
    )
    return r.select(
        "ante",
        "cons",
        F.col("nab").alias("support_pair"),
        F.col("na").alias("support_ante"),
        F.col("nc").alias("support_cons"),
        F.col("nn").alias("n_baskets"),
        F.expr("nab * 10000 div na").alias("confidence_e4"),
        F.expr("(nab * nn) * 10000 div (na * nc)").alias("lift_e4"),
    )


_QN_BKT_C = 1_000_000  # $10k value bands for distributed ranking
_QN_CELL = 4096  # rank-space cells for the interval lookup join

def _qn_oracle() -> str:
    return """
    WITH spend AS MATERIALIZED (
      SELECT o_custkey AS ck, c_mktsegment AS seg,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS v
      FROM orders JOIN customer ON c_custkey = o_custkey
      GROUP BY 1, 2),
    r AS MATERIALIZED (
      SELECT ck, seg, v,
             CAST(row_number() OVER (PARTITION BY seg
               ORDER BY v, ck) AS BIGINT) AS r,
             CAST(count(*) OVER (PARTITION BY seg) AS BIGINT) AS ng,
             CAST(count(*) OVER () AS BIGINT) AS nn
      FROM spend),
    p AS MATERIALIZED (
      SELECT v, CAST(row_number() OVER (ORDER BY v, ck) AS BIGINT)
               AS pr
      FROM spend),
    tt AS MATERIALIZED (
      SELECT ck, seg, v, r, ng,
             (r * nn + ng - 1) // ng AS t
      FROM r)
    SELECT tt.ck AS c_custkey, tt.seg AS segment, tt.v AS spend_c,
           tt.r AS rank_in_seg, tt.ng AS n_in_seg,
           tt.t AS pooled_rank, p.v AS normalized_c
    FROM tt JOIN p ON p.pr = tt.t
    """


@query(
    "quantile_normalize_spend",
    oracle=_qn_oracle(),
)
def quantile_normalize_spend(spark: SparkSession, sf: str) -> DataFrame:
    """Exact quantile normalization of per-customer spend ACROSS
    market segments — the bioinformatics/feature-engineering staple
    made distributed-exact: a customer at within-segment rank r (of
    n_g, ties broken by key) maps to pooled rank t = ⌈r·N/n_g⌉ and
    receives the t-th smallest POOLED spend as its normalized value,
    so every segment's normalized distribution is an identical
    subsample of the pooled one.  Every quantity is an exact int64
    (rank cross-products r·N ≈ 2.3e12 at the 100x replica; inside
    int64 to ~3e9 customers).

    Scale: three disciplines compose. (1) Within-segment ranks use
    $10k-band RANGE-PARTITIONED ranking — per-band row_number plus
    broadcast band bases (the distributed-sort shape; AQE absorbs
    residual band skew).  (2) The pooled inverse-CDF is a VALUE
    HISTOGRAM with two-phase cumulative counts; each value owns the
    contiguous pooled-rank interval (pcum−pc, pcum].  (3) The
    rank→value lookup joins targets to intervals through
    4096-wide RANK CELLS (the range_join_event_pairs discipline):
    intervals explode to the cells they span (Σ spans ≈ N/4096 +
    #values), targets key to ONE cell, and the equi-join + contain
    filter yields exactly one row per customer — never an all-pairs
    band product.  The oracle materializes the spend CTE, which it
    references twice (ORACLE_PORTABILITY.md CTE discipline)."""
    spend = (
        t(spark, sf, "orders")
        .select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("c"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("c").cast("long").alias("v"))
        .join(
            F.broadcast(
                t(spark, sf, "customer").select(
                    F.col("c_custkey").alias("o_custkey"),
                    F.col("c_mktsegment").alias("seg"),
                )
            ),
            "o_custkey",
        )
        .select(F.col("o_custkey").alias("ck"), "seg", "v")
        .persist()  # per-customer spend: ranks + pooled CDF + sizes
    )
    b = spend.withColumn("bkt", F.expr(f"v div {_QN_BKT_C}"))
    btot = b.groupBy("seg", "bkt").agg(
        F.count(F.lit(1)).cast("long").alias("bc")
    )
    wsb = (
        W.partitionBy("seg")
        .orderBy("bkt")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    bbase = btot.select(
        "seg",
        "bkt",
        F.coalesce(F.sum("bc").over(wsb), F.lit(0)).alias("base"),
    )
    wrk = W.partitionBy("seg", "bkt").orderBy("v", "ck")
    ranked = b.join(F.broadcast(bbase), ["seg", "bkt"]).select(
        "ck",
        "seg",
        "v",
        (F.col("base") + F.row_number().over(wrk)).cast("long").alias(
            "r"
        ),
    )
    sizes = spend.groupBy(F.col("seg").alias("s_seg")).agg(
        F.count(F.lit(1)).cast("long").alias("ng")
    )
    nn = spend.agg(F.count(F.lit(1)).cast("long").alias("nn"))
    targets = (
        ranked.join(
            F.broadcast(sizes), F.col("s_seg") == F.col("seg")
        )
        .crossJoin(F.broadcast(nn))
        .select(
            "ck",
            "seg",
            "v",
            "r",
            "ng",
            F.expr("(r * nn + ng - 1) div ng").alias("t"),
        )
        .withColumn("cell", F.expr(f"t div {_QN_CELL}"))
    )
    ph = (
        spend.groupBy(F.col("v").alias("pv"))
        .agg(F.count(F.lit(1)).cast("long").alias("pc"))
        .withColumn("pbkt", F.expr(f"pv div {_QN_BKT_C}"))
    )
    pbt = ph.groupBy("pbkt").agg(F.sum("pc").alias("pbc"))
    wpb = W.orderBy("pbkt").rowsBetween(W.unboundedPreceding, -1)
    pbase = pbt.select(
        "pbkt",
        F.coalesce(F.sum("pbc").over(wpb), F.lit(0)).alias("pb"),
    )
    wpv = (
        W.partitionBy("pbkt")
        .orderBy("pv")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    intervals = (
        ph.join(F.broadcast(pbase), "pbkt")
        .select(
            "pv",
            "pc",
            (F.col("pb") + F.sum("pc").over(wpv)).alias("pcum"),
        )
        .select(
            "pv",
            (F.col("pcum") - F.col("pc") + 1).alias("a"),
            F.col("pcum").alias("bb"),
        )
        .select(
            "pv",
            "a",
            "bb",
            F.explode(
                F.sequence(
                    F.expr(f"a div {_QN_CELL}"),
                    F.expr(f"bb div {_QN_CELL}"),
                )
            ).alias("cell"),
        )
    )
    return (
        targets.join(intervals, "cell")
        .filter(
            (F.col("t") >= F.col("a")) & (F.col("t") <= F.col("bb"))
        )
        .select(
            F.col("ck").alias("c_custkey"),
            F.col("seg").alias("segment"),
            F.col("v").alias("spend_c"),
            F.col("r").alias("rank_in_seg"),
            F.col("ng").alias("n_in_seg"),
            F.col("t").alias("pooled_rank"),
            F.col("pv").alias("normalized_c"),
        )
    )


_MAH_TOPK = 50


@query(
    "mahalanobis_outliers_qty_price",
    oracle=f"""
    WITH f AS (
      SELECT l_orderkey AS ok, l_linenumber AS ln,
             CAST(round(l_quantity) AS BIGINT) AS x,
             CAST(round(l_extendedprice) AS BIGINT) AS y
      FROM lineitem),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx_r,
             CAST(sum(x * y) AS BIGINT) AS sxy_r,
             CAST(sum(y * y) AS BIGINT) AS syy_r
      FROM f),
    m AS (SELECT *, sx // n AS mx, sy // n AS my FROM s),
    c AS (
      SELECT n, mx, my,
             sxx_r - 2 * mx * sx + n * mx * mx AS sxx,
             sxy_r - mx * sy - my * sx + n * mx * my AS sxy,
             syy_r - 2 * my * sy + n * my * my AS syy
      FROM m),
    sc AS (
      SELECT ok, ln, x, y,
             round((CAST(syy AS DOUBLE) * ((x - mx) * (x - mx))
                    - 2.0 * CAST(sxy AS DOUBLE)
                      * ((x - mx) * (y - my))
                    + CAST(sxx AS DOUBLE) * ((y - my) * (y - my)))
                   / (CAST(sxx AS DOUBLE) * syy
                      - CAST(sxy AS DOUBLE) * sxy)
                   * CAST(n - 1 AS DOUBLE), 6) AS d2
      FROM f CROSS JOIN c)
    SELECT ok AS l_orderkey, ln AS l_linenumber, x AS qty,
           y AS price_dollars, d2 AS mahalanobis_sq
    FROM sc ORDER BY d2 DESC, ok ASC, ln ASC LIMIT {_MAH_TOPK}
    """,
)
def mahalanobis_outliers_qty_price(
    spark: SparkSession, sf: str
) -> DataFrame:
    """Top-50 bivariate outliers by squared Mahalanobis distance in
    the (quantity, price-dollars) plane — the covariance-aware
    generalization of z-score outliers (a point can be normal in each
    margin yet wildly off the correlation ridge).  The 2×2 covariance
    inverse is closed-form, so d² = (n−1)·(syy·dx² − 2·sxy·dx·dy +
    sxx·dy²)/(sxx·syy − sxy²) with ALL sufficient statistics exact
    int64 central moments about the INTEGER mean (the
    acf_daily_revenue discipline — dollars, not cents, keep syy
    ≈ 6e14 at the 100x replica, well under 2^53 so every double
    product is deterministic).  Per-row scores are pure expressions
    of exact values — no accumulation — hence engine-identical at
    6 dp; the top-k breaks ties by key.

    Scale: two scans of lineitem — ONE raw-moment pass (central
    moments derive algebraically, exactly, from raw sums about the
    integer mean) + the scoring pass (the audited 2-scan budget), a
    1-row moment panel broadcast, and a TakeOrdered top-50.  Int64:
    Σy² ≈ 1e18 at the 100x replica — inside; dollars→$10 units past
    that."""
    f = t(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        F.round(F.col("l_quantity")).cast("long").alias("x"),
        F.round(F.col("l_extendedprice")).cast("long").alias("y"),
    )
    s = f.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx_r"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy_r"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy_r"),
    ).selectExpr("*", "sx div n AS mx", "sy div n AS my")
    # central moments about the INTEGER mean, derived algebraically
    # from the one-pass raw moments (exactly equal in integers):
    # sum((x-mx)^2) = sum(x^2) - 2*mx*sum(x) + n*mx^2
    c = s.selectExpr(
        "n",
        "mx",
        "my",
        "sxx_r - 2 * mx * sx + n * mx * mx AS sxx",
        "sxy_r - mx * sy - my * sx + n * mx * my AS sxy",
        "syy_r - 2 * my * sy + n * my * my AS syy",
    )
    dx = (F.col("x") - F.col("mx")).cast("double")
    dy = (F.col("y") - F.col("my")).cast("double")
    d2 = F.round(
        (
            F.col("syy").cast("double") * dx * dx
            - F.lit(2.0) * F.col("sxy").cast("double") * dx * dy
            + F.col("sxx").cast("double") * dy * dy
        )
        / (
            F.col("sxx").cast("double") * F.col("syy")
            - F.col("sxy").cast("double") * F.col("sxy")
        )
        * (F.col("n") - 1).cast("double"),
        6,
    )
    sc = f.crossJoin(F.broadcast(c)).select(
        F.col("ok").alias("l_orderkey"),
        F.col("ln").alias("l_linenumber"),
        F.col("x").alias("qty"),
        F.col("y").alias("price_dollars"),
        d2.alias("mahalanobis_sq"),
    )
    return sc.orderBy(
        F.desc("mahalanobis_sq"), F.asc("l_orderkey"),
        F.asc("l_linenumber"),
    ).limit(_MAH_TOPK)


@query(
    "markov_next_event_accuracy",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_type,
             epoch_us(ts) AS us, event_id
      FROM {EVENTS_US} events),
    sq AS (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY us, event_id) AS nxt
      FROM e),
    tr AS (
      SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n
      FROM sq WHERE nxt IS NOT NULL GROUP BY 1, 2),
    best AS (
      SELECT cur, nxt AS pred, n,
             row_number() OVER (PARTITION BY cur
               ORDER BY n DESC, nxt ASC) AS rn
      FROM tr),
    j AS (
      SELECT tr.cur, CAST(sum(tr.n) AS BIGINT) AS total,
             CAST(sum(CASE WHEN tr.nxt = best.pred
                      THEN tr.n ELSE 0 END) AS BIGINT) AS correct,
             max(best.pred) AS pred
      FROM tr JOIN best ON best.cur = tr.cur AND best.rn = 1
      GROUP BY 1)
    SELECT cur AS current_event, pred AS predicted_next,
           total AS n_transitions, correct AS n_correct,
           correct * 10000 // total AS accuracy_e4
    FROM j
    """,
)
def markov_next_event_accuracy(spark: SparkSession, sf: str) -> DataFrame:
    """Next-event predictability audit: train the maximum-likelihood
    first-order predictor (per current type, predict the most common
    successor — count ties break alphabetically) and score its
    training accuracy per state, exact 1e4 ticks.  Low ceiling =
    inherently unpredictable stream; near-1 = templated/bot flows —
    the sequence-level cousin of user_type_diversity_simpson.

    Scale: one events scan through the per-user lag window (the
    event_transition_counts shape), then everything runs on the
    k²-bounded transition table; the argmax is a window over ≤ k
    rows per state."""
    sq = (
        t(spark, sf, "events")
        .select(
            "user_id",
            F.col("event_type").alias("cur"),
            F.expr("unix_micros(ts)").alias("us"),
            "event_id",
        )
        .withColumn(
            "nxt",
            F.lead("cur").over(
                W.partitionBy("user_id").orderBy("us", "event_id")
            ),
        )
    )
    tr = (
        sq.filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .persist()  # k^2-bounded transition table
    )
    best = (
        tr.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("cur").orderBy(
                    F.desc("n"), F.asc("nxt")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select(F.col("cur").alias("b_cur"), F.col("nxt").alias("pred"))
    )
    j = (
        tr.join(F.broadcast(best), F.col("b_cur") == F.col("cur"))
        .groupBy("cur")
        .agg(
            F.sum("n").cast("long").alias("total"),
            F.sum(
                F.when(F.col("nxt") == F.col("pred"), F.col("n"))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("correct"),
            F.max("pred").alias("pred"),
        )
    )
    return j.select(
        F.col("cur").alias("current_event"),
        F.col("pred").alias("predicted_next"),
        F.col("total").alias("n_transitions"),
        F.col("correct").alias("n_correct"),
        F.expr("correct * 10000 div total").alias("accuracy_e4"),
    )


_SKY_BKT_C = 1_000_000


@query(
    "skyline_orders_pareto",
    oracle="""
    WITH f AS (
      SELECT o_orderkey AS ok,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
             CAST(datediff('day', DATE '1992-01-01', o_orderdate)
                  AS BIGINT) AS day
      FROM orders),
    rm AS (
      SELECT ok, price_c, day,
             min(day) OVER (ORDER BY price_c DESC, day ASC, ok ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prior_min_day
      FROM f)
    SELECT ok AS o_orderkey, price_c, day
    FROM rm
    WHERE prior_min_day IS NULL OR day < prior_min_day
    """,
)
def skyline_orders_pareto(spark: SparkSession, sf: str) -> DataFrame:
    """2-D skyline (Pareto frontier) of orders: maximize total price,
    minimize order date — the classic SKYLINE operator (Börzsönyi
    2001).  A point survives iff no other order has price ≥ AND date
    ≤ with one strict; the sort-based formulation makes that exact
    without an all-pairs join: scanning by (price DESC, day ASC), a
    row is on the frontier iff its day beats the running MIN day of
    everything already scanned (ties in price are ordered day-ASC, so
    an equal-price earlier-day row correctly dominates its later
    sibling).  Exact (price, day) DUPLICATES are a determinism trap:
    without a key tiebreak the scan order between twins is
    unspecified and WHICH one survives would be engine-dependent —
    the ok ASC tiebreak pins the lowest key as the survivor in both
    engines.

    Scale: the running min runs through the two-phase $10k-band
    discipline on the SPARK side — per-band min panels broadcast as
    the prefix floor, within-band windows partitioned by band — so no
    global single-partition sort exists; the frontier is
    output-bounded.  All-integer throughout."""
    f = t(spark, sf, "orders").select(
        F.col("o_orderkey").alias("ok"),
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("price_c"),
        F.expr(
            "CAST(datediff(o_orderdate, DATE '1992-01-01') AS LONG)"
        ).alias("day"),
    ).withColumn(
        # scan order is price DESC: band index descends as price rises
        "bkt", F.expr(f"-(price_c div {_SKY_BKT_C})")
    ).persist()  # feeds band panel + frontier scan
    btot = f.groupBy("bkt").agg(F.min("day").alias("bmin"))
    wb = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    bbase = btot.select(
        "bkt", F.min("bmin").over(wb).alias("prior_band_min")
    )
    wv = (
        W.partitionBy("bkt")
        .orderBy(F.desc("price_c"), F.asc("day"), F.asc("ok"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    rm = f.join(F.broadcast(bbase), "bkt").select(
        "ok",
        "price_c",
        "day",
        F.least(
            F.coalesce(F.min("day").over(wv), F.lit((1 << 62))),
            F.coalesce(F.col("prior_band_min"), F.lit((1 << 62))),
        ).alias("prior_min_day"),
    )
    return rm.filter(
        F.col("day") < F.col("prior_min_day")
    ).select(
        F.col("ok").alias("o_orderkey"), "price_c", "day"
    )


@query(
    "dup_cluster_size_histogram",
    oracle="""
    WITH fp AS (
      SELECT md5(lower(trim(regexp_replace(text, ' +', ' ', 'g'))))
               AS fingerprint
      FROM documents),
    cl AS (
      SELECT fingerprint, CAST(count(*) AS BIGINT) AS sz
      FROM fp GROUP BY 1)
    SELECT sz AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sz * count(*) AS BIGINT) AS n_docs,
           CAST((sz - 1) * count(*) AS BIGINT) AS n_removable
    FROM cl GROUP BY 1
    """,
)
def dup_cluster_size_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-cluster size distribution over the exact-dedup
    fingerprint (the dedup_exact normalization: collapse runs of
    spaces, trim, lowercase, md5) — the dedup AUDIT every pipeline
    report leads with: how much of the corpus is singleton vs
    small-cluster vs mega-cluster duplication, and how many docs
    deduplication would remove (Σ (size−1)·count).  Pure integer.

    Scale: one documents scan → fingerprint counts → a histogram OF
    the cluster-size table; both aggregates map-side combinable,
    output bounded by distinct cluster sizes."""
    fp = t(spark, sf, "documents").select(
        norm_fingerprint("text").alias("fingerprint")
    )
    cl = fp.groupBy("fingerprint").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    return cl.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1)))
        .cast("long")
        .alias("n_docs"),
        ((F.col("cluster_size") - 1) * F.count(F.lit(1)))
        .cast("long")
        .alias("n_removable"),
    )


_RBO_K = 20
_RBO_P = 0.9


def _rbo_oracle() -> str:
    return f"""
    WITH rev AS (
      SELECT p_brand AS item,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS m
      FROM lineitem JOIN part ON p_partkey = l_partkey GROUP BY 1),
    cnt AS (
      SELECT p_brand AS item,
             CAST(count(DISTINCT l_orderkey) AS BIGINT) AS m
      FROM lineitem JOIN part ON p_partkey = l_partkey GROUP BY 1),
    ra AS (
      SELECT item, row_number() OVER (ORDER BY m DESC, item ASC)
               AS r
      FROM rev QUALIFY r <= {_RBO_K}),
    rb AS (
      SELECT item, row_number() OVER (ORDER BY m DESC, item ASC)
               AS r
      FROM cnt QUALIFY r <= {_RBO_K}),
    depth AS (SELECT unnest(generate_series(1, {_RBO_K})) AS d),
    ov AS (
      SELECT d, CAST(count(x.item) AS BIGINT) AS o
      FROM depth
      LEFT JOIN (SELECT ra.item, ra.r AS r1, rb.r AS r2
                 FROM ra JOIN rb ON rb.item = ra.item) x
        ON x.r1 <= d AND x.r2 <= d
      GROUP BY 1)
    SELECT CAST({_RBO_K} AS BIGINT) AS k,
           CAST(max(CASE WHEN d = {_RBO_K} THEN o END) AS BIGINT)
             AS overlap_at_k,
           round(sum((1.0 - {_RBO_P}) * pow({_RBO_P}, d - 1)
                     * (CAST(o AS DOUBLE) / d)), 6) AS rbo_trunc
    FROM ov
    """


@query("rbo_brand_rankings", oracle=_rbo_oracle())
def rbo_brand_rankings(spark: SparkSession, sf: str) -> DataFrame:
    """Rank-biased overlap (Webber 2010, truncated at depth 20,
    p = 0.9) between two brand rankings — by revenue vs by distinct
    order count: do the two business lenses agree on what the top
    brands are?  RBO's geometric depth weights make it the standard
    top-weighted ranking-similarity measure (Kendall on top-k is
    blind to WHERE in the list disagreements happen).  Published
    truncated sum Σ_{{d≤k}} (1−p)·p^{{d−1}}·overlap_d/d at 6 dp —
    the only floats are pow(0.9, d−1) on ≤ 20 depths and one division
    per depth, identical expressions in both engines; overlap counts
    are exact ints with (metric DESC, brand ASC) tiebreaks.

    Scale: one lineitem scan per ranking metric (audited 2-scan
    budget, both with the part dim broadcast); rankings are
    TakeOrdered top-20 panels, and the depth×overlap grid is
    20×20-bounded."""
    li = t(spark, sf, "lineitem")
    pt = F.broadcast(
        t(spark, sf, "part").select(
            F.col("p_partkey").alias("l_partkey"),
            F.col("p_brand").alias("item"),
        )
    )
    rev = (
        li.select(
            "l_partkey",
            F.round(F.col("l_extendedprice") * 100)
            .cast("long")
            .alias("c"),
        )
        .join(pt, "l_partkey")
        .groupBy("item")
        .agg(F.sum("c").cast("long").alias("m"))
    )
    cnt = (
        li.select("l_partkey", "l_orderkey")
        .join(pt, "l_partkey")
        .groupBy("item")
        .agg(F.countDistinct("l_orderkey").cast("long").alias("m"))
    )

    def topk(df: DataFrame, rcol: str) -> DataFrame:
        top = df.orderBy(F.desc("m"), F.asc("item")).limit(_RBO_K)
        return top.select(
            "item",
            F.row_number()
            .over(W.orderBy(F.desc("m"), F.asc("item")))
            .alias(rcol),
        )

    ra, rb = topk(rev, "r1"), topk(cnt, "r2")
    x = ra.join(rb, "item")
    depth = spark.range(1, _RBO_K + 1).select(
        F.col("id").cast("long").alias("d")
    )
    ov = (
        depth.join(
            F.broadcast(x),
            (F.col("r1") <= F.col("d")) & (F.col("r2") <= F.col("d")),
            "left",
        )
        .groupBy("d")
        .agg(F.count("item").cast("long").alias("o"))
    )
    return ov.agg(
        F.lit(_RBO_K).cast("long").alias("k"),
        F.max(
            F.when(F.col("d") == _RBO_K, F.col("o"))
        ).cast("long").alias("overlap_at_k"),
        F.round(
            F.sum(
                (1.0 - _RBO_P)
                * F.pow(F.lit(_RBO_P), F.col("d") - 1)
                * (F.col("o").cast("double") / F.col("d"))
            ),
            6,
        ).alias("rbo_trunc"),
    )


_DA_RARE_MAX = 15  # the triangle_count_copurchase edge-build bound


def _da_oracle() -> str:
    return f"""
    WITH cp AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    deg0 AS (SELECT p, count(*) AS nc FROM cp GROUP BY p),
    e AS MATERIALIZED (
      SELECT DISTINCT a.c AS u, b.c AS v
      FROM cp a
      JOIN cp b ON a.p = b.p AND a.c < b.c
      WHERE a.p IN (SELECT p FROM deg0 WHERE nc <= {_DA_RARE_MAX})),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v FROM e)
      GROUP BY 1),
    pts AS (
      SELECT du.d AS x, dv.d AS y
      FROM e e JOIN deg du ON du.node = e.u
             JOIN deg dv ON dv.node = e.v
      UNION ALL
      SELECT dv.d, du.d
      FROM e e JOIN deg du ON du.node = e.u
             JOIN deg dv ON dv.node = e.v),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM pts)
    SELECT m AS n_endpoints,
           floor(CAST(m * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
                        * CAST(m * syy - sy * sy AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS assortativity
    FROM s WHERE m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0
    """


@query(
    "degree_assortativity_copurchase",
    oracle=_da_oracle(),
)
def degree_assortativity_copurchase(
    spark: SparkSession, sf: str
) -> DataFrame:
    """Degree assortativity of the rare-part copurchase graph
    (Newman 2002): the Pearson correlation of endpoint degrees over
    all directed edge orientations — positive means hubs attach to
    hubs (social-network-like), negative means hubs attach to leaves
    (hub-and-spoke).  Shares triangle_count_copurchase's audited edge
    build (rare parts only, so pair growth is df-bounded); sufficient
    statistics are exact int64 sums (the groupwise_ols discipline)
    and the publication is one sqrt + division via the
    engine-identical floor form.

    Scale: the edge self-join fans out only on rare parts (≤ 15
    customers each); the moment sums collapse to NODE-level
    sufficient statistics (m = Σd, sx = Σd², sxx = Σd³,
    sxy = Σ d(n)·T(n) with T(n) the neighbor-degree sum), so the
    edge relation is joined exactly once.  Int64: degrees ≤
    graph-bounded hundreds, Σd·T ≪ 1e15 at the 100x replica."""
    cp = (
        t(spark, sf, "orders")
        .select("o_orderkey", "o_custkey")
        .join(
            t(spark, sf, "lineitem").select("l_orderkey", "l_partkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p")
        )
        .distinct()
        .persist()  # (customer, part) incidence: degree filter + join
    )
    rare = (
        cp.groupBy("p")
        .agg(F.count(F.lit(1)).alias("nc"))
        .filter(F.col("nc") <= _DA_RARE_MAX)
        .select("p")
    )
    cpr = cp.join(F.broadcast(rare), "p")
    # edge list, persisted: degrees + point pairs
    e = bucket_pairs(cpr, "c", "u", "v", on=("p",)).persist()
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    # Node-level sufficient statistics instead of the naive
    # edge-level double join: over the symmetric directed-edge point
    # set, m = Σ d(n), sx = sy = Σ d(n)^2, sxx = syy = Σ d(n)^3, and
    # sxy = Σ_n d(n)·T(n) with T(n) = Σ_{m ∈ N(n)} d(m).  Only T
    # needs the edge relation, so the plan does ONE broadcast join
    # over the directed edges (vs two exchanges + a second full edge
    # pass before) — the same exact integer sums, half the edge work,
    # and at 100 TB the edge relation is touched once, not three
    # times.
    dirs = e.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        e.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    # d(a) falls out of the same groupBy for free: dirs holds exactly
    # deg(a) rows per source node, so count(*) == the degree
    node_stats = (
        dirs.join(F.broadcast(db), "b")
        .groupBy("a")
        .agg(
            F.count(F.lit(1)).cast("long").alias("d"),
            F.sum("db").cast("long").alias("tb"),
        )
    )
    s = node_stats.agg(
        F.sum("d").cast("long").alias("m"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sx"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sy"),
        F.sum(F.col("d") * F.col("tb")).cast("long").alias("sxy"),
        F.sum(F.col("d") * F.col("d") * F.col("d"))
        .cast("long")
        .alias("sxx"),
        F.sum(F.col("d") * F.col("d") * F.col("d"))
        .cast("long")
        .alias("syy"),
    )
    return s.filter(
        (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
        & (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy") > 0)
    ).select(
        F.col("m").alias("n_endpoints"),
        (
            F.floor(
                (
                    F.col("m") * F.col("sxy")
                    - F.col("sx") * F.col("sy")
                ).cast("double")
                / F.sqrt(
                    (
                        F.col("m") * F.col("sxx")
                        - F.col("sx") * F.col("sx")
                    ).cast("double")
                    * (
                        F.col("m") * F.col("syy")
                        - F.col("sy") * F.col("sy")
                    ).cast("double")
                )
                * 1e6
                + 0.5
            )
            / 1e6
        ).alias("assortativity"),
    )


@query(
    "heaps_law_vocab_growth",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split(lower(text), ' '),
                                x -> x <> '')) AS w
      FROM documents),
    fw AS (
      SELECT w, CAST(min(doc_id) AS BIGINT) AS first_doc
      FROM toks GROUP BY 1),
    tokc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS ntok
      FROM toks GROUP BY 1),
    dd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM tokc),
    chk AS (
      SELECT CAST(unnest(generate_series(1, 10)) AS BIGINT)
               AS decile),
    cut AS (
      SELECT decile,
             (SELECT CAST(max(doc_id) AS BIGINT) FROM (
                SELECT doc_id,
                       row_number() OVER (ORDER BY doc_id) AS rn
                FROM tokc) r
              CROSS JOIN dd
              WHERE rn <= decile * nd // 10) AS cutoff_doc
      FROM chk)
    SELECT decile, cutoff_doc,
           CAST((SELECT count(*) FROM fw
                 WHERE first_doc <= cutoff_doc) AS BIGINT)
             AS vocab_types,
           CAST((SELECT sum(ntok) FROM tokc
                 WHERE doc_id <= cutoff_doc) AS BIGINT)
             AS total_tokens
    FROM cut
    """,
)
def heaps_law_vocab_growth(spark: SparkSession, sf: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: distinct word types vs
    cumulative tokens after each doc_id-ordered DECILE of the corpus
    — the sub-linear type growth a natural corpus shows, and the
    audit that catches template corpora (vocab saturates early) and
    id-spam (vocab grows linearly).  Exact without re-scanning any
    prefix: a word's contribution to every checkpoint is determined
    by its FIRST document (min doc_id), so one pass computes
    first-occurrence per type and per-doc token counts, and the
    decile curve is two bounded lookups per checkpoint.

    Scale: one documents scan; per-type min and per-doc counts are
    map-side combinable; checkpoints are a 10-row panel joined
    against vocab-first-doc and token-count aggregates (broadcast
    range conditions, outputs 10 rows)."""
    toks = t(spark, sf, "documents").select(
        "doc_id",
        F.explode(tokens("text", lowercase=True)).alias("w"),
    )
    fw = toks.groupBy("w").agg(
        F.min("doc_id").cast("long").alias("first_doc")
    )
    tokc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("ntok")
    ).persist()  # doc panel: deciles cutoffs + cumulative tokens
    nd = tokc.agg(F.count(F.lit(1)).cast("long").alias("nd"))
    rn = tokc.select(
        "doc_id",
        F.row_number().over(W.orderBy("doc_id")).alias("rn"),
    )
    decile = spark.range(1, 11).select(
        F.col("id").cast("long").alias("decile")
    )
    cut = (
        decile.crossJoin(F.broadcast(nd))
        .join(
            F.broadcast(rn),
            F.col("rn") <= F.expr("decile * nd div 10"),
            "left",
        )
        .groupBy("decile")
        .agg(F.max("doc_id").cast("long").alias("cutoff_doc"))
    )
    vt = (
        cut.join(
            F.broadcast(fw),
            F.col("first_doc") <= F.col("cutoff_doc"),
            "left",
        )
        .groupBy("decile", "cutoff_doc")
        .agg(F.count("first_doc").cast("long").alias("vocab_types"))
    )
    return (
        vt.join(
            tokc,
            F.col("doc_id") <= F.col("cutoff_doc"),
            "left",
        )
        .groupBy("decile", "cutoff_doc", "vocab_types")
        .agg(F.sum("ntok").cast("long").alias("total_tokens"))
        .select("decile", "cutoff_doc", "vocab_types", "total_tokens")
    )


_ABC_BKT_C = 1_000_000


@query(
    "abc_inventory_classification",
    oracle="""
    WITH pr AS (
      SELECT l_partkey AS pk,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_c
      FROM lineitem GROUP BY 1),
    tot AS (SELECT CAST(sum(rev_c) AS BIGINT) AS tc FROM pr),
    cum AS (
      SELECT pk, rev_c,
             CAST(sum(rev_c) OVER (ORDER BY rev_c DESC, pk ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS c
      FROM pr),
    cl AS (
      SELECT CASE WHEN c <= tc * 80 // 100 THEN 'A'
                  WHEN c <= tc * 95 // 100 THEN 'B'
                  ELSE 'C' END AS klass,
             rev_c, tc
      FROM cum CROSS JOIN tot)
    SELECT klass, CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(rev_c) AS BIGINT) AS revenue_c,
           CAST(sum(rev_c) AS BIGINT) * 10000 // max(tc)
             AS share_e4
    FROM cl GROUP BY 1
    """,
)
def abc_inventory_classification(
    spark: SparkSession, sf: str
) -> DataFrame:
    """ABC inventory classification — the operations-research staple:
    parts ranked by revenue, class A = the head covering the first
    80% of cumulative revenue, B = next 15%, C = the tail.  Class
    boundaries are EXACT integer comparisons (cum ≤ tc·80//100 on
    cents), ties in revenue break by part key, and the published
    shares are 1e4 ticks.

    Scale: one lineitem scan → per-part revenue; the descending
    cumulative uses the two-phase $10k-band discipline (negated band
    index so band order follows revenue DESC; per-part windows
    partitioned by band), the total broadcasts, and the output is 3
    rows.  Int64: tc·1e4 ≈ 2e17 at the 100x replica."""
    pr = (
        t(spark, sf, "lineitem")
        .select(
            F.col("l_partkey").alias("pk"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("long")
            .alias("c"),
        )
        .groupBy("pk")
        .agg(F.sum("c").cast("long").alias("rev_c"))
        .withColumn("bkt", F.expr(f"-(rev_c div {_ABC_BKT_C})"))
        .persist()  # part panel: band bases + total + classify
    )
    tot = pr.agg(F.sum("rev_c").cast("long").alias("tc"))
    btot = pr.groupBy("bkt").agg(F.sum("rev_c").alias("bsum"))
    wb = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    bbase = btot.select(
        "bkt",
        F.coalesce(F.sum("bsum").over(wb), F.lit(0)).alias("base"),
    )
    wv = (
        W.partitionBy("bkt")
        .orderBy(F.desc("rev_c"), F.asc("pk"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = pr.join(F.broadcast(bbase), "bkt").select(
        "pk",
        "rev_c",
        (F.col("base") + F.sum("rev_c").over(wv)).alias("c"),
    )
    cl = cum.crossJoin(F.broadcast(tot)).select(
        F.when(
            F.col("c") <= F.expr("tc * 80 div 100"), F.lit("A")
        )
        .when(F.col("c") <= F.expr("tc * 95 div 100"), F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("klass"),
        "rev_c",
        "tc",
    )
    return cl.groupBy("klass").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("rev_c").cast("long").alias("revenue_c"),
        F.expr(
            "CAST(sum(rev_c) AS BIGINT) * 10000 div max(tc)"
        ).alias("share_e4"),
    )


_SPRT_P0 = 0.18
_SPRT_P1 = 0.22
_SPRT_A = 2.944  # ln((1-beta)/alpha), alpha=beta=0.05
_SPRT_B = -2.944


@query(
    "sprt_first_crossing",
    oracle=f"""
    WITH d AS (
      SELECT CAST(datediff('day', DATE '1992-01-01', o_orderdate)
                  AS BIGINT) AS day,
             CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                      THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1),
    c AS (
      SELECT day,
             CAST(sum(n1) OVER w AS BIGINT) AS c1,
             CAST(sum(n) OVER w AS BIGINT) AS cn
      FROM d
      WINDOW w AS (ORDER BY day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    llr AS (
      SELECT day, c1, cn,
             c1 * ln({_SPRT_P1} / {_SPRT_P0})
             + (cn - c1) * ln((1.0 - {_SPRT_P1}) / (1.0 - {_SPRT_P0}))
               AS s
      FROM c),
    hit AS (
      SELECT day, c1, cn, s,
             CASE WHEN s >= {_SPRT_A} THEN 'accept_h1'
                  WHEN s <= {_SPRT_B} THEN 'accept_h0'
             END AS decision
      FROM llr)
    SELECT day AS decision_day, c1 AS n_successes, cn AS n_trials,
           round(s, 6) AS llr, decision
    FROM hit WHERE decision IS NOT NULL
    ORDER BY day ASC LIMIT 1
    """,
)
def sprt_first_crossing(spark: SparkSession, sf: str) -> DataFrame:
    """Wald's sequential probability ratio test, replayed over the
    daily URGENT-priority rate: cumulative log-likelihood ratio for
    H1: p = 0.22 vs H0: p = 0.18 (α = β = 0.05 boundaries ±2.944),
    reporting the FIRST day the walk crosses either boundary — the
    sequential-testing primitive that lets an experiment stop early.
    The LLR is c1·ln(p1/p0) + (cn−c1)·ln(q1/q0) with both counts
    exact int64 cumulatives, so each day's statistic is a pure
    two-term double expression (no accumulation drift) and the
    crossing day is deterministic.

    Scale: one orders scan to the calendar-bounded daily aggregate;
    the cumulative runs over days (bounded), and the first crossing
    is a TakeOrdered top-1."""
    d = (
        t(spark, sf, "orders")
        .groupBy(
            F.expr(
                "CAST(datediff(o_orderdate, DATE '1992-01-01')"
                " AS LONG)"
            ).alias("day")
        )
        .agg(
            F.sum(
                (F.col("o_orderpriority") == "1-URGENT").cast("long")
            ).alias("n1"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    wd = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    c = d.select(
        "day",
        F.sum("n1").over(wd).cast("long").alias("c1"),
        F.sum("n").over(wd).cast("long").alias("cn"),
    )
    import math

    l1 = math.log(_SPRT_P1 / _SPRT_P0)
    l0 = math.log((1.0 - _SPRT_P1) / (1.0 - _SPRT_P0))
    llr = c.select(
        "day",
        "c1",
        "cn",
        (
            F.col("c1") * F.lit(l1)
            + (F.col("cn") - F.col("c1")) * F.lit(l0)
        ).alias("s"),
    )
    hit = llr.select(
        "day",
        "c1",
        "cn",
        "s",
        F.when(F.col("s") >= _SPRT_A, F.lit("accept_h1"))
        .when(F.col("s") <= _SPRT_B, F.lit("accept_h0"))
        .alias("decision"),
    ).filter(F.col("decision").isNotNull())
    return (
        hit.orderBy(F.asc("day"))
        .limit(1)
        .select(
            F.col("day").alias("decision_day"),
            F.col("c1").alias("n_successes"),
            F.col("cn").alias("n_trials"),
            F.round("s", 6).alias("llr"),
            "decision",
        )
    )


_BD_TOP = 50


def _bd_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT source,
             unnest(list_filter(string_split(lower(text), ' '),
                                x -> x <> '')) AS w
      FROM documents),
    wc AS MATERIALIZED (
      SELECT source, w, CAST(count(*) AS BIGINT) AS n
      FROM toks GROUP BY 1, 2),
    stot AS (
      SELECT source, CAST(sum(n) AS BIGINT) AS tot
      FROM wc GROUP BY 1),
    gw AS (
      SELECT w, CAST(sum(n) AS BIGINT) AS gn FROM wc GROUP BY 1),
    top AS (
      SELECT w FROM gw ORDER BY gn DESC, w ASC LIMIT {_BD_TOP}),
    grid AS (
      SELECT top.w, stot.source, stot.tot FROM top CROSS JOIN stot),
    fr AS MATERIALIZED (
      SELECT grid.w, grid.source,
             coalesce(wc.n, 0) * 1000.0 / grid.tot AS f
      FROM grid LEFT JOIN wc
        ON wc.w = grid.w AND wc.source = grid.source),
    ms AS (
      SELECT w, avg(f) AS mu,
             sqrt(avg((f - (SELECT avg(f) FROM fr f2
                            WHERE f2.w = fr.w))
                      * (f - (SELECT avg(f) FROM fr f3
                              WHERE f3.w = fr.w)))) AS sd
      FROM fr GROUP BY w),
    z AS (
      SELECT fr.w, fr.source, (fr.f - ms.mu) / ms.sd AS z
      FROM fr JOIN ms ON ms.w = fr.w WHERE ms.sd > 0),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             abs(a.z - b.z) AS dz
      FROM z a JOIN z b ON a.w = b.w AND a.source < b.source)
    SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_words,
           round(avg(dz), 6) AS burrows_delta
    FROM pairs GROUP BY 1, 2
    """


@query("burrows_delta_sources", oracle=_bd_oracle())
def burrows_delta_sources(spark: SparkSession, sf: str) -> DataFrame:
    """Burrows' Delta between every source pair — the stylometry
    classic (authorship attribution, and for training data a
    register-drift detector between corpus slices): z-score each of
    the top-50 words' per-mille frequencies across sources
    (population sd over the source panel), Delta = mean |z_a − z_b|.
    All heavy quantities are exact ints (word counts, source totals);
    floats live only on the 50×n_sources panel, where the avg/sd
    accumulations span ≤ n_sources values (noise ~1e-16, 6 dp
    publication).

    Scale: one documents scan → (source, word) counts; the top-50
    vocabulary is a TakeOrdered panel; everything downstream is
    50×n_sources-bounded.  The oracle's correlated-subquery sd is
    panel-sized too."""
    toks = t(spark, sf, "documents").select(
        "source",
        F.explode(tokens("text", lowercase=True)).alias("w"),
    )
    wc = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).persist()  # (source, word) counts: totals + top vocab + grid
    stot = wc.groupBy(F.col("source").alias("s_src")).agg(
        F.sum("n").cast("long").alias("tot")
    )
    top = (
        wc.groupBy("w")
        .agg(F.sum("n").cast("long").alias("gn"))
        .orderBy(F.desc("gn"), F.asc("w"))
        .limit(_BD_TOP)
        .select("w")
    )
    grid = top.crossJoin(F.broadcast(stot))
    wcx = wc.select(
        F.col("w").alias("x_w"),
        F.col("source").alias("x_src"),
        F.col("n").alias("x_n"),
    )
    fr = grid.join(
        wcx,
        (F.col("x_w") == grid["w"])
        & (F.col("x_src") == F.col("s_src")),
        "left",
    ).select(
        grid["w"],
        F.col("s_src").alias("source"),
        (
            F.coalesce(F.col("x_n"), F.lit(0)) * 1000.0
            / F.col("tot")
        ).alias("f"),
    )
    ms = fr.groupBy(F.col("w").alias("m_w")).agg(
        F.avg("f").alias("mu"),
        F.sqrt(
            F.avg(F.col("f") * F.col("f"))
            - F.avg("f") * F.avg("f")
        ).alias("sd_raw"),
    )
    # population sd via E[f^2] - E[f]^2 can differ from the oracle's
    # E[(f-mu)^2] at ~1e-13 relative; recompute the centered form for
    # engine parity (two panel-sized aggregates, still bounded)
    ms2 = (
        fr.join(
            ms.select(F.col("m_w").alias("w2"), "mu"),
            F.col("w2") == fr["w"],
        )
        .groupBy(F.col("w2").alias("m_w"), "mu")
        .agg(
            F.sqrt(
                F.avg(
                    (F.col("f") - F.col("mu"))
                    * (F.col("f") - F.col("mu"))
                )
            ).alias("sd")
        )
    )
    z = fr.join(ms2, F.col("m_w") == fr["w"]).filter(
        F.col("sd") > 0
    ).select(
        fr["w"],
        "source",
        ((F.col("f") - F.col("mu")) / F.col("sd")).alias("z"),
    )
    a = z.select(
        F.col("w").alias("aw"),
        F.col("source").alias("src_a"),
        F.col("z").alias("za"),
    )
    b = z.select(
        F.col("w").alias("bw"),
        F.col("source").alias("src_b"),
        F.col("z").alias("zb"),
    )
    pairs = a.join(
        b,
        (F.col("aw") == F.col("bw"))
        & (F.col("src_a") < F.col("src_b")),
    )
    return pairs.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.round(F.avg(F.abs(F.col("za") - F.col("zb"))), 6).alias(
            "burrows_delta"
        ),
    )


@query(
    "cohens_d_effect_size",
    oracle=f"""
    WITH f AS (
      SELECT CASE WHEN o_orderpriority = '{_KS_G1}' THEN 1 ELSE 0 END
               AS g,
             CAST(round(o_totalprice / 100) AS BIGINT) AS y
      FROM orders
      WHERE o_orderpriority IN ('{_KS_G0}', '{_KS_G1}')),
    s AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM f GROUP BY 1),
    m AS (
      SELECT CAST(max(CASE WHEN g = 0 THEN n END) AS BIGINT) AS n0,
             CAST(max(CASE WHEN g = 0 THEN sy END) AS BIGINT) AS sy0,
             CAST(max(CASE WHEN g = 0 THEN syy END) AS BIGINT)
               AS syy0,
             CAST(max(CASE WHEN g = 1 THEN n END) AS BIGINT) AS n1,
             CAST(max(CASE WHEN g = 1 THEN sy END) AS BIGINT) AS sy1,
             CAST(max(CASE WHEN g = 1 THEN syy END) AS BIGINT)
               AS syy1
      FROM s)
    SELECT n0, n1,
           floor((CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0)
                 / sqrt(((syy0 - CAST(sy0 AS DOUBLE) * sy0 / n0)
                         + (syy1 - CAST(sy1 AS DOUBLE) * sy1 / n1))
                        / (n0 + n1 - 2))
                 * 1e6 + 0.5) / 1e6 AS cohens_d
    FROM m WHERE n0 > 1 AND n1 > 1
    """,
)
def cohens_d_effect_size(spark: SparkSession, sf: str) -> DataFrame:
    """Cohen's d between the URGENT and LOW order-total samples —
    the standardized effect size every A/B readout should report
    beside its p-value: (mean1 − mean0) / pooled sd.  Sufficient
    statistics are exact int64 (n, Σy, Σy² per group) over $100-UNIT
    totals — d is scale-invariant, and the audit (memory:
    integer-tick headroom) showed cents² overflows int64 at the 100x
    replica (y² ≤ 3.6e15 × 3e6 rows ≈ 1e22), while $100 units keep
    Σy² ≈ 1e16 even at 100 TB row counts.  The statistic is thus
    defined on $100-quantized totals; the final expression is a fixed
    dag of double ops on exact inputs, published via the
    engine-identical floor(x·1e6 + 0.5) form.  Completes the
    two-sample battery (exact KS for distribution shape, Mann-Whitney
    for stochastic dominance, Cohen's d for magnitude).

    Scale: one orders scan, one 2-row aggregate, one 1-row pivot."""
    f = (
        t(spark, sf, "orders")
        .filter(F.col("o_orderpriority").isin(_KS_G0, _KS_G1))
        .select(
            (F.col("o_orderpriority") == _KS_G1)
            .cast("long")
            .alias("g"),
            F.round(F.col("o_totalprice") / 100)
            .cast("long")
            .alias("y"),
        )
    )
    s = f.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    m = s.agg(
        F.max(F.when(F.col("g") == 0, F.col("n"))).cast("long").alias("n0"),
        F.max(F.when(F.col("g") == 0, F.col("sy"))).cast("long").alias("sy0"),
        F.max(F.when(F.col("g") == 0, F.col("syy"))).cast("long").alias("syy0"),
        F.max(F.when(F.col("g") == 1, F.col("n"))).cast("long").alias("n1"),
        F.max(F.when(F.col("g") == 1, F.col("sy"))).cast("long").alias("sy1"),
        F.max(F.when(F.col("g") == 1, F.col("syy"))).cast("long").alias("syy1"),
    )
    d = (
        F.col("sy1").cast("double") / F.col("n1")
        - F.col("sy0").cast("double") / F.col("n0")
    ) / F.sqrt(
        (
            (
                F.col("syy0")
                - F.col("sy0").cast("double") * F.col("sy0") / F.col("n0")
            )
            + (
                F.col("syy1")
                - F.col("sy1").cast("double") * F.col("sy1") / F.col("n1")
            )
        )
        / (F.col("n0") + F.col("n1") - 2)
    )
    return m.filter((F.col("n0") > 1) & (F.col("n1") > 1)).select(
        "n0",
        "n1",
        (F.floor(d * 1e6 + 0.5) / 1e6).alias("cohens_d"),
    )


@query(
    "chao1_vocab_estimate",
    oracle="""
    WITH toks AS (
      SELECT unnest(list_filter(string_split(lower(text), ' '),
                                x -> x <> '')) AS w
      FROM documents),
    f AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY 1),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS d,
             CAST(sum(n) AS BIGINT) AS ntok,
             CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS f1,
             CAST(sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS f2
      FROM f)
    SELECT d AS observed_types, ntok AS total_tokens, f1 AS singletons,
           f2 AS doubletons,
           CASE WHEN f2 > 0 THEN d + f1 * f1 // (2 * f2)
                ELSE d + f1 * (f1 - 1) // 2 END AS chao1_estimate,
           f1 * 1000000 // ntok AS unseen_mass_e6
    FROM s
    """,
)
def chao1_vocab_estimate(spark: SparkSession, sf: str) -> DataFrame:
    """Chao1 vocabulary-richness estimate + Good-Turing unseen mass —
    the two classical answers to 'how much vocabulary have we NOT
    seen yet', the quantitative partner to heaps_law_vocab_growth:
    Chao1 = D + f1²/(2·f2) from singleton/doubleton counts (the
    bias-corrected f1(f1−1)/2 form when no doubletons exist), and
    P(next token is a new type) ≈ f1/N — both published as exact
    integer arithmetic (floor'd estimate, 1e6 ticks for the mass).

    Scale: one corpus scan → word counts → four conditional sums;
    everything map-side combinable, 1-row output.  Int64:
    f1² ≈ 1e12 even at 1e6 singleton types."""
    f = (
        t(spark, sf, "documents")
        .select(
            F.explode(tokens("text", lowercase=True)).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    s = f.agg(
        F.count(F.lit(1)).cast("long").alias("d"),
        F.sum("n").cast("long").alias("ntok"),
        F.sum((F.col("n") == 1).cast("long")).cast("long").alias("f1"),
        F.sum((F.col("n") == 2).cast("long")).cast("long").alias("f2"),
    )
    return s.select(
        F.col("d").alias("observed_types"),
        F.col("ntok").alias("total_tokens"),
        F.col("f1").alias("singletons"),
        F.col("f2").alias("doubletons"),
        F.when(
            F.col("f2") > 0,
            F.col("d") + F.expr("f1 * f1 div (2 * f2)"),
        )
        .otherwise(F.col("d") + F.expr("f1 * (f1 - 1) div 2"))
        .alias("chao1_estimate"),
        F.expr("f1 * 1000000 div ntok").alias("unseen_mass_e6"),
    )


@query(
    "token_length_histogram",
    oracle="""
    WITH toks AS (
      SELECT lang,
             unnest(list_filter(string_split(lower(text), ' '),
                                x -> x <> '')) AS w
      FROM documents)
    SELECT lang, CAST(length(w) AS BIGINT) AS token_len,
           CAST(count(*) AS BIGINT) AS n
    FROM toks GROUP BY 1, 2
    """,
)
def token_length_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Token-length distribution per language — the cheapest
    language-ID feature there is (character-length profiles differ
    sharply across scripts), and the sanity histogram every tokenizer
    change should be diffed against.  Pure integer counts.

    Scale: one scan, one map-side-combinable aggregate; output
    bounded by langs × max token length."""
    return (
        t(spark, sf, "documents")
        .select(
            "lang",
            F.explode(tokens("text", lowercase=True)).alias("w"),
        )
        .select("lang", F.length("w").cast("long").alias("token_len"))
        .groupBy("lang", "token_len")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


@query(
    "runs_test_daily_revenue",
    oracle="""
    WITH daily AS (
      SELECT o_orderdate AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders GROUP BY 1),
    d AS (
      SELECT day, x - lag(x) OVER (ORDER BY day) AS dx FROM daily),
    s AS (
      SELECT day, CASE WHEN dx > 0 THEN 1 ELSE -1 END AS sgn
      FROM d WHERE dx IS NOT NULL AND dx <> 0),
    r AS (
      SELECT sgn,
             CASE WHEN sgn <> lag(sgn) OVER (ORDER BY day)
                  THEN 1 ELSE 0 END AS flip
      FROM s),
    agg AS (
      SELECT CAST(1 + sum(coalesce(flip, 0)) AS BIGINT) AS runs,
             CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_up,
             CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_down
      FROM r)
    SELECT runs, n_up, n_down,
           floor((runs - (1.0 + 2.0 * n_up * n_down
                          / (n_up + n_down)))
                 / sqrt(2.0 * n_up * n_down
                        * (2.0 * n_up * n_down - n_up - n_down)
                        / ((n_up + n_down) * (n_up + n_down)
                           * (n_up + n_down - 1.0)))
                 * 1e6 + 0.5) / 1e6 AS z_score
    FROM agg WHERE n_up > 0 AND n_down > 0
      AND 2 * n_up * n_down > n_up + n_down
    """,
)
def runs_test_daily_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the daily-revenue up/down sequence
    — the randomness audit behind 'is this series trending/mean-
    reverting or indistinguishable from noise': count R runs of
    consecutive same-sign day-over-day changes, compare with the
    exact null mean 1 + 2·n₊·n₋/n and variance.  R, n₊, n₋ are exact
    ints off the calendar-bounded daily series (zero changes dropped,
    the standard convention); z is one fixed double expression of
    exact ints, published via the engine-identical floor form.

    Scale: one orders scan to the daily aggregate; the sign/flip
    windows run over calendar-bounded days."""
    daily = (
        t(spark, sf, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("x")
        )
    )
    wd = W.orderBy("day")
    d = daily.select(
        "day", (F.col("x") - F.lag("x").over(wd)).alias("dx")
    )
    s = d.filter(
        F.col("dx").isNotNull() & (F.col("dx") != 0)
    ).select(
        "day",
        F.when(F.col("dx") > 0, F.lit(1)).otherwise(F.lit(-1)).alias(
            "sgn"
        ),
    )
    r = s.select(
        "sgn",
        F.when(
            F.col("sgn") != F.lag("sgn").over(wd), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("flip"),
    )
    agg = r.agg(
        (1 + F.sum(F.coalesce(F.col("flip"), F.lit(0))))
        .cast("long")
        .alias("runs"),
        F.sum((F.col("sgn") == 1).cast("long")).cast("long").alias(
            "n_up"
        ),
        F.sum((F.col("sgn") == -1).cast("long")).cast("long").alias(
            "n_down"
        ),
    )
    nu, nd = F.col("n_up").cast("double"), F.col("n_down").cast("double")
    mu = F.lit(1.0) + F.lit(2.0) * nu * nd / (nu + nd)
    var = (
        F.lit(2.0)
        * nu
        * nd
        * (F.lit(2.0) * nu * nd - nu - nd)
        / ((nu + nd) * (nu + nd) * (nu + nd - F.lit(1.0)))
    )
    return agg.filter(
        (F.col("n_up") > 0)
        & (F.col("n_down") > 0)
        # null variance guard: var = 0 exactly when 2 n+ n- = n
        & (2 * F.col("n_up") * F.col("n_down")
           > F.col("n_up") + F.col("n_down"))
    ).select(
        "runs",
        "n_up",
        "n_down",
        (
            F.floor(
                (F.col("runs") - mu) / F.sqrt(var) * 1e6 + 0.5
            )
            / 1e6
        ).alias("z_score"),
    )


_LZ_BKT_C = 1_000_000


@query(
    "lorenz_curve_deciles",
    oracle="""
    WITH spend AS (
      SELECT o_custkey AS ck,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS v
      FROM orders GROUP BY 1),
    rk AS (
      SELECT ck, v,
             CAST(row_number() OVER (ORDER BY v ASC, ck ASC)
                  AS BIGINT) AS r,
             CAST(count(*) OVER () AS BIGINT) AS n,
             CAST(sum(v) OVER () AS BIGINT) AS tv
      FROM spend),
    dec AS (
      SELECT (r * 10 - 1) // n + 1 AS decile, v, n, tv FROM rk),
    g AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
             CAST(sum(v) AS BIGINT) AS spend_c,
             max(n) AS n, max(tv) AS tv
      FROM dec GROUP BY 1),
    c AS (
      SELECT decile, n_customers, spend_c,
             CAST(sum(spend_c) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_c,
             tv
      FROM g)
    SELECT decile, n_customers, spend_c,
           cum_c * 10000 // tv AS cum_share_e4
    FROM c
    """,
)
def lorenz_curve_deciles(spark: SparkSession, sf: str) -> DataFrame:
    """Lorenz curve of customer spend by population decile — the
    CURVE behind gini_order_concentration's coefficient: customers
    ranked ascending by total spend (key tiebreak), split into ten
    equal-population bins via the exact integer rule decile =
    (r·10 − 1)//n + 1, each reporting its cumulative share of total
    spend in 1e4 ticks.  A perfectly equal population reads 1000,
    2000, …; concentration bows the curve down.

    Scale: ranks come from the same two-phase $10k-band discipline as
    quantile_normalize_spend (band windows, broadcast bases — no
    global sort); the decile aggregate and its 10-row cumsum are
    panel-sized.  Int64: cum_c·1e4 ≈ 2e17 at the 100x replica."""
    spend = (
        t(spark, sf, "orders")
        .select(
            F.col("o_custkey").alias("ck"),
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("c"),
        )
        .groupBy("ck")
        .agg(F.sum("c").cast("long").alias("v"))
        .withColumn("bkt", F.expr(f"v div {_LZ_BKT_C}"))
        .persist()  # customer spend panel: bases + totals + rank
    )
    tot = spend.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("tv"),
    )
    btot = spend.groupBy("bkt").agg(F.count(F.lit(1)).alias("bc"))
    wb = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    bbase = btot.select(
        "bkt",
        F.coalesce(F.sum("bc").over(wb), F.lit(0)).alias("base"),
    )
    wrk = W.partitionBy("bkt").orderBy(F.asc("v"), F.asc("ck"))
    rk = (
        spend.join(F.broadcast(bbase), "bkt")
        .select(
            "v",
            (F.col("base") + F.row_number().over(wrk))
            .cast("long")
            .alias("r"),
        )
        .crossJoin(F.broadcast(tot))
    )
    g = (
        rk.select(
            F.expr("(r * 10 - 1) div n + 1").alias("decile"),
            "v",
            "n",
            "tv",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("v").cast("long").alias("spend_c"),
            F.max("tv").alias("tv"),
        )
    )
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    return g.select(
        "decile",
        "n_customers",
        "spend_c",
        F.expr("sum(spend_c)")
        .over(wc)
        .cast("long")
        .alias("cum_c"),
        F.col("tv"),
    ).select(
        "decile",
        "n_customers",
        "spend_c",
        F.expr("cum_c * 10000 div tv").alias("cum_share_e4"),
    )


_KSP_GROUPS = [
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
]


def _ksp_oracle2() -> str:
    cases = ",\n             ".join(
        f"CAST(sum(CASE WHEN g = {i} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS h{i}"
        for i in range(5)
    )
    cums = ",\n             ".join(
        f"CAST(sum(h{i}) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED"
        f" PRECEDING AND CURRENT ROW) AS BIGINT) AS c{i}"
        for i in range(5)
    )
    tots = ", ".join(
        f"CAST(sum(h{i}) AS BIGINT) AS n{i}" for i in range(5)
    )
    pair_rows = []
    for a in range(5):
        for b in range(a + 1, 5):
            pair_rows.append(
                f"""SELECT '{_KSP_GROUPS[a]}' AS group_a,
           '{_KSP_GROUPS[b]}' AS group_b,
           CAST(max(n{a}) AS BIGINT) AS n_a,
           CAST(max(n{b}) AS BIGINT) AS n_b,
           CAST(max(abs(c{a} * n{b} - c{b} * n{a})) AS BIGINT)
             AS d_num,
           CAST(max(n{a}) * max(n{b}) AS BIGINT) AS d_den,
           round(CAST(max(abs(c{a} * n{b} - c{b} * n{a})) AS DOUBLE)
                 / (CAST(max(n{a}) AS DOUBLE) * max(n{b})), 6)
             AS ks_d
        FROM cc CROSS JOIN tot"""
            )
    union = "\n    UNION ALL ".join(pair_rows)
    return f"""
    WITH f AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
             CASE {' '.join(
                 f"WHEN o_orderpriority = '{g}' THEN {i}"
                 for i, g in enumerate(_KSP_GROUPS))} END AS g
      FROM orders),
    h AS (
      SELECT v,
             {cases}
      FROM f GROUP BY 1),
    cc AS MATERIALIZED (
      SELECT v,
             {cums}
      FROM h),
    tot AS MATERIALIZED (SELECT {tots} FROM h)
    {union}
    """


@query("ks_pairwise_priorities", oracle=_ksp_oracle2())
def ks_pairwise_priorities(spark: SparkSession, sf: str) -> DataFrame:
    """The full pairwise exact-KS distance matrix over all five order
    priority groups (10 pairs) — the distributional-drift screen run
    between every pair of corpus slices, generalizing
    ks_two_sample_exact from one comparison to the matrix in ONE
    pass: the value histogram carries all five per-group counts as
    columns, the five cumulatives share one two-phase bucketed
    cumsum, and each pair's sup is a cross-multiplied integer max
    over the same relation.  ks_d is one correctly-rounded division
    per pair.

    Scale: one orders scan → wide value histogram; the $10k-band
    two-phase discipline bounds every window; the 10-pair readout is
    10 aggregates over the shared cumulative relation (Spark computes
    them in ONE aggregate pass + a 10-row unpivot).  Int64:
    cum·n ≈ 9e12 at the 100x replica (per pair)."""
    f = t(spark, sf, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        F.col("o_orderpriority").alias("p"),
    )
    h = f.groupBy("v").agg(
        *[
            F.sum((F.col("p") == g).cast("long"))
            .cast("long")
            .alias(f"h{i}")
            for i, g in enumerate(_KSP_GROUPS)
        ]
    ).withColumn("bkt", F.expr(f"v div {_KS_BKT_C}")).persist()
    btot = h.groupBy("bkt").agg(
        *[F.sum(f"h{i}").alias(f"b{i}") for i in range(5)]
    )
    wb = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    bbase = btot.select(
        "bkt",
        *[
            F.coalesce(F.sum(f"b{i}").over(wb), F.lit(0)).alias(
                f"base{i}"
            )
            for i in range(5)
        ],
    )
    wv = (
        W.partitionBy("bkt")
        .orderBy("v")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cc = h.join(F.broadcast(bbase), "bkt").select(
        "v",
        *[
            (F.col(f"base{i}") + F.sum(f"h{i}").over(wv)).alias(
                f"c{i}"
            )
            for i in range(5)
        ],
    )
    tot = h.agg(
        *[
            F.sum(f"h{i}").cast("long").alias(f"n{i}")
            for i in range(5)
        ]
    )
    j = cc.crossJoin(F.broadcast(tot))
    aggs = []
    for a in range(5):
        for b in range(a + 1, 5):
            aggs.append(
                F.max(
                    F.abs(
                        F.col(f"c{a}") * F.col(f"n{b}")
                        - F.col(f"c{b}") * F.col(f"n{a}")
                    )
                )
                .cast("long")
                .alias(f"d_{a}_{b}")
            )
    wide = j.groupBy(
        *[F.col(f"n{i}") for i in range(5)]
    ).agg(*aggs)
    parts = []
    for a in range(5):
        for b in range(a + 1, 5):
            parts.append(
                wide.select(
                    F.lit(_KSP_GROUPS[a]).alias("group_a"),
                    F.lit(_KSP_GROUPS[b]).alias("group_b"),
                    F.col(f"n{a}").alias("n_a"),
                    F.col(f"n{b}").alias("n_b"),
                    F.col(f"d_{a}_{b}").alias("d_num"),
                    (F.col(f"n{a}") * F.col(f"n{b}")).alias("d_den"),
                    F.round(
                        F.col(f"d_{a}_{b}").cast("double")
                        / (
                            F.col(f"n{a}").cast("double")
                            * F.col(f"n{b}")
                        ),
                        6,
                    ).alias("ks_d"),
                )
            )
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out


@query(
    "user_interarrival_cv",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) // 1000000 AS sec, event_id
      FROM {EVENTS_US} events),
    g AS (
      SELECT user_id,
             sec - lag(sec) OVER (PARTITION BY user_id
               ORDER BY sec, event_id) AS gap
      FROM e),
    s AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_gaps,
             CAST(sum(gap) AS BIGINT) AS sg,
             CAST(sum(gap * gap) AS BIGINT) AS sgg
      FROM g WHERE gap IS NOT NULL GROUP BY 1)
    SELECT user_id, n_gaps, sg AS total_span_s,
           floor(sqrt(greatest(
                   CAST(n_gaps AS DOUBLE) * sgg
                   - CAST(sg AS DOUBLE) * sg, 0.0))
                 / sg * 1e4 + 0.5) / 1e4 AS cv_e0
    FROM s WHERE n_gaps >= 2 AND sg > 0
    """,
)
def user_interarrival_cv(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user inter-arrival coefficient of variation (population
    sd/mean of second-granularity event gaps): the classic process
    signature — CV ≈ 0 is metronomic automation, CV ≈ 1 is
    memoryless/Poisson traffic, CV ≫ 1 is bursty sessions; the
    dispersion cousin of user_burstiness_fano (which measures daily
    counts, not gaps).  Using sd/mean = sqrt(n·Σg² − (Σg)²)/Σg makes
    every input exact int64 (gaps in SECONDS so Σg² is per-user
    bounded: (1e5 s)²·1e3 gaps ≈ 1e13) and the publication one sqrt +
    division via the engine-identical floor form.

    Scale: one events scan through the per-user lag window; the CV is
    a map-side-combinable aggregate of integer sufficient stats."""
    e = t(spark, sf, "events").select(
        "user_id",
        F.expr("unix_micros(ts) div 1000000").alias("sec"),
        "event_id",
    )
    g = e.withColumn(
        "gap",
        F.col("sec")
        - F.lag("sec").over(
            W.partitionBy("user_id").orderBy("sec", "event_id")
        ),
    )
    s = (
        g.filter(F.col("gap").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.sum("gap").cast("long").alias("sg"),
            F.sum(F.col("gap") * F.col("gap"))
            .cast("long")
            .alias("sgg"),
        )
    )
    return s.filter((F.col("n_gaps") >= 2) & (F.col("sg") > 0)).select(
        "user_id",
        "n_gaps",
        F.col("sg").alias("total_span_s"),
        (
            F.floor(
                F.sqrt(
                    F.greatest(
                        F.col("n_gaps").cast("double") * F.col("sgg")
                        - F.col("sg").cast("double") * F.col("sg"),
                        F.lit(0.0),
                    )
                )
                / F.col("sg")
                * 1e4
                + 0.5
            )
            / 1e4
        ).alias("cv_e0"),
    )


_NB_EVAL_SELECT = """
    , pred AS (
      SELECT true_lang, lang AS pred_lang FROM rk WHERE rn = 1),
    cm AS MATERIALIZED (
      SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
      FROM pred GROUP BY 1, 2),
    langs AS (
      SELECT true_lang AS l FROM cm
      UNION SELECT pred_lang FROM cm),
    tp AS (
      SELECT true_lang AS l, n FROM cm WHERE true_lang = pred_lang),
    rowt AS (
      SELECT true_lang AS l, CAST(sum(n) AS BIGINT) AS nt
      FROM cm GROUP BY 1),
    colt AS (
      SELECT pred_lang AS l, CAST(sum(n) AS BIGINT) AS np
      FROM cm GROUP BY 1),
    m AS (
      SELECT langs.l,
             coalesce(tp.n, 0) AS tp,
             coalesce(colt.np, 0) - coalesce(tp.n, 0) AS fp,
             coalesce(rowt.nt, 0) - coalesce(tp.n, 0) AS fn
      FROM langs
      LEFT JOIN tp ON tp.l = langs.l
      LEFT JOIN rowt ON rowt.l = langs.l
      LEFT JOIN colt ON colt.l = langs.l)
    SELECT l AS lang, tp, fp, fn,
           CASE WHEN tp + fp > 0 THEN tp * 10000 // (tp + fp)
                ELSE 0 END AS precision_e4,
           CASE WHEN tp + fn > 0 THEN tp * 10000 // (tp + fn)
                ELSE 0 END AS recall_e4,
           CASE WHEN 2 * tp + fp + fn > 0
                THEN 2 * tp * 10000 // (2 * tp + fp + fn)
                ELSE 0 END AS f1_e4
    FROM m
    """


@query(
    "naive_bayes_lang_eval",
    oracle="WITH " + _NB_CORE_SQL + "\n" + _NB_EVAL_SELECT,
)
def naive_bayes_lang_eval(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language precision / recall / F1 of the naive-Bayes
    language classifier — the evaluation table that belongs next to
    any classifier: tp/fp/fn from the confusion counts of the SAME
    predictor (core shared with naive_bayes_lang_predict via
    _nb_rk / _NB_CORE_SQL — the one-trainer-body rule), published as
    exact 1e4 integer ticks (F1's harmonic mean collapses to
    2·tp/(2·tp+fp+fn), one integer division).

    Scale: the corpus-sized work is the shared NB core; the
    confusion matrix and the P/R/F1 table are langs²-bounded."""
    pred = (
        _nb_rk(spark, sf)
        .filter(F.col("rn") == 1)
        .select("true_lang", F.col("lang").alias("pred_lang"))
    )
    cm = pred.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).persist()  # langs^2-bounded confusion matrix
    langs = (
        cm.select(F.col("true_lang").alias("l"))
        .unionByName(cm.select(F.col("pred_lang").alias("l")))
        .distinct()
    )
    tp = cm.filter(F.col("true_lang") == F.col("pred_lang")).select(
        F.col("true_lang").alias("l"), F.col("n").alias("tp_n")
    )
    rowt = cm.groupBy(F.col("true_lang").alias("l")).agg(
        F.sum("n").cast("long").alias("nt")
    )
    colt = cm.groupBy(F.col("pred_lang").alias("l")).agg(
        F.sum("n").cast("long").alias("np")
    )
    m = (
        langs.join(tp, "l", "left")
        .join(rowt, "l", "left")
        .join(colt, "l", "left")
        .select(
            "l",
            F.coalesce("tp_n", F.lit(0)).alias("tp"),
            (
                F.coalesce("np", F.lit(0))
                - F.coalesce("tp_n", F.lit(0))
            ).alias("fp"),
            (
                F.coalesce("nt", F.lit(0))
                - F.coalesce("tp_n", F.lit(0))
            ).alias("fn"),
        )
    )
    return m.select(
        F.col("l").alias("lang"),
        "tp",
        "fp",
        "fn",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.expr("tp * 10000 div (tp + fp)"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("precision_e4"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.expr("tp * 10000 div (tp + fn)"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("recall_e4"),
        F.when(
            2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
            F.expr("2 * tp * 10000 div (2 * tp + fp + fn)"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("f1_e4"),
    )


@query(
    "weekday_uniformity_chi2",
    oracle="""
    WITH d AS (
      SELECT CAST(dayofweek(o_orderdate) AS BIGINT) AS dow,
             CAST(count(*) AS BIGINT) AS o
      FROM orders GROUP BY 1),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM d)
    SELECT CAST(7 AS BIGINT) AS k, n,
           CAST(count(*) AS BIGINT) AS observed_days,
           floor(sum((7.0 * o - n) * (7.0 * o - n)) / (7.0 * n)
                 * 1e4 + 0.5) / 1e4 AS chi2
    FROM d CROSS JOIN tot GROUP BY n
    """,
)
def weekday_uniformity_chi2(spark: SparkSession, sf: str) -> DataFrame:
    """Chi-square goodness-of-fit of order volume against a UNIFORM
    weekday distribution — the seasonality screen (chi2 ≫ the
    6-df critical value means day-of-week effects are real and the
    forecasting stack must model them; chi2_independence_audit tests
    a different hypothesis, independence of two factors).  The
    statistic uses the algebraic form Σ(7·o − n)²/(7n) so every
    input is an exact int64 and the published value is one double
    expression via the engine-identical floor form.  The sum runs
    over OBSERVED weekday bins (each unobserved bin would add exactly
    n/7 — observed_days is published so the correction is one
    multiply; at any real scale all 7 bins are populated).
    dayofweek() agrees across engines for date inputs.

    Scale: one orders scan to a 7-row aggregate.  Int64:
    (7·o)² ≈ 2e16 at the 100x replica."""
    d = (
        t(spark, sf, "orders")
        .groupBy(F.expr("CAST(dayofweek(o_orderdate) AS LONG)").alias("dow"))
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
    )
    tot = d.agg(F.sum("o").cast("long").alias("n"))
    j = d.crossJoin(F.broadcast(tot))
    term = (7.0 * F.col("o") - F.col("n")) * (
        7.0 * F.col("o") - F.col("n")
    )
    return j.groupBy("n").agg(
        F.lit(7).cast("long").alias("k"),
        F.count(F.lit(1)).cast("long").alias("observed_days"),
        (
            F.floor(F.sum(term) / (7.0 * F.col("n")) * 1e4 + 0.5)
            / 1e4
        ).alias("chi2"),
    ).select("k", "n", "observed_days", "chi2")


@query(
    "source_lang_purity",
    oracle="""
    WITH c AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY 1, 2),
    s AS (
      SELECT source, CAST(sum(n) AS BIGINT) AS ns,
             CAST(max(n) AS BIGINT) AS nmax
      FROM c GROUP BY 1)
    SELECT c.source, c.lang, c.n,
           c.n * 10000 // s.ns AS share_e4,
           CAST(c.n = s.nmax AS BIGINT) AS is_dominant
    FROM c JOIN s ON s.source = c.source
    """,
)
def source_lang_purity(spark: SparkSession, sf: str) -> DataFrame:
    """Language mix per source — the corpus-mixing audit every
    multilingual pipeline reports: each (source, lang) cell with its
    exact 1e4-tick share of the source and a dominant-language flag
    (count-maximum; ties flag every maximal lang, the honest multi-
    modal answer).  A source whose dominant share is low is a mixing
    or language-ID problem feeding the sampler.

    Scale: one documents scan to a sources×langs-bounded cell table;
    the per-source totals aggregate the cells, not the corpus."""
    c = (
        t(spark, sf, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .persist()  # sources x langs bounded
    )
    s = c.groupBy(F.col("source").alias("s_src")).agg(
        F.sum("n").cast("long").alias("ns"),
        F.max("n").cast("long").alias("nmax"),
    )
    return c.join(F.broadcast(s), F.col("s_src") == F.col("source")).select(
        "source",
        "lang",
        "n",
        F.expr("n * 10000 div ns").alias("share_e4"),
        (F.col("n") == F.col("nmax")).cast("long").alias(
            "is_dominant"
        ),
    )


@query(
    "hourly_peak_to_mean",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             epoch_us(ts) // 3600000000 AS hour_bucket,
             CAST(count(*) AS BIGINT) AS n
      FROM {EVENTS_US} events GROUP BY 1, 2),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_hours,
             CAST(sum(n) AS BIGINT) AS total,
             CAST(max(n) AS BIGINT) AS peak
      FROM h GROUP BY 1)
    SELECT event_type, n_hours, total, peak,
           peak * n_hours * 10000 // total AS peak_to_mean_e4
    FROM s
    """,
)
def hourly_peak_to_mean(spark: SparkSession, sf: str) -> DataFrame:
    """Peak-to-mean hourly load ratio per event type — the capacity-
    planning number (a ratio near 1 means flat load; 10 means the
    peak hour needs 10× the average provisioning).  Exact integer
    cross-multiplication peak·n_hours·1e4 // total — no float mean
    ever materializes.  Mean is over OBSERVED hours (gap hours would
    raise the ratio; pair with time_bucket_gapfill when an absolute
    calendar mean is wanted).

    Scale: one events scan to the calendar-bounded (type, hour)
    aggregate, then a per-type fold of that table.  Int64:
    peak·n_hours·1e4 ≈ 6e13 at the 100x replica."""
    h = (
        t(spark, sf, "events")
        .select(
            "event_type",
            F.expr("unix_micros(ts) div 3600000000").alias(
                "hour_bucket"
            ),
        )
        .groupBy("event_type", "hour_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    s = h.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum("n").cast("long").alias("total"),
        F.max("n").cast("long").alias("peak"),
    )
    return s.select(
        "event_type",
        "n_hours",
        "total",
        "peak",
        F.expr("peak * n_hours * 10000 div total").alias(
            "peak_to_mean_e4"
        ),
    )


@query(
    "anova_retailprice_by_brand",
    oracle="""
    WITH f AS (
      SELECT p_brand AS g,
             CAST(round(p_retailprice * 100) AS BIGINT) AS y
      FROM part),
    s AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM f GROUP BY 1),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(sy) AS BIGINT) AS tsy,
             CAST(sum(syy) AS BIGINT) AS tsyy,
             sum(CAST(sy AS DOUBLE) * sy / n) AS gss
      FROM s)
    SELECT k AS n_groups, nn AS n_rows,
           floor(((gss - CAST(tsy AS DOUBLE) * tsy / nn) / (k - 1))
                 / ((tsyy - gss) / (nn - k)) * 1e4 + 0.5) / 1e4
             AS f_stat
    FROM tot WHERE k > 1 AND nn > k AND tsyy - gss > 0
    """,
)
def anova_retailprice_by_brand(spark: SparkSession, sf: str) -> DataFrame:
    """One-way ANOVA F-statistic of part retail price across brands —
    the k-group generalization of the two-sample battery (does ANY
    brand price differently?).  Between/within sums of squares come
    from per-group exact int64 sufficient statistics (n, Σy, Σy²
    cents); the only floats are the k-term Σ(Σy)²/n accumulation
    (group-count-bounded, noise ~1e-16) and the final ratio via the
    engine-identical floor form.

    Scale: one part scan to a brands-bounded panel, one fold.  Int64:
    Σy² ≈ 8e16 at the 100x replica."""
    f = t(spark, sf, "part").select(
        F.col("p_brand").alias("g"),
        F.round(F.col("p_retailprice") * 100).cast("long").alias("y"),
    )
    s = f.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    tot = s.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum("sy").cast("long").alias("tsy"),
        F.sum("syy").cast("long").alias("tsyy"),
        F.sum(
            F.col("sy").cast("double") * F.col("sy") / F.col("n")
        ).alias("gss"),
    )
    ssb = F.col("gss") - F.col("tsy").cast("double") * F.col("tsy") / F.col("nn")
    ssw = F.col("tsyy") - F.col("gss")
    return tot.filter(
        (F.col("k") > 1)
        & (F.col("nn") > F.col("k"))
        & (ssw > 0)
    ).select(
        F.col("k").alias("n_groups"),
        F.col("nn").alias("n_rows"),
        (
            F.floor(
                (ssb / (F.col("k") - 1))
                / (ssw / (F.col("nn") - F.col("k")))
                * 1e4
                + 0.5
            )
            / 1e4
        ).alias("f_stat"),
    )


_RC_W = 14


@query(
    "rolling_corr_view_purchase",
    oracle=f"""
    WITH e AS (
      SELECT epoch_us(ts) // 86400000000 AS day, event_type
      FROM {EVENTS_US} events),
    b AS (SELECT min(day) AS mn, max(day) AS mx FROM e),
    grid AS (SELECT unnest(generate_series(mn, mx)) AS day FROM b),
    daily AS (
      SELECT grid.day,
             CAST(coalesce(sum(CASE WHEN event_type = 'view'
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS x,
             CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS y
      FROM grid LEFT JOIN e ON e.day = grid.day GROUP BY 1),
    w AS (
      SELECT day,
             CAST(count(*) OVER win AS BIGINT) AS n,
             CAST(sum(x) OVER win AS BIGINT) AS sx,
             CAST(sum(y) OVER win AS BIGINT) AS sy,
             CAST(sum(x * y) OVER win AS BIGINT) AS sxy,
             CAST(sum(x * x) OVER win AS BIGINT) AS sxx,
             CAST(sum(y * y) OVER win AS BIGINT) AS syy
      FROM daily
      WINDOW win AS (ORDER BY day
        ROWS BETWEEN {_RC_W - 1} PRECEDING AND CURRENT ROW))
    SELECT day,
           floor(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS corr_14d
    FROM w
    WHERE n = {_RC_W}
      AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
)
def rolling_corr_view_purchase(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing 14-day rolling Pearson correlation between the daily
    view and purchase series — the co-movement monitor (a stable
    positive correlation breaking down is the classic
    funnel-degradation alarm; ccf_view_purchase_daily measures the
    LAG structure, this tracks co-movement OVER TIME).  The daily
    grid is gap-filled, so a ROWS frame IS a day frame; within each
    window every sufficient statistic is an exact int64 window sum,
    and each day's correlation is one fixed double expression —
    published via the engine-identical floor form, only full windows
    with positive variance emitted.

    Scale: one events scan; all windows run over the calendar-bounded
    gap-filled grid.  Int64: window Σxy ≤ 14·(daily count)² ≈ 5e11
    at the 100x replica."""
    dayc = (
        t(spark, sf, "events")
        .select(
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            "event_type",
        )
        .groupBy("day")
        .agg(
            F.sum(
                (F.col("event_type") == "view").cast("long")
            ).alias("xr"),
            F.sum(
                (F.col("event_type") == "purchase").cast("long")
            ).alias("yr"),
        )
        .persist()  # calendar-bounded; bounds + grid join
    )
    b = dayc.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    daily = (
        b.select(F.explode(F.sequence("mn", "mx")).alias("day"))
        .join(dayc, "day", "left")
        .select(
            "day",
            F.coalesce("xr", F.lit(0)).cast("long").alias("x"),
            F.coalesce("yr", F.lit(0)).cast("long").alias("y"),
        )
    )
    win = W.orderBy("day").rowsBetween(-(_RC_W - 1), 0)
    w = daily.select(
        "day",
        F.count(F.lit(1)).over(win).cast("long").alias("n"),
        F.sum("x").over(win).cast("long").alias("sx"),
        F.sum("y").over(win).cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(win).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(win).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(win).cast("long").alias("syy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return w.filter(
        (F.col("n") == _RC_W) & (vx > 0) & (vy > 0)
    ).select(
        "day",
        (
            F.floor(
                (
                    F.col("n") * F.col("sxy")
                    - F.col("sx") * F.col("sy")
                ).cast("double")
                / F.sqrt(vx.cast("double") * vy.cast("double"))
                * 1e6
                + 0.5
            )
            / 1e6
        ).alias("corr_14d"),
    )
