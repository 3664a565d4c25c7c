"""Data-quality / profiling battery (round 5): mode aggregates,
zone-map (data-skipping) statistics, Benford first-digit auditing,
and calendar heatmaps — the checks a lakehouse runs continuously over
ingested data.

Portability discipline as the rest of plans/: exact integers
(BIGINT cents, integer-tick shares), deterministic tie-breaks, and
calendar arithmetic done on epoch integers instead of engine
date-part functions where the engines' conventions differ
(dayofweek: Spark is 1=Sunday, DuckDB is 0=Sunday — both are avoided
entirely by computing ((days since epoch) + 4) % 7, anchored on
1970-01-01 being a Thursday).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.text import tokens
from .core import EVENTS_US, query, t

_DAY_US = 86_400_000_000
_HOUR_US = 3_600_000_000


@query(
    "mode_order_priority",
    oracle="""
    WITH c AS (
      SELECT o_orderstatus AS status, o_orderpriority AS prio,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2),
    r AS (
      SELECT status, prio, n,
             row_number() OVER (PARTITION BY status
                                ORDER BY n DESC, prio) AS rn
      FROM c)
    SELECT status, prio AS mode_priority, n AS mode_n
    FROM r WHERE rn = 1
    """,
)
def mode_order_priority(spark: SparkSession, sf: str) -> DataFrame:
    """MODE aggregate (most frequent value) of order priority per
    order status, with deterministic ties (count desc, then the
    priority string) — the holistic aggregate Spark has no built-in
    for (mode() landed only in 3.4+ and its tie order is
    engine-defined; this formulation pins it).  Scale: the
    (status, priority) pre-aggregate reduces map-side to the tiny
    value-pair grid; the rank window runs on that grid only — the
    standard two-phase shape for any holistic aggregate."""
    c = (
        t(spark, sf, "orders")
        .groupBy(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("prio"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    r = c.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("status").orderBy(F.desc("n"), "prio")
        ),
    )
    return r.filter(F.col("rn") == 1).select(
        "status",
        F.col("prio").alias("mode_priority"),
        F.col("n").alias("mode_n"),
    )


@query(
    "zone_map_stats",
    oracle=f"""
    WITH e AS (
      SELECT epoch_us(ts) AS us,
             CAST(round(value * 100) AS BIGINT) AS cents, event_id
      FROM {EVENTS_US} events)
    SELECT us // {_DAY_US} AS day_zone,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(us) AS BIGINT) AS min_us,
           CAST(max(us) AS BIGINT) AS max_us,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(max(cents) AS BIGINT) AS max_cents,
           CAST(min(event_id) AS BIGINT) AS min_id,
           CAST(max(event_id) AS BIGINT) AS max_id
    FROM e GROUP BY 1
    """,
)
def zone_map_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Zone-map construction — per daily zone, the min/max statistics
    (timestamps, values, ids) a data-skipping layer (parquet row-group
    stats, Iceberg/Delta file stats, small-materialized-aggregates)
    maintains so point/range predicates can prune entire zones without
    reading them.  This is the exact statistic that makes the 100 TB
    scan-pruning story work: a `WHERE ts BETWEEN ...` touches only
    zones whose [min_us, max_us] intersects.  Scale: one
    map-side-combinable aggregate; output is zone-cardinality
    (metadata-sized by construction)."""
    e = t(spark, sf, "events").select(
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        "event_id",
    )
    return e.groupBy(F.expr(f"us div {_DAY_US}").alias("day_zone")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("us").cast("long").alias("min_us"),
        F.max("us").cast("long").alias("max_us"),
        F.min("cents").cast("long").alias("min_cents"),
        F.max("cents").cast("long").alias("max_cents"),
        F.min("event_id").cast("long").alias("min_id"),
        F.max("event_id").cast("long").alias("max_id"),
    )


# Benford expected first-digit shares, floor(log10(1+1/d)*1e6) —
# hardcoded integer ticks so neither engine evaluates log10 at runtime
_BENFORD_E6 = {
    1: 301029, 2: 176091, 3: 124938, 4: 96910,
    5: 79181, 6: 66946, 7: 57991, 8: 51152, 9: 45757,
}


def _benford_case() -> str:
    whens = " ".join(
        f"WHEN {d} THEN {v}" for d, v in _BENFORD_E6.items()
    )
    return f"CASE digit {whens} END"


@query(
    "benford_first_digit_audit",
    oracle=f"""
    WITH c AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice > 0),
    g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM g)
    SELECT g.digit, g.n,
           (g.n * 1000000) // tot.t AS share_e6,
           {_benford_case()} AS benford_e6,
           abs((g.n * 1000000) // tot.t - {_benford_case()}) AS dev_e6
    FROM g CROSS JOIN tot
    """,
)
def benford_first_digit_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    fabricated-data / data-quality screen: observed share of each
    leading digit vs the Benford expectation log10(1+1/d), with the
    expectation HARDCODED as integer 1e-6 ticks so neither engine
    evaluates log10 at run time (libm portability), and observed
    shares as BIGINT-multiply-then-integer-divide.  The deviation
    column is the per-digit audit signal (synthetic uniform-ish data
    legitimately deviates — the value here is the exact, portable
    measurement).  Scale: digit extraction is map-only; the aggregate
    has 9 groups; the total is a scalar broadcast."""
    c = (
        t(spark, sf, "orders")
        .filter(F.col("o_totalprice") > 0)
        .select(
            F.expr(
                "CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)"
                " AS STRING), 1, 1) AS BIGINT)"
            ).alias("digit")
        )
    )
    g = c.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = g.agg(F.sum("n").cast("long").alias("t"))
    bexpr = _benford_case()
    return g.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.expr("(n * 1000000) div t").alias("share_e6"),
        F.expr(bexpr).alias("benford_e6"),
        F.expr(f"abs((n * 1000000) div t - {bexpr})").alias("dev_e6"),
    )


@query(
    "dow_hour_heatmap",
    oracle=f"""
    WITH e AS (SELECT epoch_us(ts) AS us FROM {EVENTS_US} events)
    SELECT ((us // {_DAY_US}) + 4) % 7 AS dow,
           (us % {_DAY_US}) // {_HOUR_US} AS hour_of_day,
           CAST(count(*) AS BIGINT) AS n
    FROM e GROUP BY 1, 2
    """,
)
def dow_hour_heatmap(spark: SparkSession, sf: str) -> DataFrame:
    """Day-of-week × hour-of-day activity heatmap (0 = Sunday, UTC) —
    the seasonality grid behind every traffic dashboard.  The day of
    week comes from PURE EPOCH ARITHMETIC (((days since epoch) + 4)
    % 7, 1970-01-01 being a Thursday) because the engines' dayofweek()
    functions disagree on numbering (Spark 1=Sunday, DuckDB
    0=Sunday) — integer arithmetic has no convention to disagree on.
    Scale: one map-side-combinable aggregate onto a 168-cell grid."""
    e = t(spark, sf, "events").select(F.unix_micros("ts").alias("us"))
    return e.groupBy(
        F.expr(f"((us div {_DAY_US}) + 4) % 7").alias("dow"),
        F.expr(f"(us % {_DAY_US}) div {_HOUR_US}").alias("hour_of_day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


_KEYNESS_TOPK = 50


@query(
    "keyness_lang_drift",
    oracle=f"""
    WITH toks AS (
      SELECT CAST(lang = 'en' AS BIGINT) AS en,
             unnest(list_filter(str_split(lower(text), ' '),
                                x -> x <> '')) AS word
      FROM documents),
    wc AS (
      SELECT word, sum(en) AS c_en, count(*) - sum(en) AS c_ot
      FROM toks GROUP BY word),
    tot AS (
      SELECT sum(c_en) AS t_en, sum(c_ot) AS t_ot FROM wc),
    r AS (
      SELECT wc.word,
             CAST(wc.c_en AS BIGINT) AS c_en,
             CAST(wc.c_ot AS BIGINT) AS c_ot,
             CAST(CASE WHEN tot.t_en = 0 THEN 0
                  ELSE (wc.c_en * 1000000) // tot.t_en END
               - CASE WHEN tot.t_ot = 0 THEN 0
                  ELSE (wc.c_ot * 1000000) // tot.t_ot END
               AS BIGINT) AS drift_e6
      FROM wc CROSS JOIN tot)
    SELECT word, c_en, c_ot, drift_e6
    FROM r ORDER BY abs(drift_e6) DESC, word LIMIT {_KEYNESS_TOPK}
    """,
)
def keyness_lang_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Keyness / corpus-drift report: the {_KEYNESS_TOPK} words whose
    per-million rate differs most between the English slice and the
    rest of the corpus — the distribution-shift QA a curation
    pipeline runs when a new crawl or source is folded in (a sudden
    keyness spike on boilerplate tokens is how template contamination
    shows up).  Rates are exact e6 integer ticks (per-side floor
    division on non-negative counts, subtraction AFTER the division
    so no negative operand is ever divided); ties break on the word
    for a total order.

    Scale: one corpus scan → vocab-sized word×side counts (map-side
    combinable), two scalar totals broadcast back onto the vocab
    table, TakeOrdered top-k — the corpus never passes through a
    window or a sort."""
    toks = t(spark, sf, "documents").select(
        (F.col("lang") == "en").cast("long").alias("en"),
        F.explode(tokens("text", lowercase=True)).alias("word"),
    )
    wc = toks.groupBy("word").agg(
        F.sum("en").alias("c_en"),
        (F.count(F.lit(1)) - F.sum("en")).alias("c_ot"),
    ).persist()  # vocab-sized; feeds both the totals and the report
    tot = wc.agg(
        F.sum("c_en").alias("t_en"), F.sum("c_ot").alias("t_ot")
    )
    r = wc.crossJoin(F.broadcast(tot)).select(
        "word",
        F.col("c_en").cast("long"),
        F.col("c_ot").cast("long"),
        (
            F.when(F.col("t_en") == 0, F.lit(0)).otherwise(
                F.expr("(c_en * 1000000) div t_en")
            )
            - F.when(F.col("t_ot") == 0, F.lit(0)).otherwise(
                F.expr("(c_ot * 1000000) div t_ot")
            )
        ).cast("long").alias("drift_e6"),
    )
    return r.orderBy(
        F.abs(F.col("drift_e6")).desc(), "word"
    ).limit(_KEYNESS_TOPK)


_PSI_BAND_CENTS = 5_000_000  # $50k price bands
_PSI_NBANDS = 10
_PSI_SPLIT = "1998-01-01"


@query(
    "psi_feature_drift",
    oracle=f"""
    WITH b AS (
      SELECT least(CAST(round(o_totalprice * 100) AS BIGINT)
                   // {_PSI_BAND_CENTS}, {_PSI_NBANDS - 1}) AS bucket,
             CASE WHEN o_orderdate < TIMESTAMP '{_PSI_SPLIT}'
                  THEN 1 ELSE 0 END AS is_ref
      FROM orders),
    c AS (
      SELECT bucket, sum(is_ref) AS nr, sum(1 - is_ref) AS nc
      FROM b GROUP BY bucket),
    g AS (
      SELECT CAST(range AS BIGINT) AS bucket
      FROM range({_PSI_NBANDS})),
    f AS (
      SELECT g.bucket,
             coalesce(nr, 0) + 1 AS na, coalesce(nc, 0) + 1 AS ma
      FROM g LEFT JOIN c ON c.bucket = g.bucket),
    tot AS (SELECT sum(na) AS sna, sum(ma) AS sma FROM f)
    SELECT f.bucket,
           CAST(f.na - 1 AS BIGINT) AS n_ref,
           CAST(f.ma - 1 AS BIGINT) AS n_cur,
           round((CAST(f.na * tot.sma - f.ma * tot.sna AS DOUBLE)
                  / (CAST(tot.sna AS DOUBLE) * CAST(tot.sma AS DOUBLE)))
                 * (ln(CAST(f.na * tot.sma AS DOUBLE))
                    - ln(CAST(f.ma * tot.sna AS DOUBLE))), 6)
             AS psi_term
    FROM f CROSS JOIN tot
    """,
)
def psi_feature_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Population Stability Index of the order-value distribution,
    reference period (pre-{_PSI_SPLIT}) vs current — THE standard
    model-monitoring drift score, per price band so the drifting
    bucket is visible (total PSI = sum of psi_term; > 0.2 is the
    conventional retrain trigger).  Bands are fixed $50k cent-integer
    edges (clamped top band) with add-one smoothing so empty buckets
    stay defined.  Portability: counts are exact integers; each log
    argument is an IDENTICAL INTEGER PRODUCT in both engines
    (ln(na * sma) - ln(ma * sna) == ln(p/q), the lm_bigram_surprisal
    log-of-integers discipline), so the 6dp round sits far above any
    libm noise.  Scale: one orders scan, one 10-row aggregate, one
    scalar-total broadcast — nothing data-sized after the scan."""
    b = t(spark, sf, "orders").select(
        F.least(
            F.expr(
                "CAST(round(o_totalprice * 100) AS BIGINT)"
                f" div {_PSI_BAND_CENTS}"
            ),
            F.lit(_PSI_NBANDS - 1).cast("long"),
        ).alias("bucket"),
        F.when(F.col("o_orderdate") < _PSI_SPLIT, 1)
        .otherwise(0)
        .alias("is_ref"),
    )
    c = b.groupBy("bucket").agg(
        F.sum("is_ref").alias("nr"),
        F.sum(F.lit(1) - F.col("is_ref")).alias("nc"),
    )
    g = spark.range(_PSI_NBANDS).select(F.col("id").alias("bucket"))
    f = g.join(c, "bucket", "left").select(
        "bucket",
        (F.coalesce("nr", F.lit(0)) + 1).alias("na"),
        (F.coalesce("nc", F.lit(0)) + 1).alias("ma"),
    )
    tot = f.agg(
        F.sum("na").alias("sna"), F.sum("ma").alias("sma")
    ).select(F.lit(1).alias("k"), "sna", "sma")
    return (
        f.withColumn("k", F.lit(1))
        .join(F.broadcast(tot), "k")
        .select(
            "bucket",
            (F.col("na") - 1).cast("long").alias("n_ref"),
            (F.col("ma") - 1).cast("long").alias("n_cur"),
            F.round(
                (
                    (
                        F.col("na") * F.col("sma")
                        - F.col("ma") * F.col("sna")
                    ).cast("double")
                    / (
                        F.col("sna").cast("double")
                        * F.col("sma").cast("double")
                    )
                )
                * (
                    F.log((F.col("na") * F.col("sma")).cast("double"))
                    - F.log((F.col("ma") * F.col("sna")).cast("double"))
                ),
                6,
            ).alias("psi_term"),
        )
    )


@query(
    "chi2_independence_audit",
    oracle="""
    WITH o AS (
      SELECT o_orderpriority AS prio, o_orderstatus AS status,
             count(*) AS obs
      FROM orders GROUP BY 1, 2),
    r AS (SELECT prio, sum(obs) AS rt FROM o GROUP BY prio),
    c AS (SELECT status, sum(obs) AS ct FROM o GROUP BY status),
    n AS (SELECT sum(obs) AS nt FROM o)
    SELECT o.prio, o.status, CAST(o.obs AS BIGINT) AS obs,
           round((CAST(o.obs * n.nt - r.rt * c.ct AS DOUBLE)
                  * CAST(o.obs * n.nt - r.rt * c.ct AS DOUBLE))
                 / (CAST(n.nt AS DOUBLE) * CAST(r.rt AS DOUBLE)
                    * CAST(c.ct AS DOUBLE)), 6) AS chi2_term
    FROM o JOIN r ON r.prio = o.prio
    JOIN c ON c.status = o.status
    CROSS JOIN n
    """,
)
def chi2_independence_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Chi-square independence audit of the (order priority x order
    status) contingency table — the categorical-correlation check a
    data-quality suite runs to catch pipeline mix shifts (chi2 = sum
    of chi2_term over cells; large = the two fields are not
    independent).  The expected count enters as the EXACT integer
    cross product (obs * N - rowtot * coltot stays inside int64 up to
    ~3e9-row tables; the published term divides as doubles with a
    fixed left-associative expression so both engines evaluate
    bit-identically).  Scale: one orders scan to a k1 x k2-bounded
    cell table; margins and the grand total are broadcast-sized."""
    o = (
        t(spark, sf, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("prio"),
            F.col("o_orderstatus").alias("status"),
        )
        .agg(F.count(F.lit(1)).alias("obs"))
    ).persist()  # cell table feeds margins AND the final join
    r = o.groupBy("prio").agg(F.sum("obs").alias("rt"))
    c = o.groupBy("status").agg(F.sum("obs").alias("ct"))
    n = o.agg(F.sum("obs").alias("nt")).select(
        F.lit(1).alias("k"), "nt"
    )
    d = (
        F.col("obs") * F.col("nt") - F.col("rt") * F.col("ct")
    ).cast("double")
    return (
        o.join(F.broadcast(r), "prio")
        .join(F.broadcast(c), "status")
        .withColumn("k", F.lit(1))
        .join(F.broadcast(n), "k")
        .select(
            "prio",
            "status",
            F.col("obs").cast("long").alias("obs"),
            F.round(
                (d * d)
                / (
                    F.col("nt").cast("double")
                    * F.col("rt").cast("double")
                    * F.col("ct").cast("double")
                ),
                6,
            ).alias("chi2_term"),
        )
    )
