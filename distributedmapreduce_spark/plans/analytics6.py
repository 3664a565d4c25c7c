"""Round-6 analytics battery #10: rank correlation, privacy EMD,
per-node graph structure, time-series symbolization, and
deterministic-hash resampling (Poisson bootstrap + permutation test).

Same portability discipline as the earlier batteries: money is BIGINT
cents, ranks are doubled to stay integral under midrank ties, every
published ratio is an integer tick division, and the one unavoidable
double (Spearman's sqrt) is a single textual chain both engines
evaluate on identical BIGINT sufficient statistics (the
lineitem_corr_matrix / CUPED discipline).  Resampling weights come
from the md5-u32 portable uniform (llm3._md5_u32) so both engines
draw the SAME bootstrap replicates and permutations — determinism is
what makes resampling oracle-checkable at all.

Reference parity note: the reference engine
(ParitoshSabade/DistributedMapReduce) exposes only map/reduce
word-count jobs (mapper_word_count.py:11-35); these queries are the
extension surface SURVEY.md §2.2 declares.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .analytics2 import _LPA_EDGES_SQL, copurchase_edges
from .core import EVENTS_US, query, t
from .llm3 import _md5_u32, _md5_u32_sql

# --- Spearman: the double chain both engines evaluate on identical
# BIGINT sums (rank sums use DOUBLED midranks, so everything up to
# the final rho is exact integer arithmetic).
_RHO_NUM = (
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
)
# outer parens are load-bearing: without them `num / den` parses as
# (num / sqrt(..)) * sqrt(..) — left-to-right — which BOTH engines
# evaluate identically (hash-green!) and identically wrong; the
# brute-force gate caught it (tests/test_brute_force_analytics6.py)
_RHO_DEN = (
    "(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
)
_RHO_E6 = (
    f"CASE WHEN {_RHO_DEN} = 0 THEN 0 ELSE "
    f"CAST(floor({_RHO_NUM} / {_RHO_DEN} * 1000000) AS BIGINT) END"
)


@query(
    "spearman_rho_qty_price",
    oracle=f"""
    WITH li AS (
      SELECT p.p_brand AS brand, l.l_quantity AS q,
             CAST(round(l.l_extendedprice * 100) AS BIGINT) AS pc
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    hx AS (SELECT brand, q, CAST(count(*) AS BIGINT) AS c
           FROM li GROUP BY 1, 2),
    rx AS (
      SELECT brand, q,
             2 * coalesce(sum(c) OVER (PARTITION BY brand ORDER BY q
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + c + 1 AS r2
      FROM hx),
    hy AS (SELECT brand, pc, CAST(count(*) AS BIGINT) AS c
           FROM li GROUP BY 1, 2),
    ry AS (
      SELECT brand, pc,
             2 * coalesce(sum(c) OVER (PARTITION BY brand ORDER BY pc
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + c + 1 AS r2
      FROM hy),
    st AS (
      SELECT li.brand, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rx.r2) AS BIGINT) AS sx,
             CAST(sum(ry.r2) AS BIGINT) AS sy,
             sum(CAST(rx.r2 AS HUGEINT) * rx.r2) AS sxx,
             sum(CAST(ry.r2 AS HUGEINT) * ry.r2) AS syy,
             sum(CAST(rx.r2 AS HUGEINT) * ry.r2) AS sxy
      FROM li
      JOIN rx ON rx.brand = li.brand AND rx.q = li.q
      JOIN ry ON ry.brand = li.brand AND ry.pc = li.pc
      GROUP BY 1)
    SELECT brand AS p_brand, n, {_RHO_E6} AS rho_e6 FROM st
    """,
)
def spearman_rho_qty_price(spark: SparkSession, sf: str) -> DataFrame:
    """Exact Spearman rank correlation between quantity and extended
    price per brand — completes the correlation battery (Pearson:
    lineitem_corr_matrix; Kendall: kendall_tau_qty_price).  Midrank
    ties use DOUBLED average ranks (r2 = 2·cnt_below + cnt_eq + 1),
    so every rank and every sufficient statistic is an exact BIGINT;
    rho itself is the one double, evaluated as a single textual chain
    on identical int64 sums in both engines (the CUPED discipline),
    published as floor(rho·1e6).

    Scale: ranks are computed on the per-brand VALUE HISTOGRAMS
    (quantity: ≤ 50 distinct; price: bounded by the cents domain,
    never by row count), so the only windows run over
    histogram-sized tables; raw rows take two broadcast-able
    histogram joins and one aggregate.  Width audit: r2 ≤ 2n stays
    BIGINT, but the squared-rank sums reach 4n³ ≈ 5.5e19 per brand at
    the 100× replica (n ≈ 2.4M) — past int64, so sxx/syy/sxy
    accumulate in 128-bit integers (Spark decimal(38,0) == DuckDB
    HUGEINT; the 100× gate caught the BIGINT draft with
    ARITHMETIC_OVERFLOW, exactly what ANSI-on oracle runs are for);
    the n·sxy cross-term then runs in the double chain.  decimal(38)
    headroom holds to ~1e10 rows per brand."""
    li = (
        t(spark, sf, "lineitem")
        .join(
            t(spark, sf, "part"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(
            F.col("p_brand").alias("brand"),
            F.col("l_quantity").alias("q"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("long")
            .alias("pc"),
        )
        # three consumers (two histograms + the rank join) — persist
        # the projected join so the executed plan carries ONE
        # lineitem/part FileScan instead of three
        .persist()
    )

    def _ranks(col: str) -> DataFrame:
        h = li.groupBy("brand", col).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        wb = W.partitionBy("brand").orderBy(col).rowsBetween(
            W.unboundedPreceding, -1
        )
        return h.select(
            "brand",
            col,
            (
                2 * F.coalesce(F.sum("c").over(wb), F.lit(0))
                + F.col("c")
                + 1
            ).alias("r2"),
        )

    rx = _ranks("q").withColumnRenamed("r2", "r2x")
    ry = _ranks("pc").withColumnRenamed("r2", "r2y")
    st = (
        li.join(rx, ["brand", "q"])
        .join(ry, ["brand", "pc"])
        .groupBy(F.col("brand").alias("p_brand"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("r2x").cast("long").alias("sx"),
            F.sum("r2y").cast("long").alias("sy"),
            # int128-width sums: r2·r2 sums reach 4n³ ≈ 5.5e19 per
            # brand at the 100× replica — past int64 (the 100× gate
            # caught the BIGINT draft with ARITHMETIC_OVERFLOW).
            # decimal(38,0) here == HUGEINT in the DuckDB twin; the
            # rho chain casts both to DOUBLE identically.
            F.sum(
                F.col("r2x").cast("decimal(19,0)") * F.col("r2x")
            ).alias("sxx"),
            F.sum(
                F.col("r2y").cast("decimal(19,0)") * F.col("r2y")
            ).alias("syy"),
            F.sum(
                F.col("r2x").cast("decimal(19,0)") * F.col("r2y")
            ).alias("sxy"),
        )
    )
    return st.select("p_brand", "n", F.expr(_RHO_E6).alias("rho_e6"))


# --- t-closeness: tick-quantized ordered EMD between each
# quasi-identifier class's sensitive-attribute distribution and the
# global one.  Completes the privacy triad (k_anonymity_audit,
# l_diversity_audit).
_TC_BUCKETS = 11  # acctbal cents shifted non-negative, $1000 buckets
_TC_T_E6 = 200_000  # flag classes with EMD > 0.2


@query(
    "t_closeness_audit",
    oracle=f"""
    WITH c AS (
      SELECT c_nationkey AS nation, c_mktsegment AS segment,
             (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000
               AS b
      FROM customer),
    cls AS (SELECT nation, segment, b, CAST(count(*) AS BIGINT) AS cnt
            FROM c GROUP BY 1, 2, 3),
    grid AS (
      SELECT k.nation, k.segment, r.range AS b
      FROM (SELECT DISTINCT nation, segment FROM cls) k
      CROSS JOIN range(0, {_TC_BUCKETS}) r),
    gc AS (
      SELECT g.nation, g.segment, g.b,
             sum(coalesce(cls.cnt, 0)) OVER (
               PARTITION BY g.nation, g.segment ORDER BY g.b) AS cum,
             sum(coalesce(cls.cnt, 0)) OVER (
               PARTITION BY g.nation, g.segment) AS n
      FROM grid g LEFT JOIN cls
        ON cls.nation = g.nation AND cls.segment = g.segment
       AND cls.b = g.b),
    gb AS (SELECT b, CAST(sum(cnt) AS BIGINT) AS cnt FROM cls GROUP BY 1),
    gg AS (
      SELECT r.range AS b,
             sum(coalesce(gb.cnt, 0)) OVER (ORDER BY r.range) AS gcum,
             sum(coalesce(gb.cnt, 0)) OVER () AS tot
      FROM range(0, {_TC_BUCKETS}) r LEFT JOIN gb ON gb.b = r.range)
    SELECT gc.nation, gc.segment, CAST(min(gc.n) AS BIGINT) AS n_class,
           CAST(sum(abs(gc.cum * 1000000 // gc.n
                        - gg.gcum * 1000000 // gg.tot))
                // {_TC_BUCKETS - 1} AS BIGINT) AS emd_e6,
           CAST(CASE WHEN sum(abs(gc.cum * 1000000 // gc.n
                                  - gg.gcum * 1000000 // gg.tot))
                          // {_TC_BUCKETS - 1} > {_TC_T_E6}
                THEN 1 ELSE 0 END AS BIGINT) AS t_flag
    FROM gc JOIN gg ON gg.b = gc.b
    WHERE gc.b < {_TC_BUCKETS - 1}
    GROUP BY 1, 2
    """,
)
def t_closeness_audit(spark: SparkSession, sf: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007): for each
    quasi-identifier class (nation × market segment), the earth-mover
    distance between its account-balance distribution and the global
    one, over the ORDERED $1000-bucket domain — the ordinal-EMD form
    Σ|cumP − cumQ| / (m−1).  Cumulative fractions are quantized to
    1e-6 integer ticks BEFORE the difference (both engines truncate
    identically), so the published EMD is a defined integer metric
    with no float anywhere; classes with EMD > 0.2 carry t_flag = 1.
    Buckets are (cents + 100000) // 100000 — the shift keeps the
    dividend non-negative, where Spark's truncating `div` and
    DuckDB's flooring `//` agree.  Completes the privacy triad with
    k_anonymity_audit and l_diversity_audit.

    Scale: one customer scan → (class, bucket) counts; everything
    after runs on the class×bucket grid (classes × 11 rows — grid
    cardinality is quasi-identifier-bounded, never row-bounded), with
    all windows over that grid.  The missing-bucket zero rows are
    materialized from a literal range so flat cumulative segments
    contribute their |cum diff| — dropping them would under-count the
    EMD."""
    c = t(spark, sf, "customer").select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.expr(
            "(CAST(round(c_acctbal * 100) AS BIGINT) + 100000)"
            " div 100000"
        ).alias("b"),
    )
    # the class×bucket count table is tiny (classes × 11) and feeds
    # three consumers (grid keys, the left join, the global margin) —
    # persist it so the plan carries ONE customer FileScan
    cls = c.groupBy("nation", "segment", "b").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    ).persist()
    grid = (
        cls.select("nation", "segment")
        .distinct()
        .select(
            "nation",
            "segment",
            F.explode(F.sequence(F.lit(0), F.lit(_TC_BUCKETS - 1))).alias(
                "b"
            ),
        )
    )
    wc = (
        W.partitionBy("nation", "segment")
        .orderBy("b")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    gc = (
        grid.join(cls, ["nation", "segment", "b"], "left")
        .withColumn("cnt0", F.coalesce(F.col("cnt"), F.lit(0)))
        .select(
            "nation",
            "segment",
            "b",
            F.sum("cnt0").over(wc).alias("cum"),
            F.sum("cnt0")
            .over(W.partitionBy("nation", "segment"))
            .alias("n"),
        )
    )
    gb = cls.groupBy("b").agg(F.sum("cnt").cast("long").alias("cnt"))
    gdom = spark.range(0, _TC_BUCKETS).select(F.col("id").alias("b"))
    wg = W.orderBy("b").rowsBetween(W.unboundedPreceding, W.currentRow)
    gg = (
        gdom.join(gb, "b", "left")
        .withColumn("cnt0", F.coalesce(F.col("cnt"), F.lit(0)))
        .select(
            "b",
            F.sum("cnt0").over(wg).alias("gcum"),
            F.sum("cnt0").over(W.partitionBy()).alias("tot"),
        )
    )
    terms = (
        gc.join(gg, "b")
        .filter(F.col("b") < _TC_BUCKETS - 1)
        .select(
            "nation",
            "segment",
            "n",
            F.abs(
                F.expr("cum * 1000000 div n")
                - F.expr("gcum * 1000000 div tot")
            ).alias("d"),
        )
    )
    return terms.groupBy("nation", "segment").agg(
        F.min("n").cast("long").alias("n_class"),
        F.expr(f"sum(d) div {_TC_BUCKETS - 1}").cast("long").alias("emd_e6"),
        (
            F.expr(f"sum(d) div {_TC_BUCKETS - 1}") > _TC_T_E6
        )
        .cast("long")
        .alias("t_flag"),
    )


@query(
    "local_clustering_coeff",
    oracle=f"""
    WITH {_LPA_EDGES_SQL},
    tri AS (
      SELECT e1.u AS ta, e1.v AS tb, e2.v AS tc
      FROM e0 e1
      JOIN e0 e2 ON e1.v = e2.u
      JOIN e0 e3 ON e3.u = e1.u AND e3.v = e2.v),
    pt AS (
      SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
        SELECT ta AS node FROM tri
        UNION ALL SELECT tb FROM tri
        UNION ALL SELECT tc FROM tri)
      GROUP BY 1),
    dg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS degree
           FROM ed GROUP BY 1)
    SELECT dg.node AS cust, dg.degree,
           CAST(coalesce(pt.n_triangles, 0) AS BIGINT) AS n_triangles,
           CAST(2 * coalesce(pt.n_triangles, 0) * 1000000
                // (dg.degree * (dg.degree - 1)) AS BIGINT) AS lcc_e6
    FROM dg LEFT JOIN pt ON pt.node = dg.node
    WHERE dg.degree >= 2
    """,
)
def local_clustering_coeff(spark: SparkSession, sf: str) -> DataFrame:
    """Per-node local clustering coefficient on the rare-part
    co-purchase graph: lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) in
    1e-6 ticks — how close each customer's neighborhood is to a
    clique, the standard local-structure companion of the global
    triangle count.  Edges and triangle enumeration reuse the SHARED
    blocked projection (analytics2.copurchase_edges and the oriented
    a<b<c wedge join of triangle_count_copurchase — one audited
    candidate generator, not a re-derivation); nodes with degree >= 2
    and no triangles appear with lcc 0 via the left join.

    Scale: the projection is degree-bounded per rare part; the wedge
    join shuffles only the (persisted) edge list; degrees come from
    one groupBy over the symmetric edges.  Everything downstream of
    the projection is edge-cardinality, not corpus-cardinality."""
    ed = copurchase_edges(spark, sf)
    e0 = ed.filter(F.col("u") < F.col("v"))
    e1, e2, e3 = e0.alias("e1"), e0.alias("e2"), e0.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u"))
            & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("ta"),
            F.col("e1.v").alias("tb"),
            F.col("e2.v").alias("tc"),
        )
    )
    pt = (
        tri.select(F.explode(F.array("ta", "tb", "tc")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    dg = ed.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    return (
        dg.filter(F.col("degree") >= 2)
        .join(pt, "node", "left")
        .select(
            F.col("node").alias("cust"),
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("long")
            .alias("n_triangles"),
            F.expr(
                "2 * coalesce(n_triangles, 0) * 1000000"
                " div (degree * (degree - 1))"
            )
            .cast("long")
            .alias("lcc_e6"),
        )
    )


# --- SAX symbolization: weekly PAA means of daily order revenue,
# mapped to a 4-letter alphabet at the exact nearest-rank quartiles.
_SAX_ALPHA = 4


@query(
    "sax_weekly_revenue",
    oracle="""
    WITH d AS (
      SELECT CAST(datediff('day', DATE '1970-01-01', o_orderdate)
                  AS BIGINT) AS ed,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS day_c
      FROM orders GROUP BY 1),
    w AS (
      SELECT ed // 7 AS wk, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(day_c) AS BIGINT) AS s
      FROM d GROUP BY 1),
    p AS (SELECT wk, n_days, s // n_days AS paa_c FROM w),
    r AS (
      SELECT wk, n_days, paa_c,
             row_number() OVER (ORDER BY paa_c, wk) AS rn,
             count(*) OVER () AS n
      FROM p),
    bp AS (
      SELECT min(CASE WHEN rn = (n + 3) // 4 THEN paa_c END) AS q1,
             min(CASE WHEN rn = (2 * n + 3) // 4 THEN paa_c END) AS q2,
             min(CASE WHEN rn = (3 * n + 3) // 4 THEN paa_c END) AS q3
      FROM r)
    SELECT r.wk, r.n_days, r.paa_c,
           CAST(CASE WHEN r.paa_c > bp.q3 THEN 3
                     WHEN r.paa_c > bp.q2 THEN 2
                     WHEN r.paa_c > bp.q1 THEN 1
                     ELSE 0 END AS BIGINT) AS symbol
    FROM r CROSS JOIN bp
    """,
)
def sax_weekly_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """SAX-style time-series symbolization (Lin, Keogh et al. 2003)
    of the order-revenue series: daily revenue → weekly PAA means
    (epoch-week buckets anchored at 1970-01-01, so no data-dependent
    origin) → a 4-letter alphabet cut at the exact nearest-rank
    quartiles of the PAA values (not the Gaussian breakpoints of the
    paper — quartiles are exactly computable in integers and make the
    symbols equi-frequent by construction).  The discretized series
    a similarity search / motif index stores instead of raw points.

    Scale: one orders scan → per-day aggregate (bounded by the date
    domain) → per-week aggregate; the rank window and the 1-row
    breakpoint panel run over the WEEK table (≤ a few thousand rows
    at any corpus size — calendar-bounded); the panel joins back as a
    scalar broadcast.  PAA means are integer cents div days."""
    d = (
        t(spark, sf, "orders")
        .groupBy(
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
            .cast("long")
            .alias("ed")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("day_c")
        )
    )
    w = d.groupBy(F.expr("ed div 7").alias("wk")).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("day_c").cast("long").alias("s"),
    )
    p = w.select("wk", "n_days", F.expr("s div n_days").alias("paa_c"))
    r = p.select(
        "wk",
        "n_days",
        "paa_c",
        F.row_number().over(W.orderBy("paa_c", "wk")).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("n"),
    )
    bp = r.agg(
        F.min(
            F.when(F.col("rn") == F.expr("(n + 3) div 4"), F.col("paa_c"))
        ).alias("q1"),
        F.min(
            F.when(
                F.col("rn") == F.expr("(2 * n + 3) div 4"), F.col("paa_c")
            )
        ).alias("q2"),
        F.min(
            F.when(
                F.col("rn") == F.expr("(3 * n + 3) div 4"), F.col("paa_c")
            )
        ).alias("q3"),
    )
    return r.crossJoin(F.broadcast(bp)).select(
        "wk",
        "n_days",
        "paa_c",
        F.when(F.col("paa_c") > F.col("q3"), 3)
        .when(F.col("paa_c") > F.col("q2"), 2)
        .when(F.col("paa_c") > F.col("q1"), 1)
        .otherwise(0)
        .cast("long")
        .alias("symbol"),
    )


# --- Poisson bootstrap: deterministic md5-u32 uniforms -> Poisson(1)
# weights via the inverse CDF, thresholds precomputed as exact int
# literals scaled to 2^32 (the u32 domain).
_BOOT_R = 32
_BOOT_CDF = []
_acc = 0.0
for _k in range(6):
    _acc += math.exp(-1.0) / math.factorial(_k)
    _BOOT_CDF.append(int(math.floor(_acc * 4294967296.0)))


def _boot_w_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {thr} THEN {k}" for k, thr in enumerate(_BOOT_CDF)
    )
    return f"CASE {cases} ELSE 6 END"


@query(
    "bootstrap_revenue_ci",
    oracle=f"""
    WITH f AS (
      SELECT r.range AS rep,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             {_boot_w_sql(_md5_u32_sql("boot", "(o_orderkey * 32 + r.range)"))}
               AS w
      FROM orders CROSS JOIN range(0, {_BOOT_R}) r),
    reps AS (
      SELECT rep, CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(cents) AS BIGINT) AS total_c,
             CAST(sum(w * cents) AS BIGINT) AS boot_c
      FROM f GROUP BY 1),
    rk AS (
      SELECT *, row_number() OVER (ORDER BY boot_c, rep) AS rn FROM reps)
    SELECT CAST(min(n_orders) AS BIGINT) AS n_orders,
           CAST(min(total_c) AS BIGINT) AS total_c,
           CAST(min(boot_c) AS BIGINT) AS boot_min_c,
           CAST(min(CASE WHEN rn = {_BOOT_R // 2} THEN boot_c END)
                AS BIGINT) AS boot_med_c,
           CAST(max(boot_c) AS BIGINT) AS boot_max_c
    FROM rk
    """,
)
def bootstrap_revenue_ci(spark: SparkSession, sf: str) -> DataFrame:
    """Poisson bootstrap of total order revenue (the map-reduce
    bootstrap: each replicate reweights every row by an independent
    Poisson(1) draw, avoiding any resample-by-index shuffle — the
    formulation streaming/MapReduce systems use because it needs ONE
    pass).  Draws are deterministic: the md5-u32 portable uniform of
    (orderkey, replicate) against exact integer CDF thresholds
    (floor(cdf·2^32) literals), so both engines draw identical
    weights and the replicate envelope is oracle-checkable.  Output:
    exact total, replicate min / lower-median / max over R=32 — the
    spread a dashboard prints as the resampling uncertainty band.

    Scale: the ×R fan-out is map-side (no shuffle grows with R
    beyond the R-key aggregate); per-replicate partial sums combine
    map-side, so shuffle traffic is R rows per task; the rank window
    runs over the R-row replicate table.  Int64: Σ 6·cents ≈ 4e13 at
    the 100× replica — 5 orders inside int64."""
    w_col = F.lit(6)
    u = _md5_u32(
        "boot", F.col("o_orderkey") * _BOOT_R + F.col("rep")
    )
    for k in range(len(_BOOT_CDF) - 1, -1, -1):
        w_col = F.when(u < _BOOT_CDF[k], k).otherwise(w_col)
    f = (
        t(spark, sf, "orders")
        .select(
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            "o_orderkey",
        )
        .withColumn(
            "rep", F.explode(F.sequence(F.lit(0), F.lit(_BOOT_R - 1)))
        )
        .select("rep", "cents", w_col.cast("long").alias("w"))
    )
    reps = f.groupBy("rep").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("total_c"),
        F.sum(F.col("w") * F.col("cents")).cast("long").alias("boot_c"),
    )
    rk = reps.withColumn(
        "rn", F.row_number().over(W.orderBy("boot_c", "rep"))
    )
    return rk.agg(
        F.min("n_orders").cast("long").alias("n_orders"),
        F.min("total_c").cast("long").alias("total_c"),
        F.min("boot_c").cast("long").alias("boot_min_c"),
        F.min(F.when(F.col("rn") == _BOOT_R // 2, F.col("boot_c")))
        .cast("long")
        .alias("boot_med_c"),
        F.max("boot_c").cast("long").alias("boot_max_c"),
    )


# --- permutation test: P deterministic pseudo-permutations of the
# treatment labels; permutation 0 IS the real labeling, so the
# observed statistic and the null draws come from one aggregate.
_PERM_P = 64


@query(
    "permutation_test_spend",
    oracle=f"""
    WITH pu AS (
      SELECT user_id,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS y
      FROM {EVENTS_US} events WHERE event_type = 'purchase'
      GROUP BY 1),
    lab AS (
      SELECT p.range AS perm, pu.y,
             CASE WHEN p.range = 0 THEN pu.user_id % 2
                  ELSE {_md5_u32_sql("perm", "(pu.user_id * 65 + p.range)")}
                       % 2 END AS g
      FROM pu CROSS JOIN range(0, {_PERM_P + 1}) p),
    st AS (
      SELECT perm,
             CAST(sum(CASE WHEN g = 1 THEN y ELSE 0 END) AS BIGINT) AS s1,
             CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN g = 0 THEN y ELSE 0 END) AS BIGINT) AS s0,
             CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0
      FROM lab GROUP BY 1),
    md AS (
      SELECT perm,
             abs(CASE WHEN n1 = 0 OR n0 = 0 THEN 0
                      ELSE (s1 * 10000) // n1 - (s0 * 10000) // n0 END)
               AS stat_e4,
             n1 + n0 AS n_users
      FROM st)
    SELECT CAST(min(n_users) AS BIGINT) AS n_users,
           CAST(min(CASE WHEN perm = 0 THEN stat_e4 END) AS BIGINT)
             AS obs_diff_e4,
           CAST(sum(CASE WHEN perm > 0 AND stat_e4 >=
                  (SELECT stat_e4 FROM md WHERE perm = 0)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
           CAST((1 + sum(CASE WHEN perm > 0 AND stat_e4 >=
                  (SELECT stat_e4 FROM md WHERE perm = 0)
                THEN 1 ELSE 0 END)) * 1000000 // {_PERM_P + 1} AS BIGINT)
             AS p_value_e6
    FROM md
    """,
)
def permutation_test_spend(spark: SparkSession, sf: str) -> DataFrame:
    """Permutation test for the even/odd-user spend difference: P=64
    deterministic pseudo-permutations relabel each user by the md5-u32
    parity of (user, permutation) — permutation 0 is the REAL
    labeling, so observed and null statistics come from one grouped
    aggregate.  The statistic is the tick-quantized absolute
    mean-difference |Σy₁·1e4 // n₁ − Σy₀·1e4 // n₀| (defined
    identically in both engines); the p-value is the standard
    add-one-smoothed (1 + #{null ≥ obs}) / (P + 1) in 1e-6 ticks.
    The resampling complement of bootstrap_revenue_ci: that one
    bounds an estimate, this one tests a hypothesis — both on
    portable-hash draws, which is what makes either oracle-checkable.

    Scale: per-user totals first (one events scan), THEN the ×(P+1)
    fan-out on the user table — resampling cost scales with users,
    not events; the P+1-row statistic table finishes driver-light.
    Int64: Σy·1e4 ≈ 2e15 at the 100× replica."""
    pu = (
        t(spark, sf, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("y")
        )
    )
    lab = pu.withColumn(
        "perm", F.explode(F.sequence(F.lit(0), F.lit(_PERM_P)))
    ).select(
        "perm",
        "y",
        F.when(F.col("perm") == 0, F.col("user_id") % 2)
        .otherwise(
            _md5_u32(
                "perm", F.col("user_id") * (_PERM_P + 1) + F.col("perm")
            )
            % 2
        )
        .alias("g"),
    )
    st = lab.groupBy("perm").agg(
        F.sum(F.when(F.col("g") == 1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("s1"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("g") == 0, F.col("y")).otherwise(0))
        .cast("long")
        .alias("s0"),
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n0"),
    )
    md = st.select(
        "perm",
        F.abs(
            F.when((F.col("n1") == 0) | (F.col("n0") == 0), F.lit(0))
            .otherwise(
                F.expr("(s1 * 10000) div n1 - (s0 * 10000) div n0")
            )
        ).alias("stat_e4"),
        (F.col("n1") + F.col("n0")).alias("n_users"),
    )
    obs = md.filter(F.col("perm") == 0).select(
        F.col("stat_e4").alias("obs_e4")
    )
    j = md.crossJoin(F.broadcast(obs))
    return j.agg(
        F.min("n_users").cast("long").alias("n_users"),
        F.min(F.when(F.col("perm") == 0, F.col("stat_e4")))
        .cast("long")
        .alias("obs_diff_e4"),
        F.sum(
            F.when(
                (F.col("perm") > 0)
                & (F.col("stat_e4") >= F.col("obs_e4")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_ge"),
        F.expr(
            "CAST((1 + sum(CASE WHEN perm > 0 AND stat_e4 >= obs_e4"
            f" THEN 1 ELSE 0 END)) * 1000000 div {_PERM_P + 1} AS BIGINT)"
        ).alias("p_value_e6"),
    )


# --- walk-count centrality: exact 1/2/3-step walk counts per node on
# the shared co-purchase projection — the integer-exact cousin of
# eigenvector/HITS centrality (power iteration without the float
# normalization; ranking by walks3 converges to the eigenvector
# ranking as steps grow).
@query(
    "walk_count_centrality",
    oracle=f"""
    WITH {_LPA_EDGES_SQL},
    w1 AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS w
           FROM ed GROUP BY 1),
    w2 AS (SELECT e.u AS node, CAST(sum(w1.w) AS BIGINT) AS w
           FROM ed e JOIN w1 ON w1.node = e.v GROUP BY 1),
    w3 AS (SELECT e.u AS node, CAST(sum(w2.w) AS BIGINT) AS w
           FROM ed e JOIN w2 ON w2.node = e.v GROUP BY 1)
    SELECT w1.node AS cust, w1.w AS degree,
           w2.w AS walks2, w3.w AS walks3
    FROM w1 JOIN w2 USING (node) JOIN w3 USING (node)
    """,
)
def walk_count_centrality(spark: SparkSession, sf: str) -> DataFrame:
    """Exact walk-count centrality on the rare-part co-purchase
    graph: for every node, the number of 1-, 2-, and 3-step walks
    starting there (w_{{k+1}}(v) = Σ_{{u∈N(v)}} w_k(u)) — unnormalized
    power iteration, whose walks3 ranking approaches eigenvector/HITS
    centrality while staying pure BIGINT (no float normalization for
    the oracle to drift on).  Completes the centrality battery:
    degree (trivially w1), PageRank (damped, float-scaled), k-core
    (peeling), local clustering (triangles), and now walk counts.

    Scale: each step is ONE join of the persisted edge list against a
    node-cardinality vector — never the corpus; 3 fixed steps.  The
    oracle materializes the blocked projection once (inlined, the
    DISTINCT projection re-runs per step — the lcc/§9j lesson).
    Int64: walks3 <= deg_max³ ≈ 3.4e9 at the 100× replica — 2.7e9× of
    headroom."""
    ed = copurchase_edges(spark, sf)
    w1 = ed.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("w")
    )

    def step(prev: DataFrame) -> DataFrame:
        return (
            ed.join(
                prev.select(F.col("node").alias("v"), "w"), "v"
            )
            .groupBy(F.col("u").alias("node"))
            .agg(F.sum("w").cast("long").alias("w"))
        )

    w2, w3 = step(w1), step(step(w1))
    return (
        w1.select("node", F.col("w").alias("degree"))
        .join(w2.select("node", F.col("w").alias("walks2")), "node")
        .join(w3.select("node", F.col("w").alias("walks3")), "node")
        .select(
            F.col("node").alias("cust"), "degree", "walks2", "walks3"
        )
    )


# --- group-median imputation: the data-repair staple — fill missing
# numerics with the group's exact nearest-rank median.  Missingness
# is synthesized deterministically (md5-u32 of the row key), so both
# engines agree on WHICH rows are missing and the audit is
# oracle-checkable.
_IMP_MISS_MOD = 10  # ~10% of rows masked missing


@query(
    "impute_group_median",
    oracle=f"""
    WITH li AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
             CASE WHEN {_md5_u32_sql("na", "(l_orderkey * 8 + l_linenumber)")}
                  % {_IMP_MISS_MOD} = 0 THEN 1 ELSE 0 END AS miss
      FROM lineitem),
    h AS (
      SELECT flag, pc, CAST(count(*) AS BIGINT) AS c
      FROM li WHERE miss = 0 GROUP BY 1, 2),
    cum AS (
      SELECT flag, pc,
             sum(c) OVER (PARTITION BY flag ORDER BY pc) AS cw,
             sum(c) OVER (PARTITION BY flag) AS tw
      FROM h),
    med AS (
      SELECT flag, CAST(min(pc) AS BIGINT) AS median_c
      FROM cum WHERE 2 * cw >= tw GROUP BY 1)
    SELECT li.flag,
           CAST(sum(1 - li.miss) AS BIGINT) AS n_present,
           CAST(sum(li.miss) AS BIGINT) AS n_imputed,
           CAST(min(med.median_c) AS BIGINT) AS median_c,
           CAST(sum(CASE WHEN li.miss = 1 THEN med.median_c
                         ELSE li.pc END) AS BIGINT) AS total_after_c
    FROM li JOIN med ON med.flag = li.flag
    GROUP BY 1
    """,
)
def impute_group_median(spark: SparkSession, sf: str) -> DataFrame:
    """Group-median imputation audit — the data-repair staple every
    feature pipeline runs before model training: rows whose price is
    "missing" (synthesized deterministically: md5-u32 of the row key,
    ~10% — both engines mask the SAME rows, which is what makes a
    repair operator oracle-checkable at all) are filled with their
    return-flag group's exact lower-median of the PRESENT values, and
    the audit reports per group: present/imputed counts, the imputed
    median, and the post-repair total.

    Scale: the median comes from the per-group VALUE HISTOGRAM (cents
    domain-bounded — the weighted_median_price discipline), windows
    run over the histogram only, and the repair itself is a broadcast
    join of the tiny per-group median table back onto one scan."""
    li = t(spark, sf, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("pc"),
        (
            _md5_u32(
                "na", F.col("l_orderkey") * 8 + F.col("l_linenumber")
            )
            % _IMP_MISS_MOD
            == 0
        )
        .cast("long")
        .alias("miss"),
    )
    h = (
        li.filter(F.col("miss") == 0)
        .groupBy("flag", "pc")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wc = W.partitionBy("flag").orderBy("pc").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = h.select(
        "flag",
        "pc",
        F.sum("c").over(wc).alias("cw"),
        F.sum("c").over(W.partitionBy("flag")).alias("tw"),
    )
    med = (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("flag")
        .agg(F.min("pc").cast("long").alias("median_c"))
    )
    return (
        li.join(F.broadcast(med), "flag")
        .groupBy("flag")
        .agg(
            F.sum(1 - F.col("miss")).cast("long").alias("n_present"),
            F.sum("miss").cast("long").alias("n_imputed"),
            F.min("median_c").cast("long").alias("median_c"),
            F.sum(
                F.when(F.col("miss") == 1, F.col("median_c")).otherwise(
                    F.col("pc")
                )
            )
            .cast("long")
            .alias("total_after_c"),
        )
    )


# --- Mann-Kendall trend test: the nonparametric monotone-trend
# significance companion of theil_sen_trend (which estimates the
# slope; this tests it).
@query(
    "mann_kendall_trend",
    oracle="""
    WITH d AS (
      SELECT o_orderdate AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders GROUP BY 1),
    s AS (
      SELECT CAST(coalesce(sum(CASE WHEN b.x > a.x THEN 1
                                    WHEN b.x < a.x THEN -1 ELSE 0 END),
                           0) AS BIGINT) AS s
      FROM d a JOIN d b ON b.day > a.day),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
    ties AS (
      SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)
                  AS BIGINT) AS tt
      FROM (SELECT CAST(count(*) AS BIGINT) AS t
            FROM d GROUP BY x HAVING count(*) > 1)),
    v AS (
      SELECT n.n, s.s,
             n.n * (n.n - 1) * (2 * n.n + 5) - ties.tt AS var18
      FROM n CROSS JOIN s CROSS JOIN ties)
    SELECT n AS n_days, s, CAST(var18 AS BIGINT) AS var_s_x18,
           CAST(CASE WHEN var18 = 0 THEN 0 ELSE floor(
             (CAST(s AS DOUBLE) - CASE WHEN s > 0 THEN 1
                                       WHEN s < 0 THEN -1
                                       ELSE 0 END)
             / sqrt(CAST(var18 AS DOUBLE) / 18.0) * 1000000)
           END AS BIGINT) AS z_e6
    FROM v
    """,
)
def mann_kendall_trend(spark: SparkSession, sf: str) -> DataFrame:
    """Mann-Kendall monotone-trend test on the daily revenue series:
    S = Σ_{i<j} sign(x_j − x_i), the tie-corrected variance published
    as the exact integer 18·Var(S) = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5),
    and the continuity-corrected z in 1e-6 ticks via one double chain
    on those exact integers (the CUPED discipline).  The significance
    companion of theil_sen_trend — that one estimates the slope, this
    one tests whether a monotone trend exists at all.

    Scale: the pair join runs over the DAY AGGREGATE (calendar-
    bounded — ~2.4k days at any corpus size, ~3M pairs), never raw
    rows; the corpus contributes one groupBy(day) scan.  Int64:
    S ≤ n², var18 ≈ 2n³ ≈ 3e10 — both tiny."""
    # the calendar-bounded day aggregate feeds FOUR branches (both
    # pair sides, n, ties) — persist it: one orders FileScan
    d = (
        t(spark, sf, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("x")
        )
        .persist()
    )
    a = d.select(F.col("day").alias("da"), F.col("x").alias("xa"))
    b = d.select(F.col("day").alias("db"), F.col("x").alias("xb"))
    s = (
        a.join(b, F.col("db") > F.col("da"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("xb") > F.col("xa"), 1)
                    .when(F.col("xb") < F.col("xa"), -1)
                    .otherwise(0)
                ),
                # a single-day series has no pairs: S = 0, not NULL
                F.lit(0),
            )
            .cast("long")
            .alias("s")
        )
    )
    n = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ties = (
        d.groupBy("x")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t")
                    * (F.col("t") - 1)
                    * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tt")
        )
    )
    v = (
        n.crossJoin(s)
        .crossJoin(ties)
        .select(
            "n",
            "s",
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.col("tt")
            ).alias("var18"),
        )
    )
    return v.select(
        F.col("n").alias("n_days"),
        "s",
        F.col("var18").cast("long").alias("var_s_x18"),
        F.expr(
            "CAST(CASE WHEN var18 = 0 THEN 0 ELSE floor("
            "(CAST(s AS DOUBLE) - CASE WHEN s > 0 THEN 1"
            " WHEN s < 0 THEN -1 ELSE 0 END)"
            " / sqrt(CAST(var18 AS DOUBLE) / 18.0) * 1000000)"
            " END AS BIGINT)"
        ).alias("z_e6"),
    )


# --- weighted percentiles: the weighted_median_price bucket
# discipline generalized to the quartile grid.
_WP_BW = 4096  # cents per bucket (same as weighted_median_price)


@query(
    "weighted_percentiles_price",
    oracle=f"""
    WITH li AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
             CAST(l_quantity AS BIGINT) AS w,
             l_orderkey, l_linenumber,
             CAST(round(l_extendedprice * 100) AS BIGINT) // {_WP_BW}
               AS bkt
      FROM lineitem),
    btot AS (
      SELECT flag, bkt, CAST(sum(w) AS BIGINT) AS btok
      FROM li GROUP BY 1, 2),
    bbase AS (
      SELECT flag, bkt,
             coalesce(sum(btok) OVER (PARTITION BY flag ORDER BY bkt
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS base,
             btok,
             sum(btok) OVER (PARTITION BY flag) AS tw
      FROM btot),
    bound AS (
      SELECT b.flag, k.range AS k, b.bkt, b.base, b.tw
      FROM bbase b CROSS JOIN range(1, 4) k
      WHERE b.base * 4 < k.range * b.tw
        AND (b.base + b.btok) * 4 >= k.range * b.tw),
    c AS (
      SELECT bo.flag, bo.k, li.price_c, bo.tw,
             bo.base + sum(li.w) OVER (
               PARTITION BY bo.flag, bo.k, bo.bkt
               ORDER BY li.price_c, li.l_orderkey, li.l_linenumber
               ROWS UNBOUNDED PRECEDING) AS cw
      FROM li JOIN bound bo ON bo.flag = li.flag AND bo.bkt = li.bkt),
    pk AS (
      SELECT flag, k, CAST(min(tw) AS BIGINT) AS tw,
             CAST(min(price_c) AS BIGINT) AS q_c
      FROM c WHERE cw * 4 >= k * tw GROUP BY 1, 2)
    SELECT flag, CAST(min(tw) AS BIGINT) AS total_weight,
           CAST(min(CASE WHEN k = 1 THEN q_c END) AS BIGINT) AS p25_c,
           CAST(min(CASE WHEN k = 2 THEN q_c END) AS BIGINT) AS p50_c,
           CAST(min(CASE WHEN k = 3 THEN q_c END) AS BIGINT) AS p75_c
    FROM pk GROUP BY 1
    """,
)
def weighted_percentiles_price(spark: SparkSession, sf: str) -> DataFrame:
    """Quantity-weighted p25/p50/p75 of lineitem price per return
    flag — weighted_median_price's bucketed two-phase discipline
    generalized to the quartile grid: the tiny (flag, bucket) totals
    table locates, for EACH target k/4, the single boundary bucket
    whose inclusive span crosses k·tw/4; ordered per-row windows run
    only inside those boundary buckets (partitioned by (flag, k,
    bucket) — bounded by bucket width, never the corpus); the lower
    weighted quantile is the smallest price with 4·cw >= k·tw, all in
    exact integers (p50 reproduces weighted_median_price's 2·cw >= tw
    by construction).

    Scale: identical to the median variant — the k fan-out triples
    only the BOUNDARY-bucket rows, not the corpus; the totals table
    is domain-bounded (price range / bucket width)."""
    li = t(spark, sf, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias(
            "price_c"
        ),
        F.col("l_quantity").cast("long").alias("w"),
        "l_orderkey",
        "l_linenumber",
    ).withColumn("bkt", F.expr(f"price_c div {_WP_BW}"))
    btot = li.groupBy("flag", "bkt").agg(
        F.sum("w").cast("long").alias("btok")
    )
    wb = W.partitionBy("flag").orderBy("bkt").rowsBetween(
        W.unboundedPreceding, -1
    )
    bbase = btot.select(
        "flag",
        "bkt",
        F.coalesce(F.sum("btok").over(wb), F.lit(0)).alias("base"),
        "btok",
        F.sum("btok").over(W.partitionBy("flag")).alias("tw"),
    )
    bound = (
        bbase.withColumn(
            "k", F.explode(F.sequence(F.lit(1), F.lit(3)))
        )
        .filter(
            (F.col("base") * 4 < F.col("k") * F.col("tw"))
            & (
                (F.col("base") + F.col("btok")) * 4
                >= F.col("k") * F.col("tw")
            )
        )
        .select("flag", "k", "bkt", "base", "tw")
    )
    wc = (
        W.partitionBy("flag", "k", "bkt")
        .orderBy("price_c", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = li.join(F.broadcast(bound), ["flag", "bkt"]).select(
        "flag",
        "k",
        "price_c",
        "tw",
        (F.col("base") + F.sum("w").over(wc)).alias("cw"),
    )
    pk = (
        c.filter(F.col("cw") * 4 >= F.col("k") * F.col("tw"))
        .groupBy("flag", "k")
        .agg(
            F.min("tw").cast("long").alias("tw"),
            F.min("price_c").cast("long").alias("q_c"),
        )
    )
    return pk.groupBy("flag").agg(
        F.min("tw").cast("long").alias("total_weight"),
        F.min(F.when(F.col("k") == 1, F.col("q_c")))
        .cast("long")
        .alias("p25_c"),
        F.min(F.when(F.col("k") == 2, F.col("q_c")))
        .cast("long")
        .alias("p50_c"),
        F.min(F.when(F.col("k") == 3, F.col("q_c")))
        .cast("long")
        .alias("p75_c"),
    )


# --- Croston intermittent-demand forecast: the sparse-SKU
# forecasting method (Croston 1972) on power-of-2 EWMA weights —
# exact integers end-to-end (the ewma_pow2_user_spend discipline
# applied to demand OCCASIONS instead of calendar days).
_CR_W = [128, 64, 32, 16, 8, 4, 2, 1]  # 2^(7-a), occasion age a
_CR_WSUM = sum(_CR_W)


def _cr_scatter_sql(src: str, val: str) -> str:
    """Scatter each occasion's value onto its next 8 occasion ranks
    with pow-2 weights; summing per target rank gives the truncated
    EWMA at that rank."""
    vals = ", ".join(f"({a}, {w})" for a, w in enumerate(_CR_W))
    return f"""
      SELECT s.pk, s.rn + w.a AS rn, sum(s.{val} * w.wt) AS e,
             max(CASE WHEN w.a = 0 THEN 1 ELSE 0 END) AS hb
      FROM {src} s CROSS JOIN (VALUES {vals}) AS w(a, wt)
      GROUP BY 1, 2"""


@query(
    "croston_demand_forecast",
    oracle=f"""
    WITH wk AS (
      SELECT l_partkey AS pk,
             date_diff('day', DATE '1970-01-01', l_shipdate) // 7
               AS week,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS z
      FROM lineitem GROUP BY 1, 2),
    occ AS (
      SELECT pk, week, z,
             row_number() OVER (PARTITION BY pk ORDER BY week) AS rn,
             week - lag(week) OVER (PARTITION BY pk ORDER BY week)
               AS iv
      FROM wk),
    ez AS ({_cr_scatter_sql("occ", "z")}),
    ep AS ({_cr_scatter_sql("(SELECT pk, rn - 1 AS rn, iv FROM occ"
                            " WHERE iv IS NOT NULL)", "iv")}),
    last AS (
      SELECT pk, CAST(max(rn) AS BIGINT) AS n_occ FROM occ GROUP BY 1),
    j AS (
      SELECT l.pk, l.n_occ,
             CAST(ez.e AS BIGINT) AS z_w, CAST(ep.e AS BIGINT) AS p_w
      FROM last l
      JOIN ez ON ez.pk = l.pk AND ez.rn = l.n_occ AND ez.hb = 1
      JOIN ep ON ep.pk = l.pk AND ep.rn = l.n_occ - 1 AND ep.hb = 1
      WHERE l.n_occ >= 2)
    SELECT pk AS partkey, n_occ, z_w, p_w,
           CAST(z_w * (256 - (1 << CAST(8 - least(8, n_occ - 1) AS INT)))
                * 10000
                // (p_w * (256 - (1 << CAST(8 - least(8, n_occ) AS INT))))
                AS BIGINT) AS forecast_e4
    FROM j
    """,
)
def croston_demand_forecast(spark: SparkSession, sf: str) -> DataFrame:
    """Croston's method (Croston 1972) for intermittent SKU demand:
    per part, the truncated power-of-2 EWMA of demand SIZES (z, over
    the last 8 demand occasions) and of inter-demand INTERVALS (p,
    over the last 8 intervals), both at the part's latest occasion;
    the forecast per week is z/p, published as
    (z_w·Σw_p·1e4) // (p_w·Σw_z) exact ticks where Σw_z / Σw_p are
    each EWMA's ACTUAL truncated weight sum 256 − 2^(8−m)
    (m = min(8, #terms)): z_w sums min(8, n_occ) weights while p_w
    sums min(8, n_occ−1), so the scales only cancel for parts with
    ≥ 9 occasions — short-history parts need the explicit
    normalization or the forecast inflates by the weight-sum ratio
    (1.5× at n_occ = 2; driver ADVICE r06).  For n_occ ≥ 9 both sums
    are 255 and the ratio reduces to the unnormalized z_w·1e4 // p_w
    exactly (floor of an identical rational).
    The ewma_pow2_user_spend scatter applied to occasion RANK instead
    of calendar age — which is exactly what distinguishes Croston
    from plain smoothing: sparse SKUs decay per demand event, not per
    silent day.  Parts with a single occasion have no interval and
    are excluded (no p estimate exists).

    Scale: the corpus shrinks to (part × demand-week) in one scan;
    the rank/lag windows and the 8× scatter run on that aggregate
    (partitioned by part — entity-parallel); the final join is
    part-cardinality.  Int64: z_w ≤ 255·max weekly qty ≈ 1e7."""
    wk = (
        t(spark, sf, "lineitem")
        .groupBy(
            F.col("l_partkey").alias("pk"),
            F.expr(
                "datediff(l_shipdate, DATE '1970-01-01') div 7"
            ).alias("week"),
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("z"))
    )
    wo = W.partitionBy("pk").orderBy("week")
    occ = wk.select(
        "pk",
        "week",
        "z",
        F.row_number().over(wo).alias("rn"),
        (F.col("week") - F.lag("week").over(wo)).alias("iv"),
    ).persist()

    wts = F.array(*[F.lit(w) for w in _CR_W])

    def scatter(src: DataFrame, val: str) -> DataFrame:
        return (
            src.select(
                "pk", "rn", F.col(val).alias("v"),
                F.posexplode(wts).alias("a", "wt"),
            )
            .groupBy("pk", (F.col("rn") + F.col("a")).alias("rn"))
            .agg(
                F.sum(F.col("v") * F.col("wt")).alias("e"),
                F.max(
                    F.when(F.col("a") == 0, F.lit(1)).otherwise(F.lit(0))
                ).alias("hb"),
            )
        )

    ez = scatter(occ, "z")
    ep = scatter(
        occ.filter(F.col("iv").isNotNull()).select(
            "pk", (F.col("rn") - 1).alias("rn"), "iv"
        ),
        "iv",
    )
    last = occ.groupBy("pk").agg(
        F.max("rn").cast("long").alias("n_occ")
    )
    j = (
        last.filter(F.col("n_occ") >= 2)
        .join(
            ez.filter(F.col("hb") == 1).select(
                "pk", F.col("rn").alias("n_occ"), F.col("e").alias("z_w")
            ),
            ["pk", "n_occ"],
        )
        .join(
            ep.filter(F.col("hb") == 1).select(
                "pk",
                (F.col("rn") + 1).alias("n_occ"),
                F.col("e").alias("p_w"),
            ),
            ["pk", "n_occ"],
        )
    )
    return j.select(
        F.col("pk").alias("partkey"),
        "n_occ",
        F.col("z_w").cast("long"),
        F.col("p_w").cast("long"),
        F.expr(
            "z_w * (256 - shiftleft(1, CAST(8 - least(8, n_occ - 1)"
            " AS INT))) * 10000"
            " div (p_w * (256 - shiftleft(1, CAST(8 - least(8, n_occ)"
            " AS INT))))"
        )
        .cast("long")
        .alias("forecast_e4"),
    )


# --- Benjamini-Hochberg FDR across per-brand permutation tests: the
# multiple-testing correction every metrics platform needs once it
# runs one test per segment.  Permutations are md5-u32 deterministic
# (the permutation_test_spend machinery, randomization unit = order),
# so the whole p-value VECTOR is oracle-checkable.  The oracle
# materializes the statistic table and the p-values: inlined, the
# x(P+1) permutation fan-out re-ran once per reference (24 GB RSS /
# 30+ min at the 10x replica).  The order aggregate that feeds the
# fan-out stays inline: a materialized CTE is read back by a pipeline
# that ran the ×33 md5 fan-out 2-3x slower at sf0.1.
_BH_P = 32  # permutations per brand
_BH_ALPHA_E1 = 1  # alpha = 0.1


@query(
    "bh_fdr_brand_tests",
    oracle=f"""
    WITH ok AS (
      SELECT p.p_brand AS brand, l.l_orderkey AS okey,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2),
    lab AS (
      SELECT ok.brand, ok.y, r.range AS perm,
             CASE WHEN r.range = 0 THEN ok.okey % 2
                  ELSE {_md5_u32_sql("bh", f"(ok.okey * {_BH_P + 1} + r.range)")}
                       % 2 END AS g
      FROM ok CROSS JOIN range(0, {_BH_P + 1}) r),
    st AS MATERIALIZED (
      SELECT brand, perm,
             abs(CASE WHEN sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) = 0
                        OR sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) = 0
                      THEN 0
                      ELSE (sum(CASE WHEN g = 1 THEN y ELSE 0 END)
                            * 10000)
                           // sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)
                         - (sum(CASE WHEN g = 0 THEN y ELSE 0 END)
                            * 10000)
                           // sum(CASE WHEN g = 0 THEN 1 ELSE 0 END)
                 END) AS stat_e4
      FROM lab GROUP BY 1, 2),
    pv AS MATERIALIZED (
      SELECT s.brand,
             CAST((1 + sum(CASE WHEN s.perm > 0
                                 AND s.stat_e4 >= o.stat_e4
                           THEN 1 ELSE 0 END)) * 1000000
                  // {_BH_P + 1} AS BIGINT) AS p_e6
      FROM st s JOIN (SELECT brand, stat_e4 FROM st WHERE perm = 0) o
        ON o.brand = s.brand
      GROUP BY 1),
    rk AS (
      SELECT brand, p_e6,
             row_number() OVER (ORDER BY p_e6, brand) AS i,
             count(*) OVER () AS m
      FROM pv),
    thr AS (
      SELECT CAST(coalesce(max(CASE WHEN p_e6 * m * 10
                                      <= i * 1000000 * {_BH_ALPHA_E1}
                                THEN i END), 0) AS BIGINT) AS kmax
      FROM rk)
    SELECT rk.brand, rk.p_e6, CAST(rk.i AS BIGINT) AS p_rank,
           CAST(CASE WHEN rk.i <= thr.kmax THEN 1 ELSE 0 END AS BIGINT)
             AS rejected
    FROM rk CROSS JOIN thr
    """,
)
def bh_fdr_brand_tests(spark: SparkSession, sf: str) -> DataFrame:
    """Benjamini-Hochberg FDR control across 25 per-brand permutation
    tests (order-level spend difference between even/odd orderkeys —
    a true null by construction, so rejections measure the procedure,
    not the data): each brand gets an md5-deterministic 32-round
    permutation p-value (randomization unit = the ORDER, aggregated
    before the fan-out so resampling cost scales with orders, not
    line items), then the classic step-up rule rejects the k smallest
    p-values where p_(i) <= i·α/m (α = 0.1, evaluated in exact
    integer ticks: p_e6·m·10 <= i·1e6).  The multiple-testing closer
    of the inference battery (permutation, SPRT, KS/MW, chi², ANOVA,
    CUPED, Mann-Kendall...).

    Scale: per-order totals first (one scan), ×(P+1) fan-out on the
    ORDER aggregate; the statistic table is brands×(P+1) rows; BH
    itself is a window over the m-row p-value table (m = 25 brands —
    the safe-by-value aggregate regime)."""
    ok = (
        t(spark, sf, "lineitem")
        .join(
            t(spark, sf, "part"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("l_orderkey").alias("okey"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("y")
        )
    )
    lab = ok.withColumn(
        "perm", F.explode(F.sequence(F.lit(0), F.lit(_BH_P)))
    ).select(
        "brand",
        "y",
        "perm",
        F.when(F.col("perm") == 0, F.col("okey") % 2)
        .otherwise(
            _md5_u32(
                "bh", F.col("okey") * (_BH_P + 1) + F.col("perm")
            )
            % 2
        )
        .alias("g"),
    )
    st = lab.groupBy("brand", "perm").agg(
        F.sum(F.when(F.col("g") == 1, F.col("y")).otherwise(0)).alias("s1"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("g") == 0, F.col("y")).otherwise(0)).alias("s0"),
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).alias("n0"),
    ).select(
        "brand",
        "perm",
        F.abs(
            F.when((F.col("n1") == 0) | (F.col("n0") == 0), F.lit(0))
            .otherwise(
                F.expr("(s1 * 10000) div n1 - (s0 * 10000) div n0")
            )
        ).alias("stat_e4"),
    )
    obs = st.filter(F.col("perm") == 0).select(
        "brand", F.col("stat_e4").alias("obs_e4")
    )
    pv = (
        st.join(F.broadcast(obs), "brand")
        .groupBy("brand")
        .agg(
            F.expr(
                "CAST((1 + sum(CASE WHEN perm > 0 AND stat_e4 >= obs_e4"
                f" THEN 1 ELSE 0 END)) * 1000000 div {_BH_P + 1}"
                " AS BIGINT)"
            ).alias("p_e6")
        )
    )
    rk = pv.select(
        "brand",
        "p_e6",
        F.row_number().over(W.orderBy("p_e6", "brand")).alias("i"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("m"),
    )
    thr = rk.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p_e6") * F.col("m") * 10
                    <= F.col("i") * 1_000_000 * _BH_ALPHA_E1,
                    F.col("i"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("kmax")
    )
    return rk.crossJoin(F.broadcast(thr)).select(
        "brand",
        "p_e6",
        F.col("i").cast("long").alias("p_rank"),
        (F.col("i") <= F.col("kmax")).cast("long").alias("rejected"),
    )


@query(
    "mixture_effective_sample_size",
    oracle="""
    WITH s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY 1),
    w AS (
      SELECT source, n,
             CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT)
               AS w_e6
      FROM s),
    a AS (
      SELECT CAST(sum(n) AS BIGINT) AS total,
             CAST(sum(n * w_e6) AS BIGINT) AS sw,
             sum(CAST(n AS HUGEINT) * w_e6 * w_e6) AS sw2
      FROM w)
    SELECT total,
           CAST(floor(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
                      / CAST(sw2 AS DOUBLE)) AS BIGINT) AS ess,
           CAST(floor(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
                      / CAST(sw2 AS DOUBLE) / CAST(total AS DOUBLE)
                      * 1000000) AS BIGINT) AS ess_ratio_e6
    FROM a
    """,
)
def mixture_effective_sample_size(spark: SparkSession, sf: str) -> DataFrame:
    """Effective sample size of a temperature-weighted corpus mixture
    (the sqrt-temperature upweighting of source_mixture fame): every
    document in source s carries weight w_s = floor(√n_s · 1e6), and
    ESS = (Σ w_i)² / Σ w_i² = (Σ n_s·w_s)² / (Σ n_s·w_s²) — the
    number that says how many "real" samples the reweighted mixture
    is worth (ESS/N → 1 means weights are nearly uniform; → small
    means a few sources dominate).  The diagnostic every
    mixture-balancing pipeline should print next to its weights.
    Integer discipline: w is an exact floor tick; Σ n·w stays int64
    (≈1.5e17 at the 100× replica); Σ n·w² accumulates int128 (DuckDB
    HUGEINT == the Spark decimal(38,0) below — the spearman
    construct); the published ESS is one double chain on those exact
    integers (CUPED discipline).

    Scale: one scan to a source-cardinality aggregate; everything
    after is a handful of rows."""
    s = t(spark, sf, "documents").groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = s.select(
        "n",
        F.floor(F.sqrt(F.col("n").cast("double")) * 1_000_000)
        .cast("long")
        .alias("w_e6"),
    )
    a = w.agg(
        F.sum("n").cast("long").alias("total"),
        F.sum(F.col("n") * F.col("w_e6")).cast("long").alias("sw"),
        F.sum(
            F.col("n").cast("decimal(38,0)")
            * F.col("w_e6")
            * F.col("w_e6")
        ).alias("sw2"),
    )
    return a.select(
        "total",
        F.floor(
            F.col("sw").cast("double")
            * F.col("sw").cast("double")
            / F.col("sw2").cast("double")
        )
        .cast("long")
        .alias("ess"),
        F.floor(
            F.col("sw").cast("double")
            * F.col("sw").cast("double")
            / F.col("sw2").cast("double")
            / F.col("total").cast("double")
            * 1_000_000
        )
        .cast("long")
        .alias("ess_ratio_e6"),
    )


# --- decision-stump split evaluation: exact Gini gain per candidate
# price-bucket threshold for the returnflag label — the
# feature-selection / tree-induction primitive.
_STUMP_BW = 65536  # cents per candidate-split bucket


@query(
    "gini_split_gain_price",
    oracle=f"""
    WITH li AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
               // {_STUMP_BW} AS b,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem),
    h AS (
      SELECT b, CAST(sum(y) AS BIGINT) AS pos,
             CAST(count(*) - sum(y) AS BIGINT) AS neg
      FROM li GROUP BY 1),
    c AS (
      SELECT b,
             sum(pos) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
               PRECEDING AND 1 PRECEDING) AS pl,
             sum(neg) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
               PRECEDING AND 1 PRECEDING) AS nl,
             sum(pos) OVER () AS p,
             sum(neg) OVER () AS n
      FROM h),
    g AS (
      SELECT b, CAST(pl AS BIGINT) AS pos_left,
             CAST(nl AS BIGINT) AS neg_left,
             CAST(2 * CAST(p AS HUGEINT) * n * 1000000
                  // (p + n) AS BIGINT)
             - CAST(2 * CAST(pl AS HUGEINT) * nl * 1000000
                    // (pl + nl) AS BIGINT)
             - CAST(2 * CAST(p - pl AS HUGEINT) * (n - nl) * 1000000
                    // (p + n - pl - nl) AS BIGINT) AS gain_e6
      FROM c
      WHERE pl + nl > 0 AND pl + nl < p + n)
    SELECT b AS split_bucket, pos_left, neg_left, gain_e6,
           CAST(CASE WHEN gain_e6 = max(gain_e6) OVER () THEN 1
                ELSE 0 END AS BIGINT) AS is_best
    FROM g
    """,
)
def gini_split_gain_price(spark: SparkSession, sf: str) -> DataFrame:
    """Decision-stump split evaluation: for every candidate price
    threshold (bucket boundary), the exact Gini impurity gain of
    splitting lineitem on price < threshold against the
    returnflag='R' label — the primitive inside every tree inducer
    and feature-importance report.  Weighted Gini is computed
    unnormalized-exact: side impurity mass = 2·pos·neg/n_side, so
    gain_e6 = 2e6·[PN/(P+N) − pl·nl/(pl+nl) − pr·nr/(pr+nr)], each
    term an int128-safe cross-multiplication (pos·neg ≈ 9e14 at the
    100× replica; ×1e6 needs HUGEINT == Spark decimal(38,0) — the
    spearman construct) with one integer division per term.  The
    degenerate all-left/all-right thresholds are excluded; is_best
    flags the argmax row(s).

    Scale: one scan to the price-bucket histogram (domain-bounded:
    cents range / 65536 ≈ tens of rows); every window runs over that
    histogram.  This is the per-feature histogram pass a distributed
    GBDT (LightGBM-style) runs to pick splits."""
    li = t(spark, sf, "lineitem").select(
        F.expr(
            f"CAST(round(l_extendedprice * 100) AS BIGINT)"
            f" div {_STUMP_BW}"
        ).alias("b"),
        (F.col("l_returnflag") == "R").cast("long").alias("y"),
    )
    h = li.groupBy("b").agg(
        F.sum("y").cast("long").alias("pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("neg"),
    )
    wprev = W.orderBy("b").rowsBetween(W.unboundedPreceding, -1)
    c = h.select(
        "b",
        F.sum("pos").over(wprev).alias("pl"),
        F.sum("neg").over(wprev).alias("nl"),
        F.sum("pos").over(W.partitionBy()).alias("p"),
        F.sum("neg").over(W.partitionBy()).alias("n"),
    )
    gain = (
        F.expr(
            "CAST(2 * CAST(p AS DECIMAL(38,0)) * n * 1000000"
            " div (p + n) AS BIGINT)"
        )
        - F.expr(
            "CAST(2 * CAST(pl AS DECIMAL(38,0)) * nl * 1000000"
            " div (pl + nl) AS BIGINT)"
        )
        - F.expr(
            "CAST(2 * CAST(p - pl AS DECIMAL(38,0)) * (n - nl) * 1000000"
            " div (p + n - pl - nl) AS BIGINT)"
        )
    )
    g = (
        c.filter(
            (F.col("pl") + F.col("nl") > 0)
            & (F.col("pl") + F.col("nl") < F.col("p") + F.col("n"))
        )
        .select(
            F.col("b").alias("split_bucket"),
            F.col("pl").cast("long").alias("pos_left"),
            F.col("nl").cast("long").alias("neg_left"),
            gain.alias("gain_e6"),
        )
    )
    return g.select(
        "split_bucket",
        "pos_left",
        "neg_left",
        "gain_e6",
        (F.col("gain_e6") == F.max("gain_e6").over(W.partitionBy()))
        .cast("long")
        .alias("is_best"),
    )
