"""Round-5 analytics battery #2: market-basket mining, sweep-line
interval concurrency, triangle counting, CUPED experiment readout,
and integer-exact multi-touch attribution.

These extend the reference's single-job surface
(/root/reference/master.py:99-167) with the product/growth analytics a
lake engine is kept around for, following the same portability
discipline as plans/analytics.py: µs-pinned event timestamps
(EVENTS_US), BIGINT cents instead of double sums, integer division
(`div` / `//`) for every ratio that lands in the output, and — where a
double is unavoidable (CUPED's theta) — ONE identical IEEE op chain on
identical integers in both engines (the lineitem_corr_matrix pattern,
proven portable through the 100x-replica sweep, SCALE.md §9d).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.text import tokens
from .core import EVENTS_US, query, t
from .llm3 import _md5_u32, _md5_u32_sql

_PAIR_MIN_SUPPORT = 2
_RARE_PART_MAX_CUSTS = 15
_ATTRIB_WINDOW_US = 86_400_000_000  # 24 h
_DUR_MOD_S = 3540  # interval length = cents % 3540 + 60 -> [60, 3599] s


@query(
    "frequent_itempairs",
    oracle=f"""
    WITH cp AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    uni AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM cp),
    pc AS (SELECT p, CAST(count(*) AS BIGINT) AS cnt FROM cp GROUP BY p),
    pr AS (
      SELECT a.p AS p1, b.p AS p2, CAST(count(*) AS BIGINT) AS support
      FROM cp a JOIN cp b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING count(*) >= {_PAIR_MIN_SUPPORT})
    SELECT pr.p1, pr.p2, pr.support,
           (pr.support * uni.n_orders * 1000000) // (c1.cnt * c2.cnt)
             AS lift_e6,
           (pr.support * 1000000) // c1.cnt AS conf_p1_e6
    FROM pr
    CROSS JOIN uni
    JOIN pc c1 ON pr.p1 = c1.p
    JOIN pc c2 ON pr.p2 = c2.p
    """,
)
def frequent_itempairs(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket 2-itemset mining (a-priori support counting) with
    lift and confidence: part pairs co-purchased in the same order,
    support >= 2, lift = support·n_orders / (cnt1·cnt2) in exact 1e-6
    integer ticks (BIGINT multiply then integer division — never a
    double, so merge order is unobservable).  Scale: the basket
    self-join shuffles on orderkey, and pairs-per-order is bounded by
    the basket size k (<= ~7 lineitems -> <= 21 pairs), so candidate
    volume is O(rows·k), not all-pairs; per-part counts are a
    dim-bounded aggregate broadcast back onto the pairs.  The basket
    table is persisted once instead of re-scanned per branch
    (support / part-counts / universe)."""
    cp = (
        t(spark, sf, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
        .persist()
    )
    n_orders = cp.agg(
        F.count_distinct("o").cast("long").alias("n_orders")
    )
    pc = cp.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    a, b = cp.alias("a"), cp.alias("b")
    pairs = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("p1"), F.col("b.p").alias("p2"))
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= _PAIR_MIN_SUPPORT)
    )
    return (
        pairs.crossJoin(F.broadcast(n_orders))
        .join(F.broadcast(pc.withColumnRenamed("cnt", "c1")), F.col("p1") == F.col("p"))
        .drop("p")
        .join(F.broadcast(pc.withColumnRenamed("cnt", "c2")), F.col("p2") == F.col("p"))
        .drop("p")
        .select(
            "p1",
            "p2",
            "support",
            F.expr("(support * n_orders * 1000000) div (c1 * c2)").alias("lift_e6"),
            F.expr("(support * 1000000) div c1").alias("conf_p1_e6"),
        )
    )


@query(
    "interval_max_concurrency",
    oracle=f"""
    WITH iv AS (
      SELECT event_type, event_id, epoch_us(ts) AS s,
             epoch_us(ts)
               + ((CAST(round(value * 100) AS BIGINT) % {_DUR_MOD_S}) + 60)
                 * 1000000 AS e
      FROM {EVENTS_US} events),
    pts AS (
      SELECT event_type, event_id, s AS tpt, 1 AS d FROM iv
      UNION ALL
      SELECT event_type, event_id, e AS tpt, -1 AS d FROM iv),
    run AS (
      SELECT event_type, tpt,
             CAST(sum(d) OVER (PARTITION BY event_type
                               ORDER BY tpt, d, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM pts),
    sel AS (
      SELECT event_type, tpt, cum,
             max(cum) OVER (PARTITION BY event_type) AS mx
      FROM run)
    SELECT event_type, mx AS max_concurrent, min(tpt) AS at_us
    FROM sel WHERE cum = mx GROUP BY 1, 2
    """,
)
def interval_max_concurrency(spark: SparkSession, sf: str) -> DataFrame:
    """Sweep-line maximum interval concurrency per event type: each
    event opens a half-open interval [ts, ts + dur) (dur derived
    deterministically from the value column), and the query reports the
    peak number of simultaneously-open intervals and the FIRST instant
    the peak is reached — the classic "max concurrent sessions" /
    room-scheduling primitive.  End points sort before starts at the
    same instant (d = -1 < +1), making intervals half-open; the running
    sum is totally ordered by (t, d, event_id) so the peak AND its
    first instant are deterministic on both engines.  Scale: ONE corpus
    scan (both boundary points are exploded from each row, never a
    second scan), then one per-type ordered window — for a type too hot
    for a single partition the two-pass distributed prefix sum
    (operators/prefix_sum.py, SURVEY §2.1 S4) is the drop-in upgrade."""
    ev = t(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    s = F.unix_micros("ts")
    e = s + ((cents % _DUR_MOD_S) + 60) * F.lit(1_000_000)
    pts = ev.select(
        "event_type",
        "event_id",
        F.explode(
            F.array(
                F.struct(s.alias("tpt"), F.lit(1).alias("d")),
                F.struct(e.alias("tpt"), F.lit(-1).alias("d")),
            )
        ).alias("pt"),
    ).select("event_type", "event_id", "pt.tpt", "pt.d")
    wrun = (
        W.partitionBy("event_type")
        .orderBy("tpt", "d", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    run = pts.select(
        "event_type",
        "tpt",
        F.sum("d").over(wrun).cast("long").alias("cum"),
    )
    sel = run.withColumn("mx", F.max("cum").over(W.partitionBy("event_type")))
    return (
        sel.filter(F.col("cum") == F.col("mx"))
        .groupBy("event_type", F.col("mx").alias("max_concurrent"))
        .agg(F.min("tpt").alias("at_us"))
    )


@query(
    "triangle_count_copurchase",
    oracle=f"""
    WITH cp AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    deg AS (SELECT p, count(*) AS nc FROM cp GROUP BY p),
    e AS MATERIALIZED (
      SELECT DISTINCT a.c AS u, b.c AS v
      FROM cp a
      JOIN cp b ON a.p = b.p AND a.c < b.c
      WHERE a.p IN (SELECT p FROM deg WHERE nc <= {_RARE_PART_MAX_CUSTS})),
    tri AS MATERIALIZED (
      SELECT e1.u AS ta, e1.v AS tb, e2.v AS tc
      FROM e e1
      JOIN e e2 ON e1.v = e2.u
      JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v)
    SELECT cust, CAST(count(*) AS BIGINT) AS n_triangles
    FROM (SELECT ta AS cust FROM tri
          UNION ALL SELECT tb FROM tri
          UNION ALL SELECT tc FROM tri)
    GROUP BY cust
    """,
)
def triangle_count_copurchase(spark: SparkSession, sf: str) -> DataFrame:
    """Per-customer triangle participation in the co-purchase graph:
    customers are linked when they bought the same RARE part (parts
    with <= 15 distinct buyers — the blocking step that bounds the
    bipartite projection to <= C(15,2) pairs per part instead of
    quadratic blow-up on popular parts), and triangles are counted via
    the canonical a<b<c edge orientation: every triangle is produced
    exactly once as (a,b)+(b,c)+(a,c) wedges, the standard distributed
    triangle-count join (Suri & Vassilvitskii's MapReduce formulation).
    Scale: the projection shuffles on partkey with per-part fan-out
    capped by construction; the edge list (orders of magnitude smaller
    than the input) is persisted and the wedge joins shuffle only it.
    The per-node counts come from ONE triangle computation exploded
    3 ways, not three recomputes."""
    cp = (
        t(spark, sf, "orders")
        .join(
            t(spark, sf, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .withColumn("nc", F.count(F.lit(1)).over(W.partitionBy("p")))
        .filter(F.col("nc") <= _RARE_PART_MAX_CUSTS)
        .drop("nc")
        .persist()
    )
    a, b = cp.alias("a"), cp.alias("b")
    edges = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.c") < F.col("b.c")))
        .select(F.col("a.c").alias("u"), F.col("b.c").alias("v"))
        .distinct()
        .persist()
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e1.u") == F.col("e3.u")) & (F.col("e2.v") == F.col("e3.v")),
        )
        .select(
            F.col("e1.u").alias("ta"),
            F.col("e1.v").alias("tb"),
            F.col("e2.v").alias("tc"),
        )
    )
    return (
        tri.select(F.explode(F.array("ta", "tb", "tc")).alias("cust"))
        .groupBy("cust")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )


# CUPED's theta and the adjusted means are the one place a double is
# unavoidable; both engines evaluate THIS exact textual chain on
# identical BIGINT sufficient statistics, so the doubles (and their
# floor) are bit-identical — the lineitem_corr_matrix discipline.
_THETA_NUM = (
    "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)"
    " / CAST(n AS DOUBLE))"
)
_THETA_DEN = (
    "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
    " / CAST(n AS DOUBLE))"
)
_THETA = (
    f"CASE WHEN {_THETA_DEN} = 0 THEN 0.0 ELSE {_THETA_NUM} / {_THETA_DEN} END"
)
_MEAN_Y = "CAST(sya AS DOUBLE) / CAST(n_users AS DOUBLE)"
_MEAN_ADJ = (
    f"({_MEAN_Y} - theta * (CAST(sxa AS DOUBLE) / CAST(n_users AS DOUBLE)"
    " - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))"
)


@query(
    "ab_test_cuped",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS us,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM {EVENTS_US} events),
    b AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
    pu AS (
      SELECT user_id,
             CAST(sum(CASE WHEN us <  b.mid THEN cents ELSE 0 END) AS BIGINT)
               AS x,
             CAST(sum(CASE WHEN us >= b.mid THEN cents ELSE 0 END) AS BIGINT)
               AS y
      FROM ev CROSS JOIN b GROUP BY user_id),
    st AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM pu),
    th AS (SELECT n, sx, {_THETA} AS theta FROM st),
    ar AS (
      SELECT user_id % 2 AS arm, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(x) AS BIGINT) AS sxa, CAST(sum(y) AS BIGINT) AS sya
      FROM pu GROUP BY 1)
    SELECT ar.arm, ar.n_users,
           CAST(floor(({_MEAN_Y}) * 1e4) AS BIGINT) AS mean_y_e4,
           CAST(floor({_MEAN_ADJ} * 1e4) AS BIGINT) AS mean_y_adj_e4
    FROM ar CROSS JOIN th
    """,
)
def ab_test_cuped(spark: SparkSession, sf: str) -> DataFrame:
    """A/B experiment readout with CUPED variance reduction (Deng et
    al. 2013, public): users hash into two arms (user_id % 2 — a
    deterministic, engine-portable assignment), the pre-period covariate
    X and post-period metric Y are exact BIGINT cents sums split at the
    data's midpoint instant, and theta = cov(X,Y)/var(X) comes from
    integer sufficient statistics (n, Σx, Σy, Σx², Σxy) so
    partial-aggregate merge order is unobservable.  The adjusted mean
    Ȳ_a - θ(X̄_a - X̄) is one identical IEEE chain on both engines.
    Scale: one corpus scan builds per-user (x, y); everything after is
    per-user-cardinality, and the sufficient-stats row + theta are
    scalar broadcasts.  Int64 headroom: Σx² grows with users·(per-user
    cents)² ≈ 4e16 at the 100x replica — 200x under the int64 edge;
    widen to DECIMAL(38) sums there."""
    ev = t(spark, sf, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    mid = ev.agg(F.expr("(min(us) + max(us)) div 2").alias("mid"))
    pu = (
        ev.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("us") < F.col("mid"), F.col("cents")).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.col("us") >= F.col("mid"), F.col("cents")).otherwise(0))
            .cast("long")
            .alias("y"),
        )
        .persist()
    )
    st = pu.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    th = st.select("n", "sx", F.expr(_THETA).alias("theta"))
    ar = pu.groupBy(F.expr("user_id % 2").alias("arm")).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("x").cast("long").alias("sxa"),
        F.sum("y").cast("long").alias("sya"),
    )
    return ar.crossJoin(F.broadcast(th)).select(
        "arm",
        "n_users",
        F.expr(f"CAST(floor(({_MEAN_Y}) * 1e4) AS BIGINT)").alias("mean_y_e4"),
        F.expr(f"CAST(floor({_MEAN_ADJ} * 1e4) AS BIGINT)").alias(
            "mean_y_adj_e4"
        ),
    )


@query(
    "attribution_linear_touch",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS pid, user_id, epoch_us(ts) AS pts,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM {EVENTS_US} events WHERE event_type = 'purchase'),
    c AS (
      SELECT event_id AS cid, user_id, epoch_us(ts) AS cts
      FROM {EVENTS_US} events WHERE event_type = 'click'),
    pc AS (
      SELECT p.pid, p.cents, c.cid, c.cts
      FROM p LEFT JOIN c
        ON p.user_id = c.user_id
       AND c.cts < p.pts AND c.cts >= p.pts - {_ATTRIB_WINDOW_US}),
    sh AS (
      SELECT pid, cents, cid, cts,
             count(cid) OVER (PARTITION BY pid) AS k,
             row_number() OVER (PARTITION BY pid
                                ORDER BY cts DESC, cid DESC) AS rn
      FROM pc),
    attr AS (
      SELECT CASE WHEN cid IS NULL THEN NULL
                  ELSE (cts // 3600000000) * 3600000000 END AS hour_us,
             CASE WHEN cid IS NULL THEN cents
                  ELSE cents // k
                       + CASE WHEN rn = 1 THEN cents - k * (cents // k)
                              ELSE 0 END
             END AS share
      FROM sh)
    SELECT hour_us, CAST(sum(share) AS BIGINT) AS attributed_cents,
           CAST(count(*) AS BIGINT) AS n_touches
    FROM attr GROUP BY hour_us
    """,
)
def attribution_linear_touch(spark: SparkSession, sf: str) -> DataFrame:
    """Linear multi-touch revenue attribution: each purchase's value is
    split EQUALLY across the user's clicks in the preceding 24 h, in
    EXACT integer cents — every touch gets cents div k and the most
    recent click absorbs the remainder, so attributed revenue sums to
    purchase revenue to the cent (conservation is a unit test, not a
    hope; a double split would leak sub-cent dust).  Purchases with no
    qualifying click land in the NULL-hour bucket, so the output is a
    complete partition of revenue by click hour.  Scale: one
    user-keyed shuffle join (per-user touch counts are bounded by the
    24 h window); the per-purchase window partitions on purchase id —
    group size = that purchase's touches, never data-sized.  For
    skewed mega-users the bucketed (user, day) scheme of
    range_join_event_pairs is the drop-in."""
    ev = t(spark, sf, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.unix_micros("ts").alias("pts"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"),
        F.col("user_id").alias("cuser"),
        F.unix_micros("ts").alias("cts"),
    )
    pc = p.join(
        c,
        (F.col("user_id") == F.col("cuser"))
        & (F.col("cts") < F.col("pts"))
        & (F.col("cts") >= F.col("pts") - _ATTRIB_WINDOW_US),
        "left",
    )
    wp = W.partitionBy("pid")
    sh = pc.select(
        "pid",
        "cents",
        "cid",
        "cts",
        F.count("cid").over(wp).alias("k"),
        F.row_number()
        .over(wp.orderBy(F.col("cts").desc(), F.col("cid").desc()))
        .alias("rn"),
    )
    attr = sh.select(
        F.when(
            F.col("cid").isNull(), F.lit(None).cast("long")
        ).otherwise(F.expr("(cts div 3600000000) * 3600000000")).alias("hour_us"),
        F.when(F.col("cid").isNull(), F.col("cents"))
        .otherwise(
            F.expr(
                "cents div k + CASE WHEN rn = 1"
                " THEN cents - k * (cents div k) ELSE 0 END"
            )
        )
        .alias("share"),
    )
    return attr.groupBy("hour_us").agg(
        F.sum("share").cast("long").alias("attributed_cents"),
        F.count(F.lit(1)).cast("long").alias("n_touches"),
    )


_CMS_W = 16  # buckets per row — small ON PURPOSE so the 31-word synthetic
_CMS_D = 4  # vocab actually collides and the overestimate bound is exercised
_CMS_TOPK = 20

_TOK_SQL = (
    "SELECT unnest(str_split(text, ' ')) AS word FROM documents"
)


def _cms_oracle() -> str:
    branches = " UNION ALL ".join(
        f"SELECT word, n, {d} AS d, "
        f"{_md5_u32_sql(f'cms{d}', 'word')} % {_CMS_W} AS bucket FROM wc"
        for d in range(_CMS_D)
    )
    return f"""
    WITH tok AS ({_TOK_SQL}),
    wc AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS n
           FROM tok WHERE word <> '' GROUP BY word),
    bk AS ({branches}),
    sk AS (SELECT d, bucket, CAST(sum(n) AS BIGINT) AS cnt
           FROM bk GROUP BY 1, 2),
    top AS (SELECT word, n FROM wc ORDER BY n DESC, word LIMIT {_CMS_TOPK})
    SELECT t.word, t.n AS exact_n, CAST(min(sk.cnt) AS BIGINT) AS cms_n
    FROM top t
    JOIN bk ON bk.word = t.word
    JOIN sk ON sk.d = bk.d AND sk.bucket = bk.bucket
    GROUP BY 1, 2
    """


@query("count_min_heavy_estimates", oracle=_cms_oracle())
def count_min_heavy_estimates(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min sketch point estimates for the top-20 words, with the
    EXACT counts alongside — a hash-grade-checkable approximate sketch:
    unlike HLL (engine-private hashing, rows-only by design,
    ORACLE_PORTABILITY.md), this CMS uses the repo's portable
    md5-derived hash family, so the D×W counter table and every
    estimate are bit-reproduced by the DuckDB twin.  W=16 is chosen so
    the synthetic 31-word vocab actually collides: the estimates
    OVERESTIMATE (cms_n >= exact_n always — the CMS guarantee, pinned
    by a unit test) and the oracle certifies the exact error.  Scale:
    ONE corpus scan reduces to word cardinality; the sketch is built
    from the (word, n) aggregate — map-side combinable — and is D·W
    counters total, the O(1)-memory structure you'd register as a UDAF
    over a 100 TB stream; top-k selection is vocab-sized."""
    docs = t(spark, sf, "documents")
    wc = (
        docs.select(
            F.explode(tokens("text")).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .persist()
    )
    bk = wc.select(
        "word",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        (_md5_u32(f"cms{d}", F.col("word")) % _CMS_W).alias(
                            "bucket"
                        ),
                    )
                    for d in range(_CMS_D)
                ]
            )
        ).alias("db"),
    ).select("word", "n", "db.d", "db.bucket")
    sk = bk.groupBy("d", "bucket").agg(F.sum("n").cast("long").alias("cnt"))
    top = wc.orderBy(F.col("n").desc(), "word").limit(_CMS_TOPK)
    return (
        top.withColumnRenamed("n", "exact_n")
        .join(bk.select("word", "d", "bucket"), "word")
        .join(sk, ["d", "bucket"])
        .groupBy("word", "exact_n")
        .agg(F.min("cnt").cast("long").alias("cms_n"))
    )




_RFM_DAY_US = 86_400_000_000


@query(
    "rfm_user_segments",
    oracle=f"""
    WITH p AS (
      SELECT user_id, epoch_us(ts) AS us,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM {EVENTS_US} events WHERE event_type = 'purchase'),
    mx AS (SELECT max(us) AS gmax FROM p),
    pu AS (
      SELECT user_id,
             (gmax - max(us)) // {_RFM_DAY_US} AS rec_days,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(cents) AS BIGINT) AS mon
      FROM p CROSS JOIN mx GROUP BY user_id, gmax),
    sc AS (
      SELECT user_id, rec_days, freq, mon,
             1 + ((row_number() OVER (ORDER BY rec_days, user_id) - 1) * 3)
                 // (count(*) OVER ()) AS r_score,
             1 + ((row_number() OVER (ORDER BY freq, user_id) - 1) * 3)
                 // (count(*) OVER ()) AS f_score,
             1 + ((row_number() OVER (ORDER BY mon, user_id) - 1) * 3)
                 // (count(*) OVER ()) AS m_score
      FROM pu)
    SELECT user_id, rec_days, freq, mon, r_score, f_score, m_score,
           r_score * 100 + f_score * 10 + m_score AS segment
    FROM sc
    """,
)
def rfm_user_segments(spark: SparkSession, sf: str) -> DataFrame:
    """RFM (recency/frequency/monetary) customer segmentation: per-user
    purchase recency in whole days behind the latest purchase, purchase
    count, and exact cents spend, each scored into equal-frequency
    thirds by rank arithmetic — 1 + ((rn-1)*3) div n — instead of
    ntile(), whose tie placement is engine-defined; ties break on
    user_id so every score is deterministic, and segment = 100r+10f+m
    composes them (scores order ASCENDING in the metric: r_score 1 =
    most recent, f/m_score 3 = heaviest).  Scale (r06: the documented
    swap is now APPLIED): one corpus scan reduces to user cardinality,
    then each score is an ``equal_freq_bucket`` assignment
    (operators/quantiles.py) — per-metric range bins, boundary-bin
    windows only, broadcast boundary tuples, NO global rank window.
    Bin widths: 1 day / 1 purchase (both value-bounded ranges), 4096
    cents for spend."""
    p = (
        t(spark, sf, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.unix_micros("ts").alias("us"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    mx = p.agg(F.max("us").alias("gmax"))
    pu = (
        p.crossJoin(F.broadcast(mx))
        .groupBy("user_id", "gmax")
        .agg(
            F.max("us").alias("umax"),
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("cents").cast("long").alias("mon"),
        )
        .select(
            "user_id",
            F.expr(f"(gmax - umax) div {_RFM_DAY_US}").alias("rec_days"),
            "freq",
            "mon",
        )
    )
    from ..operators.quantiles import equal_freq_bucket

    # cache the user-cardinality reduction: the three bucket
    # assignments each walk it twice (bin counts + boundary rows);
    # without the cache that re-runs the CORPUS scan five times
    # (caught by the FileScan budget lint).  At 100 TB the per-user
    # table is the thing you persist; the raw events are scanned once.
    sc = pu.persist()
    for nm, metric, width in (
        ("r_score", "rec_days", 1),
        ("f_score", "freq", 1),
        ("m_score", "mon", 4096),
    ):
        sc = equal_freq_bucket(
            sc, metric, "user_id", nm, 3, bucket_width=width
        )
    return sc.select(
        "user_id",
        "rec_days",
        "freq",
        "mon",
        "r_score",
        "f_score",
        "m_score",
        F.expr("r_score * 100 + f_score * 10 + m_score").alias("segment"),
    )


_COVERAGE_KS = (5, 10, 20)


@query(
    "vocab_coverage_curve",
    oracle=f"""
    WITH tok AS ({_TOK_SQL}),
    wc AS (SELECT word, CAST(count(*) AS BIGINT) AS n
           FROM tok WHERE word <> '' GROUP BY word),
    r AS (
      SELECT word, n,
             row_number() OVER (ORDER BY n DESC, word) AS rn,
             CAST(sum(n) OVER (ORDER BY n DESC, word
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(sum(n) OVER () AS BIGINT) AS tot
      FROM wc)
    SELECT rn AS k, cum AS topk_tokens, tot AS total_tokens,
           (cum * 1000000) // tot AS coverage_e6
    FROM r WHERE rn IN {_COVERAGE_KS}
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary coverage curve — the fraction of corpus tokens
    covered by the top-k most frequent words, for k in {5, 10, 20}:
    the first statistic a tokenizer/vocab-size decision reads (BPE's
    merge budget, OOV-rate planning).  Coverage ships in exact 1e-6
    integer ticks via BIGINT cumulative sums — no doubles anywhere.
    Scale: the corpus scan reduces to vocab cardinality; the ranked
    cumulative sum runs over the vocab table only (vocab is millions
    at web scale — one partition-bounded sort, or the two-phase
    distributed prefix sum if it isn't)."""
    docs = t(spark, sf, "documents")
    wc = (
        docs.select(
            F.explode(tokens("text")).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    wr = W.partitionBy().orderBy(F.col("n").desc(), "word")
    r = wc.select(
        F.row_number().over(wr).alias("k"),
        F.sum("n")
        .over(wr.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("long")
        .alias("topk_tokens"),
        F.sum("n").over(W.partitionBy()).cast("long").alias("total_tokens"),
    )
    return r.filter(F.col("k").isin(*_COVERAGE_KS)).select(
        "k",
        "topk_tokens",
        "total_tokens",
        F.expr("(topk_tokens * 1000000) div total_tokens").alias(
            "coverage_e6"
        ),
    )


_SEG_BUCKET_US = 3_600_000_000  # 1 h sweep buckets


@query(
    "interval_max_concurrency_segmented",
    oracle=f"""
    WITH iv AS (
      SELECT event_type, event_id, epoch_us(ts) AS s,
             epoch_us(ts)
               + ((CAST(round(value * 100) AS BIGINT) % {_DUR_MOD_S}) + 60)
                 * 1000000 AS e
      FROM {EVENTS_US} events),
    pts AS (
      SELECT event_type, event_id, s AS tpt, 1 AS d FROM iv
      UNION ALL
      SELECT event_type, event_id, e AS tpt, -1 AS d FROM iv),
    run AS (
      SELECT event_type, tpt,
             CAST(sum(d) OVER (PARTITION BY event_type
                               ORDER BY tpt, d, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM pts),
    sel AS (
      SELECT event_type, tpt, cum,
             max(cum) OVER (PARTITION BY event_type) AS mx
      FROM run)
    SELECT event_type, mx AS max_concurrent, min(tpt) AS at_us
    FROM sel WHERE cum = mx GROUP BY 1, 2
    """,
)
def interval_max_concurrency_segmented(spark: SparkSession, sf: str) -> DataFrame:
    """The 100 TB shape of interval_max_concurrency — SAME semantics
    and output (the oracle is byte-identical, and a unit test pins
    equality against the plain variant), but no per-type global
    window: the sweep is a grouped two-level prefix sum (the
    operators/prefix_sum.py construction generalized to
    (group, time-bucket) keys, the doc_inverted_index_segmented
    precedent).  Boundary points land in 1-hour buckets; per-bucket
    deltas aggregate map-side; a window over the TINY (type × hour)
    bucket table produces each bucket's exclusive base; the base
    broadcasts back and the ordered within-bucket window runs
    partition-parallel across buckets — state is bounded by bucket
    width, never by history.  The peak is then a plain aggregate +
    broadcast join back (no full-partition max window); the point
    stream is traversed twice (budgeted), the price of keeping every
    window partition bounded."""
    ev = t(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    s = F.unix_micros("ts")
    e = s + ((cents % _DUR_MOD_S) + 60) * F.lit(1_000_000)
    pts = ev.select(
        "event_type",
        "event_id",
        F.explode(
            F.array(
                F.struct(s.alias("tpt"), F.lit(1).alias("d")),
                F.struct(e.alias("tpt"), F.lit(-1).alias("d")),
            )
        ).alias("pt"),
    ).select(
        "event_type",
        "event_id",
        "pt.tpt",
        "pt.d",
        F.expr(f"pt.tpt div {_SEG_BUCKET_US}").alias("bk"),
    )
    btot = pts.groupBy("event_type", "bk").agg(F.sum("d").alias("bn"))
    wb = (
        W.partitionBy("event_type")
        .orderBy("bk")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    bbase = btot.select(
        "event_type",
        "bk",
        F.coalesce(F.sum("bn").over(wb), F.lit(0)).alias("base"),
    )
    wl = (
        W.partitionBy("event_type", "bk")
        .orderBy("tpt", "d", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    run = pts.join(F.broadcast(bbase), ["event_type", "bk"]).select(
        "event_type",
        "tpt",
        (F.col("base") + F.sum("d").over(wl)).cast("long").alias("cum"),
    )
    mx = run.groupBy("event_type").agg(F.max("cum").alias("max_concurrent"))
    return (
        run.join(F.broadcast(mx), "event_type")
        .filter(F.col("cum") == F.col("max_concurrent"))
        .groupBy("event_type", "max_concurrent")
        .agg(F.min("tpt").alias("at_us"))
    )


_LPA_ITERS = 3

def copurchase_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Symmetric (u, v) edge list of the rare-part co-purchase graph —
    the blocked projection shared by triangle counting, label
    propagation, and connected components (analytics3.py): customers
    are linked when they bought the same RARE part (<= 15 buyers), so
    candidate pairs are degree-bounded per part, never all-pairs.
    Persisted: every iterative consumer walks it once per round."""
    cp = (
        t(spark, sf, "orders")
        .join(
            t(spark, sf, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .withColumn("nc", F.count(F.lit(1)).over(W.partitionBy("p")))
        .filter(F.col("nc") <= _RARE_PART_MAX_CUSTS)
        .drop("nc")
    )
    a, b = cp.alias("a"), cp.alias("b")
    e0 = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.c") < F.col("b.c")))
        .select(F.col("a.c").alias("u"), F.col("b.c").alias("v"))
        .distinct()
    )
    return e0.union(
        e0.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).persist()


_LPA_EDGES_SQL = f"""
    cp AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    deg AS (SELECT p, count(*) AS nc FROM cp GROUP BY p),
    e0 AS MATERIALIZED (
      SELECT DISTINCT a.c AS u, b.c AS v
      FROM cp a
      JOIN cp b ON a.p = b.p AND a.c < b.c
      WHERE a.p IN (SELECT p FROM deg WHERE nc <= {_RARE_PART_MAX_CUSTS})),
    ed AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0)
"""


def _lpa_step_sql(i: int) -> str:
    return f"""
    v{i} AS (
      SELECT ed.u AS node, n{i - 1}.lbl,
             count(*) AS cnt
      FROM ed JOIN n{i - 1} ON ed.v = n{i - 1}.node
      GROUP BY 1, 2),
    n{i} AS MATERIALIZED (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, lbl) AS rn
        FROM v{i}) WHERE rn = 1)
    """


def _lpa_oracle() -> str:
    steps = ",".join(_lpa_step_sql(i) for i in range(1, _LPA_ITERS + 1))
    return f"""
    WITH {_LPA_EDGES_SQL},
    n0 AS MATERIALIZED (SELECT u AS node, u AS lbl FROM ed GROUP BY u),
    {steps}
    SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(node) AS BIGINT) AS min_member
    FROM n{_LPA_ITERS} GROUP BY 1
    """


@query(
    "label_propagation_communities",
    oracle=_lpa_oracle(),
)
def label_propagation_communities(spark: SparkSession, sf: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) on the rare-part co-purchase graph (same blocked
    projection as triangle_count_copurchase): labels start as node
    ids and, for 3 fixed synchronous rounds, every node adopts its
    neighbors' MOST FREQUENT label with ties broken by the smallest
    label — fully deterministic, unlike the asynchronous/random-order
    formulations.  Output is the community census (label, size,
    smallest member).  The fixed iteration count keeps the oracle
    SQL-expressible as chained CTEs (the pagerank_event_types
    discipline).  Scale: the one corpus-sized job builds the edge
    list; each round is a self-join of the (node, label) table with
    the edge list — both orders of magnitude smaller than the input —
    and the mode-selection window partitions per node, bounded by
    node degree."""
    ed = copurchase_edges(spark, sf)
    labels = (
        ed.select("u")
        .distinct()
        .select(F.col("u").alias("node"), F.col("u").alias("lbl"))
    )
    for _ in range(_LPA_ITERS):
        votes = (
            ed.join(labels, ed["v"] == labels["node"])
            .groupBy(ed["u"].alias("nnode"), "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        wv = W.partitionBy("nnode").orderBy(F.desc("cnt"), "lbl")
        labels = (
            votes.withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
            .select(F.col("nnode").alias("node"), "lbl")
        )
    return labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.min("node").cast("long").alias("min_member"),
    )


@query(
    "weighted_median_price",
    oracle="""
    WITH li AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
             CAST(l_quantity AS BIGINT) AS w,
             l_orderkey, l_linenumber
      FROM lineitem),
    tot AS (
      SELECT flag, CAST(sum(w) AS BIGINT) AS tw FROM li GROUP BY 1),
    c AS (
      SELECT li.flag, li.price_c, tot.tw,
             sum(li.w) OVER (PARTITION BY li.flag
                             ORDER BY li.price_c, li.l_orderkey,
                                      li.l_linenumber
                             ROWS UNBOUNDED PRECEDING) AS cw
      FROM li JOIN tot ON li.flag = tot.flag)
    SELECT flag, tw AS total_weight,
           CAST(min(price_c) AS BIGINT) AS wmedian_c
    FROM c WHERE cw * 2 >= tw GROUP BY 1, 2
    """,
)
def weighted_median_price(spark: SparkSession, sf: str) -> DataFrame:
    """WEIGHTED median of lineitem price with quantity weights, per
    return flag — the order statistic neither engine has built in
    (percentile() / quantile_cont ignore weights): the smallest price
    whose cumulative weight reaches half the total (lower weighted
    median, 2·cw >= tw in integers — no halving, no doubles).
    Quantities are integer-valued by construction, so cumulative
    weights are exact BIGINTs, and the cumsum order is totalized by
    (price, orderkey, linenumber).

    Scale (the VERDICT r05 #2 swap, applied): the per-flag cumsum no
    longer runs a full-table window inside 3 partitions.  Two-phase
    bucketed cumsum, the _budget_prefix / keyed_prefix_sum discipline:
    price-range buckets per flag give a tiny (flag, bucket) totals
    table (cardinality bounded by the PRICE range / width, independent
    of row count); a window over that table yields each bucket's
    exclusive weight base; the single boundary bucket per flag — the
    one whose inclusive span crosses tw/2 — is identified in the tiny
    table, and the ordered per-row window runs ONLY over that bucket's
    rows (partition-parallel across flags, bounded by bucket width).
    All earlier buckets can't hold the lower weighted median (their
    cw <= base < tw/2) and contribute nothing but their base sum."""
    bw = 4096  # cents; (flag, bucket) table ~ price range / bw rows
    li = t(spark, sf, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_c"),
        F.col("l_quantity").cast("long").alias("w"),
        "l_orderkey",
        "l_linenumber",
    ).withColumn("bkt", F.floor(F.col("price_c") / bw).cast("long"))
    btot = li.groupBy("flag", "bkt").agg(
        F.sum("w").cast("long").alias("btok")
    )
    wb = W.partitionBy("flag").orderBy("bkt").rowsBetween(
        W.unboundedPreceding, -1
    )
    bbase = btot.select(
        "flag",
        "bkt",
        F.coalesce(F.sum("btok").over(wb), F.lit(0))
        .cast("long")
        .alias("base"),
        "btok",
        F.sum("btok")
        .over(W.partitionBy("flag"))
        .cast("long")
        .alias("tw"),
    )
    # exactly one boundary bucket per flag: inclusive span crosses tw/2
    boundary = bbase.filter(
        (F.col("base") * 2 < F.col("tw"))
        & ((F.col("base") + F.col("btok")) * 2 >= F.col("tw"))
    )
    # partitioned by (flag, bkt) — the window's true bound is the
    # bucket width; exactly one bucket per flag survives the join, so
    # this equals the per-flag cumsum on the boundary rows
    wc = (
        W.partitionBy("flag", "bkt")
        .orderBy("price_c", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = li.join(F.broadcast(boundary), ["flag", "bkt"]).select(
        "flag",
        "price_c",
        "tw",
        (F.col("base") + F.sum("w").over(wc)).alias("cw"),
    )
    return (
        c.filter(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("flag", F.col("tw").alias("total_weight"))
        .agg(F.min("price_c").cast("long").alias("wmedian_c"))
    )


_CONTRIB_TOPK = 3


@query(
    "revenue_contribution_topk",
    oracle=f"""
    WITH g AS (
      SELECT c_mktsegment AS segment,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1),
    tot AS (SELECT CAST(sum(rev_c) AS BIGINT) AS t FROM g),
    r AS (
      SELECT segment, rev_c, n_orders,
             row_number() OVER (ORDER BY rev_c DESC, segment) AS rn
      FROM g),
    folded AS (
      SELECT CASE WHEN rn <= {_CONTRIB_TOPK} THEN segment
                  ELSE 'OTHER' END AS segment,
             CAST(sum(rev_c) AS BIGINT) AS rev_c,
             CAST(sum(n_orders) AS BIGINT) AS n_orders
      FROM r GROUP BY 1)
    SELECT f.segment, f.rev_c, f.n_orders,
           (f.rev_c * 10000) // tot.t AS share_e4
    FROM folded f CROSS JOIN tot
    """,
)
def revenue_contribution_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Contribution report: revenue by customer market segment, top-3
    segments kept (3 < the 5 segments in the data, so the OTHER fold
    is actually exercised), the tail folded into an 'OTHER' row, each with its
    exact share of total in 1e-4 integer ticks (e4, not e6: the OTHER
    row's cents sum x 1e6 crossed int64 at the 10x replica under ANSI
    — caught by the gate, exactly what ANSI-on oracle runs are for;
    e4 holds ~100x past the 100x replica, and DECIMAL(38) sums are
    the documented upgrade beyond) — the
    every-dashboard-has-one "top N + other" rollup, with
    deterministic rank ties (revenue desc, then segment).  Exact cents
    everywhere; shares are BIGINT-multiply-then-integer-divide, so
    Σshare_e4 <= 1e4 with the deficit being truncation dust — a
    documented property, not a float artifact.  Scale: fact table
    shuffles once into the per-segment aggregate (segment cardinality
    is tiny); ranking, folding, and the total are all
    aggregate-cardinality operations with a scalar broadcast."""
    g = (
        t(spark, sf, "orders")
        .join(
            t(spark, sf, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rev_c"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
    )
    r = g.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy().orderBy(F.desc("rev_c"), "segment")
        ),
    )
    folded = (
        r.withColumn(
            "segment",
            F.when(F.col("rn") <= _CONTRIB_TOPK, F.col("segment")).otherwise(
                F.lit("OTHER")
            ),
        )
        .groupBy("segment")
        .agg(
            F.sum("rev_c").cast("long").alias("rev_c"),
            F.sum("n_orders").cast("long").alias("n_orders"),
        )
    )
    # the denominator comes from the (<= TOPK+1)-row folded table via a
    # window, not a second pass over the fact table — one orders scan
    return folded.withColumn(
        "t", F.sum("rev_c").over(W.partitionBy()).cast("long")
    ).select(
        "segment",
        "rev_c",
        "n_orders",
        F.expr("(rev_c * 10000) div t").alias("share_e4"),
    )


_K_ANON = 8  # chosen so violations EXIST at the sf0.01 gate (11 classes)


@query(
    "k_anonymity_audit",
    oracle=f"""
    WITH g AS (
      SELECT c_nationkey AS nation, c_mktsegment AS segment,
             CAST(count(*) AS BIGINT) AS group_size
      FROM customer GROUP BY 1, 2)
    SELECT nation, segment, group_size
    FROM g WHERE group_size < {_K_ANON}
    """,
)
def k_anonymity_audit(spark: SparkSession, sf: str) -> DataFrame:
    """k-anonymity audit over the (nation, market segment)
    quasi-identifier pair: every equivalence class smaller than k=8 —
    the rows a release would have to suppress or generalize before
    publication (Sweeney 2002, the data-governance gate every
    privacy-aware lake runs before sharing).  Scale: one hash
    aggregate on the quasi-identifier tuple (map-side combinable);
    the violation list is at most the class count.  Generalization
    ladders (nation -> region) compose by re-running the audit on the
    coarser key — the same aggregate shape at every rung."""
    return (
        t(spark, sf, "customer")
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("group_size"))
        .filter(F.col("group_size") < _K_ANON)
    )


@query(
    "ab_srm_check",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    a AS (
      SELECT CAST(count(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT) AS n0,
             CAST(count(*) FILTER (WHERE user_id % 2 = 1) AS BIGINT) AS n1
      FROM u)
    SELECT n0, n1,
           ((n0 - n1) * (n0 - n1) * 1000000) // (n0 + n1) AS srm_stat_e6,
           CASE WHEN ((n0 - n1) * (n0 - n1) * 1000000) // (n0 + n1)
                     > 3841000000 THEN 1 ELSE 0 END AS srm_flag
    FROM a
    """,
)
def ab_srm_check(spark: SparkSession, sf: str) -> DataFrame:
    """Sample-ratio-mismatch (SRM) guardrail for the user_id % 2
    experiment split (companion to ab_test_cuped): the chi-square
    statistic for a 50/50 split reduces to (n0−n1)²/(n0+n1), shipped
    in exact integer 1e-6 ticks, and the flag fires above the
    χ²(1df, p=0.05) critical value 3.841 — the first thing every
    experimentation platform checks before reading a metric, because
    assignment skew invalidates everything downstream.  Int64
    headroom: (n0−n1)²·1e6 needs |n0−n1| ≤ 3e6 — a 3-million-user
    imbalance would be flagged at a glance long before arithmetic
    matters; widen to DECIMAL(38) if you ever ship one.  Scale: one
    distinct-users aggregate (map-side combinable), then scalar
    arithmetic."""
    u = t(spark, sf, "events").select("user_id").distinct()
    a = u.agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n0"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
    )
    return a.select(
        "n0",
        "n1",
        F.expr("((n0 - n1) * (n0 - n1) * 1000000) div (n0 + n1)").alias(
            "srm_stat_e6"
        ),
        F.expr(
            "CASE WHEN ((n0 - n1) * (n0 - n1) * 1000000) div (n0 + n1)"
            " > 3841000000 THEN 1 ELSE 0 END"
        ).alias("srm_flag"),
    )


@query(
    "decile_lift_gains",
    oracle=f"""
    WITH p AS (
      SELECT user_id,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS mon
      FROM {EVENTS_US} events WHERE event_type = 'purchase'
      GROUP BY user_id),
    r AS (
      SELECT user_id, mon,
             1 + ((row_number() OVER (ORDER BY mon DESC, user_id) - 1)
                  * 10) // (count(*) OVER ()) AS decile
      FROM p),
    d AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(mon) AS BIGINT) AS rev_c
      FROM r GROUP BY 1),
    c AS (
      SELECT decile, n_users, rev_c,
             CAST(sum(rev_c) OVER (ORDER BY decile
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_rev_c,
             CAST(sum(rev_c) OVER () AS BIGINT) AS tot
      FROM d)
    SELECT decile, n_users, rev_c,
           (cum_rev_c * 1000000) // tot AS cum_share_e6
    FROM c
    """,
)
def decile_lift_gains(spark: SparkSession, sf: str) -> DataFrame:
    """Cumulative-gains (lift) table: users ranked by purchase spend,
    cut into equal-frequency deciles by rank arithmetic (the
    rfm_user_segments discipline — never ntile), with each decile's
    revenue and the CUMULATIVE share of total in exact 1e-6 ticks —
    the evaluation harness for any targeting/propensity model ("the
    top decile holds X% of revenue"), here with spend itself as the
    ranking score (a perfect-model upper bound).  Monotonicity of
    cum_share and the decile size balance are unit-tested.  Int64
    headroom: total_cents × 1e6 ≈ 2.4e16 at the 100× replica — 380×
    under the edge; DECIMAL(38) at billions of users.

    Scale (the VERDICT r05 #1 swap, applied): NO global rank window
    anywhere — deciles come from operators/quantiles.py's
    ``equal_freq_bucket``: spend-range bins (count bounded by the
    SPEND range / width, independent of user count) give exclusive
    rank bases via a window over the tiny bin table; per-bin windows
    run ONLY inside the <=9 boundary bins; assignment is a map-only
    broadcast boundary-tuple compare (the price_decile_assign
    discipline); everything after is 10-row arithmetic.  The oracle
    keeps the obvious global-window form — output-identical by the
    rank-count identity documented in the operator."""
    from ..operators.quantiles import equal_freq_bucket

    p = (
        t(spark, sf, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("mon")
        )
    )
    r = equal_freq_bucket(
        p, "mon", "user_id", "decile", 10, descending=True
    ).select("mon", "decile")
    d = r.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("mon").cast("long").alias("rev_c"),
    )
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    c = d.select(
        "decile",
        "n_users",
        "rev_c",
        F.sum("rev_c").over(wc).cast("long").alias("cum_rev_c"),
        F.sum("rev_c").over(W.partitionBy()).cast("long").alias("tot"),
    )
    return c.select(
        "decile",
        "n_users",
        "rev_c",
        F.expr("(cum_rev_c * 1000000) div tot").alias("cum_share_e6"),
    )
