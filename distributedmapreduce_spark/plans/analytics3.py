"""Round-6 analytics battery #3: retention cohorts, ordered funnels,
rolling time-window features, embedding quantization, and hash-min
connected components.

Same portability discipline as plans/analytics.py: events are read
through the µs-pinned EVENTS_US relation, money is BIGINT cents,
every published ratio is integer-divided, and float-typed embedding
components enter arithmetic only as floor(x * 1e7) BIGINT ticks (the
embedding_centroids precedent, proven portable through the 100x
sweep).  The iterative oracles mark each round's CTE MATERIALIZED so
DuckDB computes it once (ORACLE_PORTABILITY.md CTE discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .analytics2 import _LPA_EDGES_SQL, copurchase_edges
from .core import EVENTS_US, query, t

_WEEK_US = 7 * 86_400 * 1_000_000
_CC_ITERS = 4


@query(
    "retention_cohorts_weekly",
    oracle=f"""
    WITH p AS (
      SELECT user_id, epoch_us(ts) // {_WEEK_US} AS wk
      FROM {EVENTS_US} events WHERE event_type = 'purchase'),
    first AS (
      SELECT user_id, min(wk) AS cw FROM p GROUP BY user_id),
    act AS (SELECT DISTINCT user_id, wk FROM p)
    SELECT first.cw AS cohort_week,
           CAST(act.wk - first.cw AS BIGINT) AS age_weeks,
           CAST(count(*) AS BIGINT) AS n_users
    FROM act JOIN first ON act.user_id = first.user_id
    GROUP BY 1, 2
    """,
)
def retention_cohorts_weekly(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly USER-retention cohort matrix over the event stream (the
    per-user twin of analytics.py's order-count retention_cohorts):
    users are cohorted by their first purchase week, and cell
    (cohort_week, age_weeks) counts how many of that cohort purchased
    again age_weeks later (age 0 = the cohort size itself, since a
    user's first week is an active week).  Weeks are integer
    epoch-µs // week so both engines bucket identically with no
    calendar/timezone semantics in play.  Scale: one corpus scan
    reduces to (user, week) cardinality; the cohort join shuffles on
    user_id (co-partitioned with the first-week aggregate); the
    output is (weeks x weeks)-bounded."""
    p = (
        t(spark, sf, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.expr(f"unix_micros(ts) div {_WEEK_US}").alias("wk"),
        )
    )
    first = p.groupBy("user_id").agg(F.min("wk").alias("cw"))
    act = p.distinct()
    return (
        act.join(first, "user_id")
        .groupBy(
            F.col("cw").alias("cohort_week"),
            (F.col("wk") - F.col("cw")).cast("long").alias("age_weeks"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


@query(
    "funnel_conversion",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS us
      FROM {EVENTS_US} events),
    t1 AS (
      SELECT user_id, min(us) AS ts1 FROM e
      WHERE event_type = 'view' GROUP BY user_id),
    t2 AS (
      SELECT e.user_id, min(e.us) AS ts2
      FROM e JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'click' AND e.us >= t1.ts1
      GROUP BY e.user_id),
    t3 AS (
      SELECT e.user_id, min(e.us) AS ts3
      FROM e JOIN t2 ON e.user_id = t2.user_id
      WHERE e.event_type = 'purchase' AND e.us >= t2.ts2
      GROUP BY e.user_id)
    SELECT CAST(1 AS BIGINT) AS stage, 'view' AS event_type,
           CAST(count(*) AS BIGINT) AS n_users FROM t1
    UNION ALL
    SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM t2
    UNION ALL
    SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM t3
    """,
)
def funnel_conversion(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered three-stage funnel (view -> click -> purchase): a user
    converts at stage k only via events in CAUSAL order — the click
    must not precede the user's first view, the purchase not precede
    that first qualifying click (min-timestamp semantics, the standard
    product-analytics funnel; an unordered intersect would overcount
    users who purchased before ever viewing).  Scale: each stage is a
    per-user aggregate joined user-co-partitioned onto the next event
    stream — 3 corpus scans by design (one per stage, filter pushed to
    each scan), everything after is user-cardinality."""
    e = t(spark, sf, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    # stages cached: each is a user-cardinality (user, min_ts) table
    # consumed by BOTH the next stage's join and its own count — as
    # raw lineage every downstream reference would replay the corpus
    # scans of every stage above it (FileScan budget lint).  No
    # unpersist: the RETURNED lazy plan reads these at execution time
    # (the bpe_encode precedent); entity-sized and LRU-evictable.
    t1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("ts1"))
        .persist()
    )
    t2 = (
        e.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("us") >= F.col("ts1"))
        .groupBy("user_id")
        .agg(F.min("us").alias("ts2"))
        .persist()
    )
    t3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("us") >= F.col("ts2"))
        .groupBy("user_id")
        .agg(F.min("us").alias("ts3"))
    )

    def cnt(df: DataFrame, stage: int, et: str) -> DataFrame:
        return df.agg(
            F.lit(stage).cast("long").alias("stage"),
            F.lit(et).alias("event_type"),
            F.count(F.lit(1)).cast("long").alias("n_users"),
        )

    return (
        cnt(t1, 1, "view")
        .unionByName(cnt(t2, 2, "click"))
        .unionByName(cnt(t3, 3, "purchase"))
    )


@query(
    "rolling_7d_user_spend",
    oracle=f"""
    WITH p AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM {EVENTS_US} events WHERE event_type = 'purchase')
    SELECT user_id, event_id,
           CAST(sum(cents) OVER (
             PARTITION BY user_id ORDER BY us
             RANGE BETWEEN {7 * 86_400 * 1_000_000} PRECEDING
                   AND CURRENT ROW) AS BIGINT) AS spend_7d_c
    FROM p
    """,
)
def rolling_7d_user_spend(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing 7-day spend per purchase event — the classic rolling
    time-window ML feature ("how much has this user spent in the last
    week, as of this event"), computed with a RANGE frame over the
    integer µs timestamp so same-instant purchases are frame peers on
    both engines (a ROWS frame would be tie-order-ambiguous).  Exact
    BIGINT cents.  Scale: the window partitions on user_id — full
    corpus parallelism across users, per-task state bounded by one
    user's purchase history (for a pathological single hot user,
    hour-bucket segmentation a la time_weighted_average is the
    documented upgrade)."""
    p = (
        t(spark, sf, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("us"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-7 * 86_400 * 1_000_000, 0)
    )
    return p.select(
        "user_id",
        "event_id",
        F.sum("cents").over(w).cast("long").alias("spend_7d_c"),
    )


@query(
    "embedding_int8_quantize",
    oracle="""
    WITH x AS (
      SELECT vec_id, u.i - 1 AS dim,
             CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 1e7) AS BIGINT)
               AS xi
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
    s AS (
      SELECT dim, min(xi) AS mn, max(xi) AS mx FROM x GROUP BY dim),
    q AS (
      SELECT x.dim, x.xi, s.mn, s.mx,
             CASE WHEN s.mx = s.mn THEN 0
                  ELSE ((x.xi - s.mn) * 255) // (s.mx - s.mn) END AS code
      FROM x JOIN s ON x.dim = s.dim),
    r AS (
      SELECT dim, mn, mx,
             abs(xi - (mn + (code * (mx - mn)) // 255)) AS err
      FROM q)
    SELECT dim, CAST(mn AS BIGINT) AS mn_e7, CAST(mx AS BIGINT) AS mx_e7,
           CAST(sum(err) AS BIGINT) AS sum_abs_err_e7,
           CAST(max(err) AS BIGINT) AS max_abs_err_e7
    FROM r GROUP BY 1, 2, 3
    """,
)
def embedding_int8_quantize(spark: SparkSession, sf: str) -> DataFrame:
    """Per-dimension int8 (256-level min/max) quantization of the
    embedding table with EXACT reconstruction-error accounting — the
    vector-compression step an embedding lake runs before ANN
    serving, here entirely in integer ticks: components become
    floor(x*1e7) BIGINTs, codes are (xi-mn)*255 // (mx-mn), and the
    report is per-dim (range, Σ|err|, max|err|), so both engines agree
    bit-for-bit (a double-path quantizer would round differently at
    bin edges).  Both integer divisions run on non-negative operands,
    where Spark's `div` (truncate) and DuckDB's `//` (floor) agree.
    Scale: dim-bounded stats aggregate (64 rows) broadcast back onto
    a second map-side pass; 2 corpus scans by design."""
    x = t(spark, sf, "embeddings").select(
        "vec_id",
        F.posexplode("embedding").alias("dim", "xf"),
    ).select(
        "vec_id",
        "dim",
        F.floor(F.col("xf").cast("double") * 1e7).cast("long").alias("xi"),
    )
    s = x.groupBy("dim").agg(
        F.min("xi").alias("mn"), F.max("xi").alias("mx")
    )
    q = x.join(F.broadcast(s), "dim").select(
        "dim",
        "mn",
        "mx",
        F.expr(
            "CASE WHEN mx = mn THEN CAST(0 AS BIGINT) "
            "ELSE ((xi - mn) * 255) div (mx - mn) END"
        ).alias("code"),
        "xi",
    )
    r = q.select(
        "dim",
        "mn",
        "mx",
        F.abs(
            F.col("xi")
            - (F.col("mn") + F.expr("(code * (mx - mn)) div 255"))
        ).alias("err"),
    )
    return r.groupBy(
        "dim",
        F.col("mn").cast("long").alias("mn_e7"),
        F.col("mx").cast("long").alias("mx_e7"),
    ).agg(
        F.sum("err").cast("long").alias("sum_abs_err_e7"),
        F.max("err").cast("long").alias("max_abs_err_e7"),
    )


def _cc_oracle() -> str:
    steps = []
    for i in range(1, _CC_ITERS + 1):
        steps.append(f"""
    c{i} AS MATERIALIZED (
      SELECT node, min(lbl) AS lbl FROM (
        SELECT node, lbl FROM c{i - 1}
        UNION ALL
        SELECT ed.u AS node, c.lbl
        FROM ed JOIN c{i - 1} c ON ed.v = c.node)
      GROUP BY node)""")
    return f"""
    WITH {_LPA_EDGES_SQL},
    c0 AS MATERIALIZED (SELECT u AS node, u AS lbl FROM ed GROUP BY u),
    {",".join(steps)}
    SELECT lbl AS component, CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(node) AS BIGINT) AS min_member
    FROM c{_CC_ITERS} GROUP BY 1
    """


@query(
    "connected_components_hashmin",
    oracle=_cc_oracle(),
)
def connected_components_hashmin(spark: SparkSession, sf: str) -> DataFrame:
    """Connected components by K=4 rounds of synchronous hash-min
    label propagation on the co-purchase graph: every node's label
    becomes min(own, neighbors') each round, so after K rounds each
    label is the minimum node id within K hops — deterministic at a
    FIXED iteration count whether or not the diameter is exhausted
    (the same fixed-K discipline as label_propagation_communities;
    with convergence the labels are the truly-minimum component ids).
    Complements LPA: min-fold vs frequency-mode semantics.  Output is
    the component census.  Scale: the corpus-sized work is the one
    edge-list build (persisted); each round is an edge-label join +
    min-combine — both map-side-combinable aggregates on tables
    orders of magnitude smaller than the corpus.  The oracle
    materializes each round's CTE; inlined, it would double per step
    (2^K CTE re-inlining)."""
    ed = copurchase_edges(spark, sf)
    lbl = (
        ed.select("u")
        .distinct()
        .select(F.col("u").alias("node"), F.col("u").alias("lbl"))
    )
    for _ in range(_CC_ITERS):
        nbr = ed.join(lbl, ed["v"] == lbl["node"]).select(
            ed["u"].alias("node"), "lbl"
        )
        lbl = (
            lbl.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
        )
    return lbl.groupBy(F.col("lbl").alias("component")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.min("node").cast("long").alias("min_member"),
    )


_KCORE_K = 3
_KCORE_T = 4


def _kcore_degrees_sql(alive: str) -> str:
    return f"""
      SELECT e.u AS node, count(*) AS dg
      FROM ed e
      JOIN {alive} x ON e.u = x.node
      JOIN {alive} y ON e.v = y.node
      GROUP BY e.u"""


def _kcore_oracle() -> str:
    parts = ["ka0 AS MATERIALIZED (SELECT u AS node FROM ed GROUP BY u)"]
    for i in range(1, _KCORE_T + 1):
        parts.append(
            f"kd{i} AS MATERIALIZED ({_kcore_degrees_sql(f'ka{i - 1}')})"
        )
        parts.append(
            f"ka{i} AS MATERIALIZED "
            f"(SELECT node FROM kd{i} WHERE dg >= {_KCORE_K})"
        )
    return f"""
    WITH {_LPA_EDGES_SQL},
    {",".join(parts)},
    kfin AS ({_kcore_degrees_sql(f'ka{_KCORE_T}')})
    SELECT CAST(node AS BIGINT) AS node, CAST(dg AS BIGINT) AS core_deg
    FROM kfin
    """


@query(
    "kcore_copurchase",
    oracle=_kcore_oracle(),
)
def kcore_copurchase(spark: SparkSession, sf: str) -> DataFrame:
    """k-core peeling (k=3, T=4 rounds) of the rare-part co-purchase
    graph — the dense-cohort extractor behind community mining and
    spam/fraud-cell detection, completing the graph family (triangles,
    LPA, hash-min CC) with the degree-constrained subgraph operator.
    Each round drops every node whose degree within the surviving
    subgraph is < k; after T rounds the output is each surviving
    node's degree in the induced subgraph (a node whose last neighbor
    was peeled in the final round emits no row — both engines apply
    the same rule).  Fixed T is the same discipline as the other
    iterative queries: deterministic whether or not the peel has
    converged; at convergence the result IS the 3-core.

    Scale: the corpus-sized work is the one blocked edge-list build
    (persisted, degree-bounded per rare part — never all-pairs) plus
    ONE full degree count; every later round is DELTA PEELING — only
    edges INTO the nodes that died last round are counted and
    subtracted from the surviving degrees, so per-round work is
    proportional to the shrinking frontier, not the graph (the
    at-scale formulation of k-core; the naive
    recompute-degrees-per-round form does two full edge joins every
    round).  Death sets are disjoint across rounds, so each removed
    edge is subtracted exactly once; a survivor whose last neighbor
    died ends at degree 0 and emits no row, matching the join
    formulation the oracle uses.  The oracle materializes the edge
    CTE and each round (ORACLE_PORTABILITY.md CTE discipline)."""
    ed = copurchase_edges(spark, sf)
    deg = ed.groupBy("u").agg(F.count(F.lit(1)).alias("dg")).persist()
    for _ in range(_KCORE_T):
        deaths = deg.filter(F.col("dg") < _KCORE_K).select(
            F.col("u").alias("v")
        )
        loss = (
            ed.join(deaths, "v")
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("lost"))
        )
        deg = (
            deg.filter(F.col("dg") >= _KCORE_K)
            .join(loss, "u", "left")
            .select(
                "u",
                (
                    F.col("dg") - F.coalesce(F.col("lost"), F.lit(0))
                ).alias("dg"),
            )
            .persist()
        )
    return deg.filter(F.col("dg") > 0).select(
        F.col("u").cast("long").alias("node"),
        F.col("dg").cast("long").alias("core_deg"),
    )


_BFS_T = 4


def _bfs_oracle() -> str:
    steps = []
    for i in range(1, _BFS_T + 1):
        steps.append(f"""
    l{i} AS MATERIALIZED (
      SELECT node, min(h) AS h FROM (
        SELECT node, h FROM l{i - 1}
        UNION ALL
        SELECT ed.u AS node, c.h + 1 AS h
        FROM ed JOIN l{i - 1} c ON ed.v = c.node)
      GROUP BY node)""")
    return f"""
    WITH {_LPA_EDGES_SQL},
    dg AS (SELECT u, count(*) AS dg FROM ed GROUP BY u),
    hub AS (SELECT u AS node FROM dg ORDER BY dg DESC, u LIMIT 1),
    l0 AS MATERIALIZED (SELECT node, 0 AS h FROM hub),{",".join(steps)}
    SELECT CAST(h AS BIGINT) AS hops, CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(node) AS BIGINT) AS min_node
    FROM l{_BFS_T} GROUP BY 1
    """


@query(
    "bfs_hop_census",
    oracle=_bfs_oracle(),
)
def bfs_hop_census(spark: SparkSession, sf: str) -> DataFrame:
    """Breadth-first search from the highest-degree hub of the
    co-purchase graph (T=4 rounds): per hop level, how many customers
    are first reachable at that distance — the reachability/diameter
    probe that completes the graph family (triangles, LPA, hash-min
    CC, k-core, PageRank) with the single-source shortest-hops
    operator.  The hub is deterministic: max degree, ties broken by
    min node id (ORDER BY dg DESC, u LIMIT 1 in both engines).

    Scale: the corpus-sized work is the shared blocked edge-list
    build; each round is FRONTIER-DELTA expansion — edges are joined
    against only the nodes first discovered last round (left-anti
    against the reached set keeps rounds monotone), so per-round work
    is proportional to the expanding wavefront, never the graph (the
    delta-peeling discipline of kcore_copurchase, mirrored for
    reachability).  First discovery at round i IS the min-hop level,
    so the frontier form is value-identical to the oracle's min-
    relaxation form (l_i(node) = min hops over <= i steps); the
    oracle materializes the edge CTE and each round, which inlined
    would re-run 2^T times (ORACLE_PORTABILITY.md CTE discipline)."""
    ed = copurchase_edges(spark, sf)
    deg = ed.groupBy("u").agg(F.count(F.lit(1)).alias("dg"))
    hub = (
        deg.orderBy(F.desc("dg"), "u")
        .limit(1)
        .select(F.col("u").alias("node"), F.lit(0).alias("h"))
    )
    # eager localCheckpoint instead of persist: the reached set is a
    # UNION-accumulating lineage, and replanning/canonicalizing the
    # deepening chain cost more per round than the (tiny) data —
    # measured 6.2 s -> 2.2 s at sf0.1.  Checkpoint state is
    # frontier-sized; at 100 TB it is the reached-node table, which a
    # BFS materializes per round on any engine.
    reached = hub.localCheckpoint()
    frontier = reached
    for i in range(1, _BFS_T + 1):
        nbr = (
            ed.join(frontier, ed["v"] == frontier["node"])
            .select(ed["u"].alias("node"))
            .distinct()
        )
        frontier = (
            nbr.join(reached.select("node"), "node", "left_anti")
            .withColumn("h", F.lit(i))
            .localCheckpoint()
        )
        if not frontier.take(1):
            # empty wavefront: every later round is empty too (the
            # oracle's min-relaxation fixpoint has been reached)
            break
        reached = reached.unionByName(frontier).localCheckpoint()
    return reached.groupBy(F.col("h").cast("long").alias("hops")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.min("node").cast("long").alias("min_node"),
    )


_SHAP_CHANNELS = [("click", 1), ("error", 2), ("signup", 4), ("view", 8)]
# |S|!(k-1-|S|)!/k! * k!  for k=4, as exact integers (x24 scaling):
_SHAP_W24 = {0: 6, 1: 2, 2: 2, 3: 6}


def _shap_terms_rows() -> list[tuple[str, int, int, int, int]]:
    """(channel, bit, s, s_with, w24) for every coalition S not
    containing the channel — 4 x 8 = 32 constant rows, precomputed
    driver-side (pure arithmetic on the fixed channel universe)."""
    rows = []
    for name, bit in _SHAP_CHANNELS:
        for s in range(16):
            if s & bit:
                continue
            rows.append((name, bit, s, s | bit, _SHAP_W24[bin(s).count("1")]))
    return rows


@query(
    "shapley_channel_attribution",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS us
      FROM {EVENTS_US} events),
    pe AS (
      SELECT user_id, event_type, us,
             min(CASE WHEN event_type = 'purchase' THEN us END)
               OVER (PARTITION BY user_id) AS pus
      FROM ev),
    tm AS (
      SELECT user_id,
             bit_or(CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
                    WHEN 'signup' THEN 4 WHEN 'view' THEN 8 ELSE 0 END)
               AS mask
      FROM pe
      WHERE pus IS NOT NULL AND us < pus AND event_type <> 'purchase'
      GROUP BY user_id),
    cv AS (SELECT mask, count(*) AS c FROM tm WHERE mask > 0
           GROUP BY mask),
    ss AS (SELECT CAST(range AS INT) AS s FROM range(16)),
    v AS (
      SELECT ss.s, coalesce(sum(cv.c), 0) AS v
      FROM ss LEFT JOIN cv ON (cv.mask & ss.s) = cv.mask
      GROUP BY ss.s),
    phi AS (
      SELECT ch.name AS channel,
             sum((CASE bit_count(ss.s) WHEN 0 THEN 6 WHEN 1 THEN 2
                  WHEN 2 THEN 2 ELSE 6 END) * (vi.v - vs.v)) AS x24
      FROM (VALUES ('click', 1), ('error', 2), ('signup', 4),
                   ('view', 8)) ch(name, bit)
      JOIN ss ON (ss.s & ch.bit) = 0
      JOIN v vs ON vs.s = ss.s
      JOIN v vi ON vi.s = (ss.s | ch.bit)
      GROUP BY 1)
    SELECT channel, CAST(x24 AS BIGINT) AS shapley_x24,
           round(x24 / 24.0, 6) AS shapley
    FROM phi
    """,
)
def shapley_channel_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT Shapley-value channel attribution over the fixed 4-channel
    universe (click/error/signup/view; purchase = conversion) — the
    game-theoretic member of the attribution family (linear-touch in
    analytics2, completing coverage of the two standard MTA models).
    The coalition game: v(S) = number of converting users whose
    pre-first-purchase channel set is contained in S (users whose whole
    path survives when only coalition S runs).  phi_i is the exact
    Shapley sum over all 2^(k-1) coalitions; with k=4 the factorial
    weights |S|!(k-1-|S|)!/k! become sixths-of-24, so the entire
    computation is INTEGER in x24 ticks (shapley_x24) until the final
    published round — bit-for-bit portable, no float accumulation
    order in play.  Efficiency axiom makes a built-in invariant:
    sum(shapley_x24) = 24 * v(full), checked by the brute-force
    property test.

    Scale: ONE events scan -> per-user first-purchase timestamp as a
    conditional window min (no self-join), pre-purchase touches fold
    to a 4-bit mask via bit_or (map-side combinable), masks reduce to
    <= 15 (mask, count) rows.  Everything after is on 2^k-bounded
    constants: v(S) via superset EXPLODE of the mask census (an
    equi-shape, no theta join), and the 32-row precomputed
    (channel, S) term table joins v twice broadcast-style.  At 100 TB
    the only data-sized stages are the user-partition window and the
    mask groupBy — both single-shuffle."""
    bit = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "error", 2)
        .when(F.col("event_type") == "signup", 4)
        .when(F.col("event_type") == "view", 8)
        .otherwise(0)
    )
    ev = t(spark, sf, "events").select(
        "user_id", "event_type", F.expr("unix_micros(ts)").alias("us")
    )
    pe = ev.withColumn(
        "pus",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("us"))
        ).over(W.partitionBy("user_id")),
    )
    tm = (
        pe.filter(
            F.col("pus").isNotNull()
            & (F.col("us") < F.col("pus"))
            & (F.col("event_type") != "purchase")
        )
        .groupBy("user_id")
        .agg(F.bit_or(bit).alias("mask"))
    )
    cv = (
        tm.filter(F.col("mask") > 0)
        .groupBy("mask")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # v(S) = sum of counts over masks contained in S: explode each
    # mask census row into its supersets (<= 16 constants) — an
    # equi-aggregate, deliberately not a (mask & S) = mask theta join.
    all16 = F.array(*[F.lit(i) for i in range(16)])
    sup = F.filter(
        all16,
        lambda s: s.bitwiseAND(F.col("mask")) == F.col("mask"),
    )
    v = (
        cv.select(F.explode(sup).alias("s"), "c")
        .groupBy("s")
        .agg(F.sum("c").alias("v"))
    )
    terms = spark.createDataFrame(
        _shap_terms_rows(), "channel string, bit int, s int, s_with int, w24 int"
    )
    vs = v.select(F.col("s"), F.col("v").alias("v_s"))
    vi = v.select(F.col("s").alias("s_with"), F.col("v").alias("v_i"))
    phi = (
        terms.join(vs, "s", "left")
        .join(vi, "s_with", "left")
        .groupBy("channel")
        .agg(
            F.sum(
                F.col("w24")
                * (
                    F.coalesce(F.col("v_i"), F.lit(0))
                    - F.coalesce(F.col("v_s"), F.lit(0))
                )
            ).alias("x24")
        )
    )
    return phi.select(
        "channel",
        F.col("x24").cast("long").alias("shapley_x24"),
        F.round(F.col("x24") / 24.0, 6).alias("shapley"),
    )


_MK_K = 8
_MK_CHANNELS = ["click", "error", "signup", "view"]
_MK_STATES = _MK_CHANNELS + ["START"]
_MK_SCN = [("full", None)] + [(f"rm_{c}", c) for c in _MK_CHANNELS]


def _mk_paths_sql() -> str:
    """Shared CTE block: journeys -> transition matrix -> row-
    normalized probabilities, split into absorbing (pc) and transient
    (pt) edges."""
    return f"""
    ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS us, event_id
      FROM {EVENTS_US} events),
    pe AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' THEN us END)
               OVER (PARTITION BY user_id) AS pus
      FROM ev),
    tch AS (
      SELECT user_id, event_type, us, event_id, pus
      FROM pe
      WHERE event_type <> 'purchase' AND (pus IS NULL OR us < pus)),
    sq AS (
      SELECT coalesce(lag(event_type) OVER
               (PARTITION BY user_id ORDER BY us, event_id), 'START')
               AS src,
             event_type AS dst
      FROM tch),
    lst AS (
      SELECT user_id,
             (max(struct_pack(us := us, eid := event_id,
                              ty := event_type))).ty AS lt,
             max(pus) AS pus
      FROM tch GROUP BY user_id),
    term AS (
      SELECT lt AS src,
             CASE WHEN pus IS NOT NULL THEN 'CONV' ELSE 'DROP' END AS dst
      FROM lst),
    drc AS (
      SELECT 'START' AS src, 'CONV' AS dst
      FROM (SELECT DISTINCT user_id FROM pe WHERE pus IS NOT NULL) cv
      WHERE user_id NOT IN (SELECT DISTINCT user_id FROM tch)),
    tr AS MATERIALIZED (
      SELECT src, dst, count(*) AS n FROM (
        SELECT src, dst FROM sq
        UNION ALL SELECT src, dst FROM term
        UNION ALL SELECT src, dst FROM drc)
      GROUP BY 1, 2),
    outd AS (SELECT src, sum(n) AS m FROM tr GROUP BY 1),
    p AS (SELECT tr.src, tr.dst, CAST(n AS DOUBLE) / m AS p
          FROM tr JOIN outd ON outd.src = tr.src),
    pc AS MATERIALIZED (SELECT src, p FROM p WHERE dst = 'CONV'),
    pt AS MATERIALIZED (SELECT src, dst, p FROM p
           WHERE dst IN ('click', 'error', 'signup', 'view')),
    scn AS (SELECT * FROM (VALUES
      ('full', NULL), ('rm_click', 'click'), ('rm_error', 'error'),
      ('rm_signup', 'signup'), ('rm_view', 'view')) s(sc, rm)),
    sts AS (SELECT * FROM (VALUES
      ('click'), ('error'), ('signup'), ('view'), ('START')) t(st)),
    grid AS MATERIALIZED (SELECT sc, rm, st FROM scn CROSS JOIN sts)"""


def _mk_oracle() -> str:
    steps = ["x0 AS MATERIALIZED (SELECT sc, rm, st, 0.0 AS x FROM grid)"]
    for i in range(1, _MK_K + 1):
        steps.append(f"""x{i} AS MATERIALIZED (
      SELECT b.sc, b.rm, b.st,
             CASE WHEN b.st = b.rm THEN 0.0
                  ELSE coalesce(pc.p, 0.0) + coalesce(agg.s, 0.0)
             END AS x
      FROM grid b
      LEFT JOIN pc ON pc.src = b.st
      LEFT JOIN (
        SELECT xp.sc, pt.src AS st, sum(pt.p * xp.x) AS s
        FROM pt JOIN x{i - 1} xp ON xp.st = pt.dst
        GROUP BY 1, 2) agg ON agg.sc = b.sc AND agg.st = b.st)""")
    return f"""
    WITH {_mk_paths_sql()},
    {",".join(steps)}
    SELECT replace(fin.sc, 'rm_', '') AS channel,
           round(pf.x, 6) AS p_full,
           round(fin.x, 6) AS p_removed,
           round(CASE WHEN pf.x > 0 THEN 1.0 - fin.x / pf.x
                      ELSE 0.0 END, 6) AS removal_effect
    FROM x{_MK_K} fin
    JOIN x{_MK_K} pf ON pf.sc = 'full' AND pf.st = 'START'
    WHERE fin.st = 'START' AND fin.sc <> 'full'
    """


@query(
    "markov_attribution_removal",
    oracle=_mk_oracle(),
)
def markov_attribution_removal(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov (removal-effect) channel attribution — the
    third member of the MTA family (linear-touch, exact Shapley, now
    the absorbing-chain model).  Journeys: each user's pre-first-
    purchase touches ordered by (ts, event_id), wrapped START -> ... ->
    CONV (converted) / DROP (never purchased); converting users with
    no touches contribute the direct START -> CONV edge.  Transition
    probabilities are row-normalized counts; conversion probability is
    absorption into CONV from START, computed by K=8 FIXED value-
    iteration steps (x_{{i+1}}(s) = p(s,CONV) + sum_t p(s,t) x_i(t)) —
    deterministic in both engines whether or not the chain has mixed,
    the pagerank fixed-K discipline.  Channel c's removal effect uses
    the SAME matrix with x(c) forced to 0 (transitions into a removed
    channel lose their mass — exactly the redirect-to-NULL semantics,
    no per-scenario matrix rebuild), so all 5 scenarios iterate as one
    25-row (scenario x state) table.  Published at 6dp: every sum has
    <= 5 terms of magnitude <= 1, so accumulation-order noise
    (~1e-15) sits 9 orders below the round.

    Scale: corpus-sized work is ONE user-partition window pass (first-
    purchase min + lag sequencing) and the k^2-bounded transition
    aggregate; the value iteration runs driver-side on the collected
    k^2-bounded matrix (kmeans-centroid discipline — the Spark-side
    loop formulation paid ~10 s of Catalyst re-analysis on an 8-deep
    lineage over a 25-row table, at ANY corpus size).  The
    oracle materializes the transition tables and each iteration, so
    no iteration re-runs the corpus CTEs (ORACLE_PORTABILITY.md CTE
    discipline)."""
    ev = t(spark, sf, "events").select(
        "user_id",
        "event_type",
        F.expr("unix_micros(ts)").alias("us"),
        "event_id",
    )
    pe = ev.withColumn(
        "pus",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("us"))
        ).over(W.partitionBy("user_id")),
    )
    tch = pe.filter(
        (F.col("event_type") != "purchase")
        & (F.col("pus").isNull() | (F.col("us") < F.col("pus")))
    ).persist()  # feeds sq, lst, and the direct-conversion anti-join
    w_ord = W.partitionBy("user_id").orderBy("us", "event_id")
    sq = tch.select(
        F.coalesce(
            F.lag("event_type").over(w_ord), F.lit("START")
        ).alias("src"),
        F.col("event_type").alias("dst"),
    )
    lst = tch.groupBy("user_id").agg(
        F.max(
            F.struct(
                F.col("us"),
                F.col("event_id").alias("eid"),
                F.col("event_type").alias("ty"),
            )
        ).alias("l"),
        F.max("pus").alias("pus"),
    )
    term = lst.select(
        F.col("l.ty").alias("src"),
        F.when(F.col("pus").isNotNull(), F.lit("CONV"))
        .otherwise(F.lit("DROP"))
        .alias("dst"),
    )
    cvu = (
        pe.filter(F.col("pus").isNotNull()).select("user_id").distinct()
    )
    drc = (
        cvu.join(tch.select("user_id").distinct(), "user_id", "left_anti")
        .select(
            F.lit("START").alias("src"), F.lit("CONV").alias("dst")
        )
    )
    tr = (
        sq.unionByName(term)
        .unionByName(drc)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    outd = tr.groupBy("src").agg(F.sum("n").alias("m"))
    p = tr.join(outd, "src").select(
        "src", "dst", (F.col("n").cast("double") / F.col("m")).alias("p")
    ).persist()  # k^2-bounded; read by every iteration
    pc = p.filter(F.col("dst") == "CONV").select(
        F.col("src").alias("pc_src"), F.col("p").alias("pc_p")
    )
    pt = p.filter(F.col("dst").isin(_MK_CHANNELS)).select(
        F.col("src").alias("pt_src"),
        F.col("dst").alias("pt_dst"),
        F.col("p").alias("pt_p"),
    )
    pcm = {r["pc_src"]: r["pc_p"] for r in pc.collect()}
    ptm = sorted(
        (r["pt_src"], r["pt_dst"], r["pt_p"]) for r in pt.collect()
    )
    # K fixed value-iteration steps over the 25-entry (scenario, state)
    # vector — k^2-bounded constants, so the loop runs ON THE DRIVER
    # (the kmeans-centroid discipline): the Spark-side formulation of
    # this loop re-analyzed an 8-deep join lineage over a 25-row table
    # and cost ~10 s of pure planning at any data scale.  Accumulation
    # order is pinned by the (src, dst) sort; the <= 5-term sums keep
    # order noise ~1e-15, nine orders below the 6 dp publication.
    xv = {(sc, st): 0.0 for sc, _ in _MK_SCN for st in _MK_STATES}
    for _ in range(_MK_K):
        nxt = {}
        for sc, rm in _MK_SCN:
            s: dict[str, float] = {}
            for src, dst, pp in ptm:
                s[src] = s.get(src, 0.0) + pp * xv[(sc, dst)]
            for st in _MK_STATES:
                nxt[(sc, st)] = (
                    0.0
                    if st == rm
                    else pcm.get(st, 0.0) + s.get(st, 0.0)
                )
        xv = nxt
    p_full_raw = xv[("full", "START")]
    fin = spark.createDataFrame(
        [
            (sc, p_full_raw, xv[(sc, "START")])
            for sc, _ in _MK_SCN
            if sc != "full"
        ],
        "sc string, p_full_raw double, x double",
    )
    return (
        fin.select(
            F.regexp_replace("sc", "^rm_", "").alias("channel"),
            F.round("p_full_raw", 6).alias("p_full"),
            F.round("x", 6).alias("p_removed"),
            F.round(
                F.when(
                    F.col("p_full_raw") > 0,
                    F.lit(1.0) - F.col("x") / F.col("p_full_raw"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("removal_effect"),
        )
    )


_T7_DAY_US = 86_400_000_000


@query(
    "trailing_7d_distinct_users",
    oracle=f"""
    WITH du AS (
      SELECT DISTINCT epoch_us(ts) // {_T7_DAY_US} AS day, user_id
      FROM {EVENTS_US} events),
    days AS (SELECT DISTINCT day FROM du),
    tw AS (
      SELECT DISTINCT d.day AS rd, du.user_id
      FROM days d JOIN du
        ON du.day BETWEEN d.day - 6 AND d.day),
    t7 AS (SELECT rd, count(*) AS d7_users FROM tw GROUP BY rd),
    t1 AS (SELECT day, count(*) AS d1_users FROM du GROUP BY day)
    SELECT CAST(t1.day AS BIGINT) AS day,
           CAST(t1.d1_users AS BIGINT) AS d1_users,
           CAST(t7.d7_users AS BIGINT) AS d7_users
    FROM t1 JOIN t7 ON t7.rd = t1.day
    """,
)
def trailing_7d_distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    """Daily active users with an EXACT trailing-7-day distinct count
    — the DAU/WAU pair every engagement dashboard is built on, and
    the exact companion to the mergeable-sketch path
    (hll_merge_daily_users): distinct counts do NOT sum across days,
    so the trailing union is materialized explicitly.  Each (day,
    user) activity pair is exploded to the <= 7 report days it keeps
    the user active for (sequence + explode — a bounded 7x fanout of
    the DEDUPLICATED pair table, not the raw events), then a plain
    distinct-count per report day.  The oracle states the same thing
    declaratively as a day-range band join.  All integers.

    Scale: one events scan reduces to (day, user) pairs; the 7x
    explode shuffles pairs, never events, and at 100 TB this is the
    standard exact-WAU shape (the sketch twin is the cheaper
    alternative when approximation is acceptable)."""
    du = (
        t(spark, sf, "events")
        .select(
            F.expr(f"unix_micros(ts) div {_T7_DAY_US}").alias("day"),
            "user_id",
        )
        .distinct()
    ).persist()  # feeds the explode, the day census, and the day grid
    tw = (
        du.select(
            F.explode(
                F.sequence(F.col("day"), F.col("day") + 6)
            ).alias("rd"),
            "user_id",
        )
        .distinct()
    )
    t7 = tw.groupBy("rd").agg(F.count(F.lit(1)).alias("d7_users"))
    t1 = du.groupBy("day").agg(F.count(F.lit(1)).alias("d1_users"))
    return t1.join(t7, t1["day"] == t7["rd"]).select(
        F.col("day").cast("long"),
        F.col("d1_users").cast("long"),
        F.col("d7_users").cast("long"),
    )
