"""Product/ops analytics and view-maintenance operators, round 3:
time-bucket gap filling, incremental materialized-view refresh,
event-transition (Markov) counts, and retention cohorts.

Like plans/curation.py these extend the reference's single-job surface
(/root/reference/master.py:99-167) with the operational queries a lake
engine is actually kept around for.  All oracles follow
ORACLE_PORTABILITY.md: µs-pinned event timestamps (EVENTS_US),
BIGINT-pinned counts, exact cents arithmetic instead of double sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .core import EVENTS_US, query, t


@query(
    "time_bucket_gapfill",
    oracle=f"""
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo,
             date_trunc('hour', max(ts)) AS hi
      FROM {EVENTS_US} events),
    grid AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS wstart
      FROM bounds),
    types AS (SELECT DISTINCT event_type FROM events),
    counts AS (
      SELECT date_trunc('hour', ts) AS wstart, event_type,
             count(*) AS n
      FROM {EVENTS_US} events GROUP BY 1, 2)
    SELECT g.wstart, ty.event_type, coalesce(c.n, 0) AS n
    FROM grid g
    CROSS JOIN types ty
    LEFT JOIN counts c
      ON c.wstart = g.wstart AND c.event_type = ty.event_type
    """,
)
def time_bucket_gapfill(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly counts per event type with EMPTY BUCKETS FILLED — the
    hypertable/timeseries gap-fill every dashboard and forecasting
    featurizer needs (a missing bucket means zero, not "no row").
    Scale: the aggregate is the only corpus-sized shuffle; both join
    sides are grid-sized afterwards ((time-range / 1h) x n_types
    rows), and the aggregated counts — the only side a LEFT join may
    broadcast — get the broadcast hint.  At 100 TB a year of hourly
    buckets x 1000 types is still <9M rows — trivially broadcastable."""
    ev = t(spark, sf, "events")
    # bounds and types derive exactly from the count table
    # (date_trunc is monotone; every type has ≥1 bucket), so the
    # persisted grid-sized aggregate replaces three raw-event scans
    counts = (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("wstart"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    bounds = counts.agg(
        F.min("wstart").alias("lo"), F.max("wstart").alias("hi")
    )
    grid = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("wstart")
    )
    types = counts.select("event_type").distinct()
    dim = grid.crossJoin(types)
    return dim.join(
        F.broadcast(counts), ["wstart", "event_type"], "left"
    ).select("wstart", "event_type", F.coalesce("n", F.lit(0)).alias("n"))


@query(
    "mv_incremental_refresh",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events GROUP BY event_type
    """,
)
def mv_incremental_refresh(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental materialized-view maintenance: a pre-aggregated
    per-type view (built from the 90% "already ingested" slice) is
    refreshed by MERGING the delta batch's partial aggregate — never
    re-scanning the base data.  The oracle is the full recompute; the
    refresh path must equal it exactly, which is the correctness
    contract of every incremental-view engine.  Sums run in exact
    cents (value is 2dp, so round(value*100) is an integer and
    addition is associative) — a double sum would make merge order
    observable.  Scale: the base aggregate is metadata-sized (one row
    per type); refresh cost is O(delta), the whole point at 100 TB."""
    ev = t(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("total_cents"),
        )

    base = agg(ev.filter(F.col("event_id") % 10 != 0))
    delta = agg(ev.filter(F.col("event_id") % 10 == 0))
    merged = base.alias("b").join(
        delta.alias("d"), "event_type", "full_outer"
    )
    z = F.lit(0).cast("long")
    return merged.select(
        "event_type",
        (F.coalesce("b.n", z) + F.coalesce("d.n", z)).alias("n"),
        (
            F.coalesce("b.total_cents", z) + F.coalesce("d.total_cents", z)
        ).alias("total_cents"),
    )


@query(
    "event_transition_counts",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM {EVENTS_US} events)
    SELECT prev_type, event_type, count(*) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
)
def event_transition_counts(spark: SparkSession, sf: str) -> DataFrame:
    """First-order transition (Markov) matrix over each user's event
    sequence: counts of consecutive (prev -> next) event-type pairs —
    the input to funnel diagnostics and next-action models.  Ties on
    ts break by event_id so the sequence is deterministic.  Scale: one
    (user_id) window shuffle, then a k^2-cardinality aggregate (k =
    event types) that reduces map-side to almost nothing."""
    ev = t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_Z_BITS = 16  # bits per dimension in the Morton interleave


def _zorder_oracle() -> str:
    x = f"(o_custkey % {1 << _Z_BITS})"
    y = (
        f"(date_diff('day', DATE '1970-01-01', o_orderdate)"
        f" % {1 << _Z_BITS})"
    )
    terms = " + ".join(
        f"(({x} // {1 << k}) % 2) * {1 << (2 * k)}"
        f" + (({y} // {1 << k}) % 2) * {1 << (2 * k + 1)}"
        for k in range(_Z_BITS)
    )
    return f"""
    SELECT o_orderkey, CAST({terms} AS BIGINT) AS zorder
    FROM orders
    """


@query("zorder_cluster_orders", oracle=_zorder_oracle())
def zorder_cluster_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order (Morton) clustering key over (customer, order date) —
    the space-filling-curve layout op behind multi-column data
    skipping: sorting/range-partitioning files by this key keeps BOTH
    a customer predicate AND a date predicate effective against
    min/max file statistics, where a lexicographic sort serves only
    its leading column.  16 bits per dimension interleaved with pure
    integer shifts — bit-identical on both engines.  At 100 TB this
    key feeds write-time `repartitionByRange(zorder)` + sortWithin-
    Partitions; the query emits the key itself so the layout decision
    is oracle-checkable."""
    orders = t(spark, sf, "orders")
    x = (F.col("o_custkey") % (1 << _Z_BITS)).cast("long")
    y = (
        F.datediff("o_orderdate", F.lit("1970-01-01")) % (1 << _Z_BITS)
    ).cast("long")
    z = None
    for k in range(_Z_BITS):
        xb = F.shiftright(x, k).bitwiseAND(F.lit(1)) * (1 << (2 * k))
        yb = F.shiftright(y, k).bitwiseAND(F.lit(1)) * (1 << (2 * k + 1))
        z = xb + yb if z is None else z + xb + yb
    return orders.select("o_orderkey", z.cast("long").alias("zorder"))




_H_BITS = 8  # bits per dimension on the Hilbert curve (256x256 grid)


def _hilbert_step_exprs(s: int, n: int, idiv: str) -> dict[str, str]:
    """One xy2d step as portable SQL expressions over columns
    (x, y, d).  rx/ry are arithmetic bit tests ((v idiv s) % 2 — no
    bitwise ops, so no negative-operand semantics to cross-check),
    the quadrant increment is s*s*((3*rx) xor ry) with the xor
    rewritten as CASE (rx=0 -> ry, rx=1 -> 3-ry), and the rotation is
    the n-reflection variant (x' stays in [0, n) — never negative).
    One generated template serves both engines; ``idiv`` is the only
    token that differs (Spark `div`, DuckDB `//` — identical on the
    nonnegative domain, where truncation IS floor)."""
    rx = f"((x {idiv} {s}) % 2)"
    ry = f"((y {idiv} {s}) % 2)"
    quad = f"CASE WHEN {rx} = 0 THEN {ry} ELSE 3 - {ry} END"
    return {
        "d": f"d + {s * s} * ({quad})",
        "x": (
            f"CASE WHEN {ry} = 1 THEN x"
            f" WHEN {rx} = 1 THEN {n - 1} - y ELSE y END"
        ),
        "y": (
            f"CASE WHEN {ry} = 1 THEN y"
            f" WHEN {rx} = 1 THEN {n - 1} - x ELSE x END"
        ),
    }


def _hilbert_oracle() -> str:
    n = 1 << _H_BITS
    chain = [
        f"""h0 AS (
      SELECT o_orderkey,
             o_custkey % {n} AS x,
             date_diff('day', DATE '1970-01-01', o_orderdate) % {n} AS y,
             CAST(0 AS BIGINT) AS d
      FROM orders)"""
    ]
    for k in range(_H_BITS):
        e = _hilbert_step_exprs(1 << (_H_BITS - 1 - k), n, "//")
        chain.append(
            f"""h{k + 1} AS (
      SELECT o_orderkey, {e['x']} AS x, {e['y']} AS y, {e['d']} AS d
      FROM h{k})"""
        )
    return (
        "WITH "
        + ",\n".join(chain)
        + f"\n    SELECT o_orderkey, CAST(d AS BIGINT) AS hilbert"
        f" FROM h{_H_BITS}"
    )


@query("hilbert_cluster_orders", oracle=_hilbert_oracle())
def hilbert_cluster_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Hilbert-curve clustering key over (customer, order date) — the
    space-filling-curve layout op that modern lakehouse clustering
    (e.g. Delta liquid clustering) prefers over Z-order: the Hilbert
    curve visits grid neighbors consecutively (every d, d+1 pair is a
    grid-adjacent cell), so a range of keys covers a more compact 2-D
    region and min/max file skipping prunes tighter than Morton's
    quadrant jumps.  8 bits per dimension, the Wikipedia xy2d walk
    with the n-reflection rotation unrolled into 8 pure-arithmetic
    steps — no bitwise ops, no negatives, one generated expression
    template for both engines (only the integer-division token
    differs, and the domain is nonnegative where trunc == floor).
    Bijectivity and the neighbor-adjacency property are EXHAUSTIVELY
    verified on the full 256x256 grid (_H_BITS=8; every consecutive
    index pair checked grid-adjacent —
    tests/test_brute_force_analytics6.py).

    Scale: map-only (one scan, zero shuffles) — like
    zorder_cluster_orders this emits the key; at 100 TB it feeds
    write-time repartitionByRange(hilbert) + sortWithinPartitions."""
    n = 1 << _H_BITS
    orders = t(spark, sf, "orders")
    df = orders.select(
        "o_orderkey",
        (F.col("o_custkey") % n).alias("x"),
        (F.datediff("o_orderdate", F.lit("1970-01-01")) % n).alias("y"),
        F.lit(0).cast("long").alias("d"),
    )
    for k in range(_H_BITS):
        e = _hilbert_step_exprs(1 << (_H_BITS - 1 - k), n, "div")
        df = df.select(
            "o_orderkey",
            F.expr(e["x"]).alias("x"),
            F.expr(e["y"]).alias("y"),
            F.expr(e["d"]).alias("d"),
        )
    return df.select("o_orderkey", F.col("d").cast("long").alias("hilbert"))


@query(
    "variant_props_extract",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def variant_props_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured props through Spark 4's VARIANT type:
    parse_json once into a variant column, then typed variant_get
    extraction — the open-schema ingestion path that replaces
    per-field get_json_object re-parsing (json_extract_props in
    plans/relational.py is the string-path twin; this one parses each
    props value exactly once and serves any number of field reads
    from the binary variant encoding, which is the cost model that
    matters when props is a 2 KB blob with 40 fields, not '{"k": n}').
    Sums are BIGINT-pinned per ORACLE_PORTABILITY.md."""
    ev = t(spark, sf, "events")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "bigint")
    return ev.groupBy("event_type").agg(
        F.sum(k).cast("long").alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey,
             min(date_trunc('month', o_orderdate)) AS cohort_month
      FROM orders GROUP BY o_custkey)
    SELECT f.cohort_month,
           date_trunc('month', o.o_orderdate) AS order_month,
           count(*) AS n_orders
    FROM orders o JOIN firsts f USING (o_custkey)
    GROUP BY 1, 2
    """,
)
def retention_cohorts(spark: SparkSession, sf: str) -> DataFrame:
    """Retention cohort table: customers grouped by their first-order
    month, orders counted by (cohort month, order month) — the
    classic retention triangle.  Implemented with a per-customer
    window min instead of an aggregate+self-join, so the orders table
    is scanned and shuffled ONCE (on o_custkey) and the cohort label
    rides along to the final small aggregate."""
    orders = t(spark, sf, "orders")
    month = F.trunc("o_orderdate", "month")
    w = W.partitionBy("o_custkey")
    with_cohort = orders.select(
        month.alias("order_month"),
        F.min(month).over(w).alias("cohort_month"),
    )
    return with_cohort.groupBy("cohort_month", "order_month").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@query(
    "referential_integrity_audit",
    oracle="""
    SELECT 'orders_without_customer' AS relation,
           count(*) AS n_orphans
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem_without_order', count(*)
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'lineitem_without_part', count(*)
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM part p
                      WHERE p.p_partkey = l.l_partkey)
    """,
)
def referential_integrity_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Foreign-key orphan audit across the fact chain — the
    data-quality gate every warehouse load runs (a nonzero count
    means an ingest dropped parents or reordered commits).  Each
    check is a LEFT ANTI join that reduces to a count: the dimension
    side's KEY COLUMN ONLY is what shuffles/broadcasts, never the
    dimension row — at 100 TB the customer key set broadcasts where
    the full table cannot."""
    orders = t(spark, sf, "orders")
    customer = t(spark, sf, "customer")
    lineitem = t(spark, sf, "lineitem")
    part = t(spark, sf, "part")

    def orphans(fact, fk, dim, pk, name):
        n = (
            fact.join(
                dim.select(F.col(pk).alias(fk)).distinct(),
                fk,
                "left_anti",
            )
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(F.lit(name).alias("relation"), "n_orphans")
        )
        return n

    return (
        orphans(orders, "o_custkey", customer, "c_custkey",
                "orders_without_customer")
        .unionByName(
            orphans(lineitem, "l_orderkey", orders, "o_orderkey",
                    "lineitem_without_order")
        )
        .unionByName(
            orphans(lineitem, "l_partkey", part, "p_partkey",
                    "lineitem_without_part")
        )
    )


@query(
    "table_diff_cdc",
    oracle="""
    WITH v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.1
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 11 <> 0
      UNION ALL
      SELECT o_orderkey + 1000000000, 100.0 FROM orders
      WHERE o_orderkey % 13 = 0)
    SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN a.o_orderkey IS NULL THEN 'I'
                WHEN b.o_orderkey IS NULL THEN 'D'
                ELSE 'U' END AS op
    FROM orders a FULL OUTER JOIN v2 b USING (o_orderkey)
    WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
       OR a.o_totalprice <> b.o_totalprice
    """,
)
def table_diff_cdc(spark: SparkSession, sf: str) -> DataFrame:
    """Change-data-feed generation by diffing two table versions —
    what a lake without a transaction log does to feed downstream
    CDC consumers.  Version 2 is synthesized deterministically
    (drop keys %11, reprice keys %7, insert new keys from %13) so the
    oracle replays it; the diff itself is one FULL OUTER join on the
    key classifying Insert / Update / Delete, with unchanged rows
    (the overwhelming majority at 100 TB) filtered before anything
    leaves the join — the emitted feed is O(changes), not O(table).
    With both versions bucketed on the key the join needs no
    exchange at all."""
    # persisted: v2's two synthesis branches and the v1 join side all
    # read this 2-column projection — one orders scan instead of three
    orders = (
        t(spark, sf, "orders")
        .select("o_orderkey", "o_totalprice")
        .persist()
    )
    v2 = (
        orders.filter(F.col("o_orderkey") % 11 != 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") * 1.1
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 13 == 0).select(
                (F.col("o_orderkey") + 1_000_000_000).alias("o_orderkey"),
                F.lit(100.0).alias("o_totalprice"),
            )
        )
    )
    a = orders.select(
        F.col("o_orderkey").alias("ka"), F.col("o_totalprice").alias("pa")
    )
    b = v2.select(
        F.col("o_orderkey").alias("kb"), F.col("o_totalprice").alias("pb")
    )
    diff = a.join(b, a.ka == b.kb, "full_outer").filter(
        F.col("ka").isNull()
        | F.col("kb").isNull()
        | (F.col("pa") != F.col("pb"))
    )
    op = (
        F.when(F.col("ka").isNull(), "I")
        .when(F.col("kb").isNull(), "D")
        .otherwise("U")
    )
    return diff.select(
        F.coalesce("ka", "kb").alias("o_orderkey"), op.alias("op")
    )


_RATE_TRAIL = 24  # trailing buckets in the rate baseline


@query(
    "event_rate_deviation",
    oracle=f"""
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo,
             date_trunc('hour', max(ts)) AS hi
      FROM {EVENTS_US} events),
    grid AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS wstart
      FROM bounds),
    types AS (SELECT DISTINCT event_type FROM events),
    counts AS (
      SELECT date_trunc('hour', ts) AS wstart, event_type, count(*) AS n
      FROM {EVENTS_US} events GROUP BY 1, 2),
    filled AS (
      SELECT g.wstart, ty.event_type, coalesce(c.n, 0) AS n
      FROM grid g CROSS JOIN types ty
      LEFT JOIN counts c
        ON c.wstart = g.wstart AND c.event_type = ty.event_type)
    SELECT wstart, event_type, n,
           CAST(floor((n - CAST(sum(n) OVER w AS BIGINT)
                           / CAST(count(*) OVER w AS DOUBLE)) * 1e6)
                AS BIGINT) AS dev_e6
    FROM filled
    WINDOW w AS (PARTITION BY event_type ORDER BY wstart
                 ROWS BETWEEN {_RATE_TRAIL} PRECEDING AND 1 PRECEDING)
    QUALIFY count(*) OVER w = {_RATE_TRAIL}
    """,
)
def event_rate_deviation(spark: SparkSession, sf: str) -> DataFrame:
    """Event-rate anomaly signal: each hourly bucket's deviation from
    its own trailing-24h mean, computed over the GAP-FILLED series
    (a silent hour must read as rate 0, not as a missing row — which
    is why this composes time_bucket_gapfill rather than the raw
    aggregate).  Buckets without a full 24-bucket trailing baseline
    are excluded, so the result is deterministic from the first
    complete window.  The mean is BIGINT-sum / DOUBLE-count in the
    same operation order on both engines; the deviation ships in 1e-6
    ticks.  Scale: one corpus aggregate, then windows over the tiny
    (buckets × types) grid."""
    ev = t(spark, sf, "events")
    # the grid bounds and the type set both derive EXACTLY from the
    # hourly count table: date_trunc is monotone so min/max(wstart)
    # == trunc(min/max(ts)), and every event type appears in at least
    # one bucket — one persisted (buckets × types)-bounded aggregate
    # replaces three raw-event scans
    counts = (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("wstart"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    bounds = counts.agg(
        F.min("wstart").alias("lo"), F.max("wstart").alias("hi")
    )
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias(
            "wstart"
        )
    )
    types = counts.select("event_type").distinct()
    filled = (
        grid.crossJoin(types)
        .join(F.broadcast(counts), ["wstart", "event_type"], "left")
        .select("wstart", "event_type", F.coalesce("n", F.lit(0)).alias("n"))
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("wstart")
        .rowsBetween(-_RATE_TRAIL, -1)
    )
    trail_n = F.count(F.lit(1)).over(w)
    mean = F.sum("n").over(w).cast("long") / trail_n.cast("double")
    return (
        filled.withColumn("trail", trail_n)
        .withColumn(
            "dev_e6",
            F.floor((F.col("n") - mean) * 1e6).cast("long"),
        )
        .filter(F.col("trail") == _RATE_TRAIL)
        .select("wstart", "event_type", "n", "dev_e6")
    )


@query(
    "pagerank_event_types",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM {EVENTS_US} events),
    edges AS MATERIALIZED (
      SELECT prev_type AS src, event_type AS dst, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
    outdeg AS (SELECT src, CAST(sum(n) AS BIGINT) AS outn
               FROM edges GROUP BY src),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges
              UNION SELECT DISTINCT dst FROM edges),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS nnodes FROM nodes),
    w AS (SELECT src, dst,
                 CAST(n AS DOUBLE) / CAST(outn AS DOUBLE) AS wt
          FROM edges JOIN outdeg USING (src)),
    it0 AS (SELECT node, 1.0 / nnodes AS pr FROM nodes CROSS JOIN nn),
    it1 AS (
      SELECT node, 0.15 / nnodes + 0.85 * coalesce(s, 0.0) AS pr
      FROM nodes CROSS JOIN nn
      LEFT JOIN (SELECT dst, sum(pr * wt) AS s
                 FROM w JOIN it0 ON it0.node = w.src
                 GROUP BY dst) c ON c.dst = node),
    it2 AS (
      SELECT node, 0.15 / nnodes + 0.85 * coalesce(s, 0.0) AS pr
      FROM nodes CROSS JOIN nn
      LEFT JOIN (SELECT dst, sum(pr * wt) AS s
                 FROM w JOIN it1 ON it1.node = w.src
                 GROUP BY dst) c ON c.dst = node),
    it3 AS (
      SELECT node, 0.15 / nnodes + 0.85 * coalesce(s, 0.0) AS pr
      FROM nodes CROSS JOIN nn
      LEFT JOIN (SELECT dst, sum(pr * wt) AS s
                 FROM w JOIN it2 ON it2.node = w.src
                 GROUP BY dst) c ON c.dst = node)
    SELECT node AS event_type, round(pr, 6) AS pagerank FROM it3
    """,
)
def pagerank_event_types(spark: SparkSession, sf: str) -> DataFrame:
    """PageRank (damping 0.85, 3 fixed iterations, uniform init) over
    the event-type transition graph — the iterative-graph-algorithm
    pattern on Spark: aggregate the raw stream down to a weighted edge
    list ONCE, then iterate joins on the tiny aggregated graph, never
    on the data.  Nodes are event types (bounded categorical set), so
    each iteration is a k²-edge join; at 100 TB the only full-data
    work is the single window+aggregate that builds `edges` — identical
    shape to event_transition_counts.  Per-node inbound sums have ≤ k
    terms of magnitude ≤ 1, so the 6dp round sits far above any
    accumulation-order noise.  Oracle = the same three iterations as
    chained CTEs (fixed iteration count keeps it SQL-expressible)."""
    ev = t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    edges = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("src"), F.col("event_type").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    outdeg = edges.groupBy("src").agg(F.sum("n").cast("long").alias("outn"))
    wts = edges.join(outdeg, "src").select(
        "src",
        "dst",
        (F.col("n").cast("double") / F.col("outn").cast("double")).alias(
            "wt"
        ),
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select("dst"))
        .distinct()
    )
    nn = nodes.agg(F.count(F.lit(1)).cast("double").alias("nnodes"))
    pr = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("nnodes")).alias("pr")
    )
    for _ in range(3):
        contrib = (
            wts.join(pr, wts.src == pr.node)
            .groupBy("dst")
            .agg(F.sum(F.col("pr") * F.col("wt")).alias("s"))
        )
        pr = (
            nodes.crossJoin(F.broadcast(nn))
            .join(contrib, F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                (
                    F.lit(0.15) / F.col("nnodes")
                    + F.lit(0.85) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("pr"),
            )
        )
    return pr.select(
        F.col("node").alias("event_type"), F.round("pr", 6).alias("pagerank")
    )


@query(
    "event_robust_outliers",
    oracle="""
    WITH c AS (
      SELECT event_id, event_type, value,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY cents, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM c),
    st AS (
      SELECT event_type,
             max(CASE WHEN rn = CAST(ceil(50 * n / 100.0) AS BIGINT)
                      THEN cents END) AS med_c,
             max(CASE WHEN rn = CAST(ceil(1 * n / 100.0) AS BIGINT)
                      THEN cents END) AS p01_c,
             max(CASE WHEN rn = CAST(ceil(99 * n / 100.0) AS BIGINT)
                      THEN cents END) AS p99_c
      FROM r GROUP BY event_type),
    d AS (
      SELECT c.event_type, abs(c.cents - st.med_c) AS dev,
             c.event_id
      FROM c JOIN st USING (event_type)),
    dr AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY dev, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM d),
    md AS (
      SELECT event_type,
             max(CASE WHEN rn = CAST(ceil(50 * n / 100.0) AS BIGINT)
                      THEN dev END) AS mad_c
      FROM dr GROUP BY event_type)
    SELECT c.event_id, c.event_type, c.value,
           CAST(floor(CAST(0.6745 AS DOUBLE) * (c.cents - st.med_c)
                      / nullif(md.mad_c, 0) * 1e4 + 0.5) AS BIGINT)
             AS robust_z_e4,
           coalesce(abs(floor(CAST(0.6745 AS DOUBLE)
                              * (c.cents - st.med_c)
                              / nullif(md.mad_c, 0) * 1e4 + 0.5)) > 35000,
                    FALSE)
             AS is_outlier,
           round(least(greatest(c.cents, st.p01_c), st.p99_c) / 100.0, 4)
             AS value_winsor
    FROM c JOIN st USING (event_type) JOIN md USING (event_type)
    """,
)
def event_robust_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Robust (median/MAD) outlier detection + winsorization of
    events.value per event type: robust_z = 0.6745 (value - median) /
    MAD, flagged beyond |3.5| (Iglewicz-Hoskin rule), and the value
    clamped to [p1, p99].  All percentiles are NEAREST-RANK selections
    over exact CENTS — round 4's full-registry 10x sweep caught the
    interpolating formulation (Spark percentile vs DuckDB
    quantile_cont) drifting one ulp apart at 1M rows and flipping the
    4dp round; with integer inputs the z chain is one identical IEEE
    sequence on both engines at any scale.  Scale: two grouped
    rank-selection passes over a bounded type set (GK-sketch approx
    percentiles are the drop-in at 100 TB — see approx_quantiles),
    then a broadcast join back; the event stream itself is never
    shuffled."""
    ev = t(spark, sf, "events")
    # persisted: the percentile pass, the MAD deviation build, and
    # the final scoring join all read this narrow projection — one
    # events scan instead of three
    c = ev.select(
        "event_id",
        "event_type",
        "value",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).persist()

    def _rank_pick(df: DataFrame, col: str, qs: dict) -> DataFrame:
        w = W.partitionBy("event_type").orderBy(col, "event_id")
        wc = W.partitionBy("event_type")
        r = df.select(
            "event_type",
            col,
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("n"),
        )
        return r.groupBy("event_type").agg(
            *[
                F.max(
                    F.when(
                        # integer-percent form: pct*n is an exact int
                        # and /100.0 is exact whenever the quotient is
                        # an integer — ceil(0.01*n) would evaluate the
                        # INEXACT double 0.01 here while DuckDB's bare
                        # decimal literal is exact DECIMAL arithmetic
                        F.col("rn")
                        == F.ceil(F.lit(q) * F.col("n") / 100.0).cast(
                            "long"
                        ),
                        F.col(col),
                    )
                ).alias(alias)
                for alias, q in qs.items()
            ]
        )

    st = _rank_pick(
        c, "cents", {"med_c": 50, "p01_c": 1, "p99_c": 99}
    )
    d = c.join(F.broadcast(st), "event_type").select(
        "event_type",
        "event_id",
        F.abs(F.col("cents") - F.col("med_c")).alias("dev"),
    )
    md = _rank_pick(d, "dev", {"mad_c": 50})
    # floor(x*1e4 + 0.5) NOT round(x, 4): Spark's round() goes through
    # the double's shortest DECIMAL string (BigDecimal HALF_UP) while
    # DuckDB scales and rounds the binary double — on decimal-looking
    # ties (rational cents ratios produce them) the two legitimately
    # differ in the last tick.  floor on the identical double is
    # bit-deterministic.  Caught by the 10x full-registry sweep.
    z_e4 = F.floor(
        F.lit(0.6745)
        * (F.col("cents") - F.col("med_c"))
        / F.nullif(F.col("mad_c"), F.lit(0))
        * 1e4
        + 0.5
    ).cast("long")
    return (
        c.join(F.broadcast(st), "event_type")
        .join(F.broadcast(md), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            z_e4.alias("robust_z_e4"),
            F.coalesce(F.abs(z_e4) > 35000, F.lit(False)).alias(
                "is_outlier"
            ),
            F.round(
                F.least(
                    F.greatest(F.col("cents"), F.col("p01_c")),
                    F.col("p99_c"),
                )
                / 100.0,
                4,
            ).alias("value_winsor"),
        )
    )


# ---------------------------------------------------------------------------
# Statistical profiling, round 4
# ---------------------------------------------------------------------------

# (name, integer-pinning SQL expr, Spark column builder) for the corr
# matrix: Pearson r is scale-invariant, so each column is pinned to the
# coarsest integer unit whose squared sum stays far inside int64 at
# sf10+ (extendedprice in DOLLARS: cents² would overflow at sf0.1).
_CORR_COLS = (
    ("quantity", "CAST(round(l_quantity) AS BIGINT)"),
    ("price_usd", "CAST(round(l_extendedprice) AS BIGINT)"),
    ("discount_c", "CAST(round(l_discount * 100) AS BIGINT)"),
    ("tax_c", "CAST(round(l_tax * 100) AS BIGINT)"),
)


def _corr_oracle() -> str:
    cols = ", ".join(f"{e} AS {n}" for n, e in _CORR_COLS)
    sums = ["CAST(count(*) AS BIGINT) AS n"]
    for n, _ in _CORR_COLS:
        sums.append(f"CAST(sum({n}) AS BIGINT) AS s_{n}")
        sums.append(f"CAST(sum({n} * {n}) AS BIGINT) AS ss_{n}")
    pairs = [
        (a, b)
        for i, (a, _) in enumerate(_CORR_COLS)
        for b, _ in [p for p in _CORR_COLS[i + 1:]]
    ]
    for a, b in pairs:
        sums.append(f"CAST(sum({a} * {b}) AS BIGINT) AS sp_{a}_{b}")
    # mean form in doubles (n·Σx² overflows int64 for dollar-scaled
    # sums); every term is the identical IEEE op chain on identical
    # integers in both engines, so the result double is bit-equal
    def cov(a: str, b: str) -> str:
        return (
            f"(CAST(sp_{a}_{b} AS DOUBLE) / n"
            f" - (CAST(s_{a} AS DOUBLE) / n) * (CAST(s_{b} AS DOUBLE) / n))"
        )

    def var(a: str) -> str:
        return (
            f"(CAST(ss_{a} AS DOUBLE) / n"
            f" - (CAST(s_{a} AS DOUBLE) / n) * (CAST(s_{a} AS DOUBLE) / n))"
        )

    rows = "\n      UNION ALL\n".join(
        f"""      SELECT '{a}' AS col_x, '{b}' AS col_y, n,
             CAST(floor(
               {cov(a, b)} / (sqrt({var(a)}) * sqrt({var(b)}))
               * 1e6) AS BIGINT) AS corr_e6
      FROM stats"""
        for a, b in pairs
    )
    return f"""
    WITH pinned AS (SELECT {cols} FROM lineitem),
    stats AS (SELECT {", ".join(sums)} FROM pinned)
{rows}
    """


@query("lineitem_corr_matrix", oracle=_corr_oracle())
def lineitem_corr_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over lineitem's numeric
    measures, computed from EXACT INTEGER sufficient statistics
    (n, Σx, Σx², Σxy on unit-pinned values) so partial-aggregate merge
    order is unobservable — the built-in corr() aggregate merges
    doubles and is NOT reproducible across engines.  The final r is
    one identical chain of IEEE ops on identical integers, so even the
    1e-6-tick floor is safe.  Scale: ONE pass, one 1-row aggregate
    (4 + 4 + 6 sums), map-side combinable; the 6 output rows are
    driver-free selects off the broadcast stats row — the textbook
    shape for computing a d² correlation matrix over 100 TB when d is
    small."""
    li = t(spark, sf, "lineitem")
    pinned = li.select(
        *[F.expr(e).alias(n) for n, e in _CORR_COLS]
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    names = [n for n, _ in _CORR_COLS]
    for n in names:
        aggs.append(F.sum(F.col(n)).cast("long").alias(f"s_{n}"))
        aggs.append(
            F.sum(F.col(n) * F.col(n)).cast("long").alias(f"ss_{n}")
        )
    pairs = [
        (a, b) for i, a in enumerate(names) for b in names[i + 1:]
    ]
    for a, b in pairs:
        aggs.append(
            F.sum(F.col(a) * F.col(b)).cast("long").alias(f"sp_{a}_{b}")
        )
    stats = pinned.agg(*aggs)

    # ONE aggregation, then explode a 6-row pair dimension over the
    # single stats row — a union of 6 per-pair selects would make
    # Catalyst prune each branch's aggregate independently and scan
    # lineitem SIX times (observed in the physical plan)
    exploded = stats.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("col_x"), F.lit(b).alias("col_y")
                    )
                    for a, b in pairs
                ]
            )
        ).alias("p"),
        "*",
    )

    def _pick(fmt: str, key) -> F.Column:
        expr = None
        for n in names:
            c = F.when(key == n, F.col(fmt.format(n)))
            expr = c if expr is None else expr.when(
                key == n, F.col(fmt.format(n))
            )
        return expr

    def _pick_sp() -> F.Column:
        expr = None
        for a, b in pairs:
            cond = (F.col("p.col_x") == a) & (F.col("p.col_y") == b)
            c = F.when(cond, F.col(f"sp_{a}_{b}"))
            expr = c if expr is None else expr.when(
                cond, F.col(f"sp_{a}_{b}")
            )
        return expr

    def _mean(col: F.Column):
        return col.cast("double") / F.col("n")

    def _var(key) -> F.Column:
        m = _mean(_pick("s_{}", key))
        return _mean(_pick("ss_{}", key)) - m * m

    cov = _mean(_pick_sp()) - _mean(
        _pick("s_{}", F.col("p.col_x"))
    ) * _mean(_pick("s_{}", F.col("p.col_y")))
    den = F.sqrt(_var(F.col("p.col_x"))) * F.sqrt(_var(F.col("p.col_y")))
    return exploded.select(
        F.col("p.col_x").alias("col_x"),
        F.col("p.col_y").alias("col_y"),
        "n",
        F.floor(cov / den * 1e6).cast("long").alias("corr_e6"),
    )


_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


def _profile_oracle() -> str:
    rows = "\n    UNION ALL\n".join(
        f"""    SELECT '{c}' AS col,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct
    FROM orders"""
        for c in _PROFILE_COLS
    )
    return f"\n{rows}\n"


@query("table_profile_orders", oracle=_profile_oracle())
def table_profile_orders(spark: SparkSession, sf: str) -> DataFrame:
    """ANALYZE-TABLE-style column profile of orders: per column, row
    count, null count, and exact distinct count — the stats pass every
    lake maintenance loop runs to drive partition/bucket decisions and
    catch schema drift (a column whose null rate jumps is the classic
    silent upstream break).  Counts only (no min/max) so the output is
    pure BIGINT — cross-engine double/date FORMATTING never enters the
    hash.  Scale: one aggregate per column over a column-pruned scan;
    at 100 TB you'd swap exact count(DISTINCT) for approx_count_
    distinct (the approximate twin is already covered by
    approx_count_distinct) — here it is exact so the oracle can be
    too."""
    orders = t(spark, sf, "orders")
    # ONE aggregation row carrying all per-column stats (a union of
    # per-column aggregates would scan orders once per column); the
    # 6-row output explodes off that single row.  Multiple distinct
    # aggregates cost one Expand (x6 rows pre-combine), still one scan.
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs.append(F.count(c).cast("long").alias(f"cnt_{c}"))
        aggs.append(F.countDistinct(c).cast("long").alias(f"nd_{c}"))
    stats = orders.agg(*aggs)
    exploded = stats.select(
        F.explode(
            F.array(*[F.lit(c) for c in _PROFILE_COLS])
        ).alias("col"),
        "*",
    )

    def _pick(fmt: str) -> F.Column:
        expr = None
        for c in _PROFILE_COLS:
            w = F.when(F.col("col") == c, F.col(fmt.format(c)))
            expr = w if expr is None else expr.when(
                F.col("col") == c, F.col(fmt.format(c))
            )
        return expr

    return exploded.select(
        "col",
        "n_rows",
        (F.col("n_rows") - _pick("cnt_{}")).alias("n_nulls"),
        _pick("nd_{}").alias("n_distinct"),
    )


_QUANTILES = (50, 90, 99)  # percent


@query(
    "event_value_quantiles_exact",
    oracle=f"""
    WITH ranked AS (
      SELECT event_type, value, event_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events),
    wanted AS (
      SELECT event_type, value, rn, n, q
      FROM ranked, unnest([{", ".join(str(q) for q in _QUANTILES)}]) AS u(q)
      WHERE rn = CAST(ceil(q * n / 100.0) AS BIGINT))
    SELECT event_type, CAST(q AS BIGINT) AS pct, value AS val
    FROM wanted
    """,
)
def event_value_quantiles_exact(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT per-group percentiles by rank selection: the p-th
    percentile is the value at row ceil(p·n/100) in (value, event_id)
    order — the nearest-rank definition, which selects an ACTUAL data
    value instead of interpolating, so the result is engine-portable
    (Spark's percentile() and DuckDB's quantile_cont interpolate
    differently and merge doubles).  Complements the approximate
    family (approx_quantiles) with a hash-grade ground truth.

    Scale (r06, window-funnel lint): the per-type rank no longer runs
    one full-stream window per event_type.  Values are binned into
    fixed quarter-unit ranges; per-(type, bin) counts feed a window
    over the tiny bin table only (rank base + per-type total), the
    <=3 boundary bins per type are found IN that table, and the
    per-row rank window runs ONLY over the boundary bins' rows —
    the equal_freq_bucket boundary-selection discipline, emitting
    the exact nearest-rank tuple per (type, percentile)."""
    ev = t(spark, sf, "events").select(
        "event_type",
        "value",
        "event_id",
        F.floor(F.col("value") * 4).cast("long").alias("bin"),
    )
    bcnt = ev.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wb = W.partitionBy("event_type").orderBy("bin").rowsBetween(
        W.unboundedPreceding, -1
    )
    bbase = bcnt.select(
        "event_type",
        "bin",
        F.coalesce(F.sum("cnt").over(wb), F.lit(0))
        .cast("long")
        .alias("base"),
        "cnt",
        F.sum("cnt")
        .over(W.partitionBy("event_type"))
        .cast("long")
        .alias("n"),
    )
    targets = bbase.select(
        "event_type",
        "bin",
        "base",
        F.explode(F.array(*[F.lit(q) for q in _QUANTILES])).alias("q"),
        F.expr("ceil(q * n / 100.0)").cast("long").alias("brank"),
    ).filter(
        (F.col("base") < F.col("brank"))
        & (F.col("brank") <= F.col("base") + F.col("cnt"))
    )
    wl = W.partitionBy("event_type", "bin", "q").orderBy(
        "value", "event_id"
    )
    return (
        ev.join(F.broadcast(targets), ["event_type", "bin"])
        .withColumn("rn", F.col("base") + F.row_number().over(wl))
        .filter(F.col("rn") == F.col("brank"))
        .select(
            "event_type",
            F.col("q").cast("long").alias("pct"),
            F.col("value").alias("val"),
        )
    )


_DECILES = 10


@query(
    "price_decile_assign",
    oracle=f"""
    WITH ranked AS (
      SELECT o_totalprice, o_orderkey,
             row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
             count(*) OVER () AS n
      FROM orders),
    bounds AS (
      SELECT o_totalprice AS ub, o_orderkey AS ub_key
      FROM ranked, unnest(range(1, {_DECILES})) AS u(d)
      WHERE rn = CAST(ceil(d * n / {_DECILES}.0) AS BIGINT))
    SELECT o.o_orderkey,
           CAST(1 + sum(CASE WHEN b.ub < o.o_totalprice
                              OR (b.ub = o.o_totalprice
                                  AND b.ub_key < o.o_orderkey)
                             THEN 1 ELSE 0 END) AS BIGINT) AS decile
    FROM orders o CROSS JOIN bounds b
    GROUP BY o.o_orderkey
    """,
)
def price_decile_assign(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-depth (decile) bucket assignment WITHOUT ntile's global
    sort: the 9 interior boundary TUPLES (price, orderkey at rank
    ceil(d·n/10)) are selected by exact nearest rank, collapsed into
    one broadcast array, and each order's decile is 1 + the number of
    boundaries lexicographically below its own tuple — a map-only
    array scan per row, totally ordered (the orderkey tiebreak makes
    assignment deterministic even inside value ties).  This is the
    scale shape for quantile discretization of a 100 TB column:
    ntile() funnels the table through ONE partition; here only the
    9-row boundary selection uses a window (over orders — swap in the
    bucketed two-phase cumsum at extreme n) and the assignment pass
    has no shuffle at all."""
    orders = t(spark, sf, "orders")
    w = W.orderBy("o_totalprice", "o_orderkey")
    ranked = orders.select(
        "o_totalprice",
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        ).alias("n"),
    )
    ds = F.explode(
        F.array(*[F.lit(d) for d in range(1, _DECILES)])
    ).alias("d")
    barr = (
        ranked.select("o_totalprice", "o_orderkey", "rn", "n", ds)
        .filter(
            F.col("rn")
            == F.ceil(F.col("d") * F.col("n") / float(_DECILES)).cast(
                "long"
            )
        )
        .agg(
            F.collect_list(
                F.struct(
                    F.col("o_totalprice").alias("ub"),
                    F.col("o_orderkey").alias("ub_key"),
                )
            ).alias("bs")
        )
    )
    below = F.size(
        F.filter(
            F.col("bs"),
            lambda b: (b["ub"] < F.col("o_totalprice"))
            | (
                (b["ub"] == F.col("o_totalprice"))
                & (b["ub_key"] < F.col("o_orderkey"))
            ),
        )
    )
    return (
        orders.select("o_orderkey", "o_totalprice")
        .crossJoin(F.broadcast(barr))
        .select(
            "o_orderkey", (below + 1).cast("long").alias("decile")
        )
    )


@query(
    "time_bucket_interpolate",
    oracle=f"""
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo,
             date_trunc('hour', max(ts)) AS hi
      FROM {EVENTS_US} events),
    grid AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS wstart
      FROM bounds),
    types AS (SELECT DISTINCT event_type FROM events),
    buckets AS (
      SELECT date_trunc('hour', ts) AS wstart, event_type,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents,
             CAST(count(*) AS BIGINT) AS n
      FROM {EVENTS_US} events GROUP BY 1, 2),
    g AS (
      SELECT gr.wstart, ty.event_type,
             epoch(gr.wstart) // 3600 AS hpos,
             b.cents, b.n
      FROM grid gr CROSS JOIN types ty
      LEFT JOIN buckets b
        ON b.wstart = gr.wstart AND b.event_type = ty.event_type),
    nb AS (
      SELECT *,
             last_value(CASE WHEN n IS NOT NULL THEN cents END
                        IGNORE NULLS) OVER wp AS pc,
             last_value(CASE WHEN n IS NOT NULL THEN n END
                        IGNORE NULLS) OVER wp AS pn,
             last_value(CASE WHEN n IS NOT NULL THEN hpos END
                        IGNORE NULLS) OVER wp AS pp,
             first_value(CASE WHEN n IS NOT NULL THEN cents END
                         IGNORE NULLS) OVER wf AS nc,
             first_value(CASE WHEN n IS NOT NULL THEN n END
                         IGNORE NULLS) OVER wf AS nn,
             first_value(CASE WHEN n IS NOT NULL THEN hpos END
                         IGNORE NULLS) OVER wf AS np
      FROM g
      WINDOW
        wp AS (PARTITION BY event_type ORDER BY hpos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wf AS (PARTITION BY event_type ORDER BY hpos
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT wstart, event_type,
           CAST(coalesce(n, 0) AS BIGINT) AS n,
           CAST(floor(CASE
             WHEN n IS NOT NULL THEN (CAST(cents AS DOUBLE) / n) * 100
             WHEN pp IS NOT NULL AND np IS NOT NULL THEN
               ((CAST(pc AS DOUBLE) / pn)
                + ((CAST(nc AS DOUBLE) / nn) - (CAST(pc AS DOUBLE) / pn))
                  * (hpos - pp) / (np - pp)) * 100
             WHEN pp IS NOT NULL THEN (CAST(pc AS DOUBLE) / pn) * 100
             WHEN np IS NOT NULL THEN (CAST(nc AS DOUBLE) / nn) * 100
             ELSE 0 END) AS BIGINT) AS avg_interp_e4
    FROM nb
    """,
)
def time_bucket_interpolate(spark: SparkSession, sf: str) -> DataFrame:
    """Timeseries gap INTERPOLATION (the hypertable `interpolate()` /
    `locf()` op): hourly per-type average event value, with empty
    buckets filled by linear interpolation between the nearest
    observed buckets (carry-forward / carry-back at the series
    edges).  All inputs to the interpolation are exact integers
    (cents sums, counts, hour positions), and both engines run the
    identical IEEE chain on them, so even the 1e-4-tick cast is
    bit-stable.  Scale: same shape as time_bucket_gapfill — one
    corpus-sized aggregate, then windows over the (time-range x
    types) GRID, which is metadata-sized (a year of hours x 1000
    types < 9M rows) regardless of event volume; the forward/backward
    IGNORE NULLS frames are each one pass over that grid."""
    ev = t(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    # same derivation as time_bucket_gapfill: bounds and types come
    # from the persisted bucket table, one raw-event scan total
    buckets = (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("wstart"), "event_type"
        )
        .agg(F.sum(cents).alias("cents"), F.count(F.lit(1)).alias("n"))
        .persist()
    )
    bounds = buckets.agg(
        F.min("wstart").alias("lo"), F.max("wstart").alias("hi")
    )
    grid = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("wstart")
    )
    types = buckets.select("event_type").distinct()
    g = (
        grid.crossJoin(types)
        .join(F.broadcast(buckets), ["wstart", "event_type"], "left")
        .withColumn(
            "hpos", (F.unix_timestamp("wstart") / 3600).cast("long")
        )
    )
    present = F.col("n").isNotNull()
    wp = (
        W.partitionBy("event_type")
        .orderBy("hpos")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wf = (
        W.partitionBy("event_type")
        .orderBy("hpos")
        .rowsBetween(0, W.unboundedFollowing)
    )
    nb = (
        g.withColumn(
            "pc", F.last(F.when(present, F.col("cents")), True).over(wp)
        )
        .withColumn(
            "pn", F.last(F.when(present, F.col("n")), True).over(wp)
        )
        .withColumn(
            "pp", F.last(F.when(present, F.col("hpos")), True).over(wp)
        )
        .withColumn(
            "nc", F.first(F.when(present, F.col("cents")), True).over(wf)
        )
        .withColumn(
            "nn", F.first(F.when(present, F.col("n")), True).over(wf)
        )
        .withColumn(
            "np", F.first(F.when(present, F.col("hpos")), True).over(wf)
        )
    )
    pavg = F.col("pc").cast("double") / F.col("pn")
    navg = F.col("nc").cast("double") / F.col("nn")
    interp = (
        F.when(present, F.col("cents").cast("double") / F.col("n"))
        .when(
            F.col("pp").isNotNull() & F.col("np").isNotNull(),
            pavg
            + (navg - pavg)
            * (F.col("hpos") - F.col("pp"))
            / (F.col("np") - F.col("pp")),
        )
        .when(F.col("pp").isNotNull(), pavg)
        .when(F.col("np").isNotNull(), navg)
        .otherwise(F.lit(0.0))
    )
    return nb.select(
        "wstart",
        "event_type",
        F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        F.floor(interp * 100).cast("long").alias("avg_interp_e4"),
    )
