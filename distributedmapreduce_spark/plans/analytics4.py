"""Round-6 analytics battery #4: mergeable quantile sketches, sketch
set-algebra, item-item collaborative filtering, storage compaction
planning, and rank fusion.

Same portability discipline as the earlier batteries: money is BIGINT
cents, every published ratio is an integer tick division, hashes are
the shared md5-u32 primitive (identical in DuckDB via _md5_u32_sql),
and no float enters a published column.  Reference parity note: the
reference engine (ParitoshSabade/DistributedMapReduce) exposes only
map/reduce word-count-style jobs (mapper_word_count.py:11-35); these
queries are the extension surface SURVEY.md §2.2 declares for a
training-data / analytics deployment at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.simjoin import pair_sides
from .core import EVENTS_US, query, t

_DD_QS = (50, 90, 99)
_KMVI_K = 32
_TWO32 = 4_294_967_296


@query(
    "ddsketch_pow2_quantiles",
    oracle=f"""
    WITH c AS (
      SELECT length(bin(CAST(round(o_totalprice * 100) AS BIGINT)))
               AS bkt,
             CAST(count(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1),
    cum AS (
      SELECT bkt, CAST(sum(cnt) OVER (ORDER BY bkt
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
      FROM c),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c),
    qs AS (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS q_pct),
    r AS (SELECT q_pct, n, (q_pct * n + 99) // 100 AS rk
          FROM qs CROSS JOIN tot),
    sel AS (
      SELECT r.q_pct, r.n, r.rk, min(cum.bkt) AS bucket
      FROM r JOIN cum ON cum.cum >= r.rk GROUP BY 1, 2, 3)
    SELECT q_pct, n, CAST(rk AS BIGINT) AS rank_1based,
           CAST(bucket AS BIGINT) AS bucket,
           CAST(1::BIGINT << (bucket - 1) AS BIGINT) AS lo_cents,
           CAST((1::BIGINT << bucket) - 1 AS BIGINT) AS hi_cents,
           CAST(((1::BIGINT << (bucket - 1))
                 + (1::BIGINT << bucket) - 1) // 2 AS BIGINT)
             AS est_mid_cents
    FROM sel
    """,
)
def ddsketch_pow2_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable log-bucket quantile sketch (a base-2 DDSketch): each
    order total collapses to its cents bit-length, the per-bucket
    histogram IS the sketch (union = bucket-wise add — the mergeable
    property), and a quantile readout walks the cumulative bucket
    counts to the bucket holding the target rank.  gamma = 2 gives a
    guaranteed relative error <= 2x: the true q-quantile provably lies
    in [2^(b-1), 2^b - 1] (the published lo/hi bounds — the
    hypothesis brute-force property checks exactly this containment
    against a naive Python quantile).  Everything is int64: bucket
    ids <= 41 for any cents value, shifts stay in range, rank uses
    ceil(q*n/100) in pure integer arithmetic.

    Scale: ONE orders scan reduces to <= 41 (bucket, count) rows — a
    map-side-combinable aggregate whose state is O(log(max_value))
    per partition regardless of corpus size; the cumulative walk and
    the 3-row quantile panel join are driver-trivial.  This is the
    quantile structure a 100 TB engine maintains per column where
    percentile_approx's GK sketch is not externally checkable; a
    production deployment narrows gamma (more buckets per octave) for
    tighter error at the same O(log) state."""
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    bc = (
        t(spark, sf, "orders")
        .select(F.length(F.bin(cents)).cast("long").alias("bkt"))
        .groupBy("bkt")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    ).persist()  # <= 41 rows: feeds the cumulative walk AND the total
    wc = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = bc.select("bkt", F.sum("cnt").over(wc).cast("long").alias("cum"))
    tot = bc.agg(F.sum("cnt").cast("long").alias("n"))
    panel = tot.select(
        F.explode(
            F.array(*[F.lit(q).cast("long") for q in _DD_QS])
        ).alias("q_pct"),
        "n",
    ).withColumn("rk", F.expr("(q_pct * n + 99) div 100"))
    sel = (
        panel.join(F.broadcast(cum), F.col("cum") >= F.col("rk"))
        .groupBy("q_pct", "n", "rk")
        .agg(F.min("bkt").alias("bucket"))
    )
    lo = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket - 1 AS INT))")
    hi = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT)) - 1")
    return sel.select(
        "q_pct",
        "n",
        F.col("rk").cast("long").alias("rank_1based"),
        F.col("bucket").cast("long"),
        lo.cast("long").alias("lo_cents"),
        hi.cast("long").alias("hi_cents"),
        ((lo + hi) / F.lit(2)).cast("long").alias("est_mid_cents"),
    )


def _kmvi_oracle() -> str:
    from .llm3 import _md5_u32_sql

    h = _md5_u32_sql("kmvi", "user_id")
    return f"""
    WITH du AS (
      SELECT DISTINCT event_type, user_id FROM {EVENTS_US} events
      WHERE event_type IN ('click', 'purchase')),
    ha AS (SELECT DISTINCT {h} AS h FROM du WHERE event_type = 'click'),
    hb AS (SELECT DISTINCT {h} AS h FROM du
           WHERE event_type = 'purchase'),
    sa AS (SELECT h FROM ha ORDER BY h LIMIT {_KMVI_K}),
    sb AS (SELECT h FROM hb ORDER BY h LIMIT {_KMVI_K}),
    su AS (SELECT DISTINCT h FROM (SELECT h FROM sa UNION ALL
                                   SELECT h FROM sb)
           ORDER BY h LIMIT {_KMVI_K}),
    u AS (SELECT CAST(max(h) AS BIGINT) AS kth_u,
                 CAST(count(*) AS BIGINT) AS got_u FROM su),
    nc AS (SELECT CAST(count(*) AS BIGINT) AS n_common
           FROM sa JOIN sb USING (h) CROSS JOIN u
           WHERE sa.h <= u.kth_u),
    ex AS (
      SELECT CAST(count(*) AS BIGINT) AS exact_inter FROM (
        SELECT user_id FROM du GROUP BY user_id
        HAVING count(DISTINCT event_type) = 2)),
    est AS (
      SELECT u.kth_u, u.got_u, nc.n_common,
             CASE WHEN u.got_u < {_KMVI_K} THEN u.got_u
                  WHEN u.kth_u = 0 THEN 0
                  ELSE ({_KMVI_K - 1} * {_TWO32}) // u.kth_u
             END AS est_union
      FROM u CROSS JOIN nc)
    SELECT CAST({_KMVI_K} AS BIGINT) AS k, got_u, kth_u, n_common,
           CAST(est_union AS BIGINT) AS est_union,
           CAST(CASE WHEN got_u < {_KMVI_K} THEN n_common
                ELSE (n_common * est_union) // {_KMVI_K}
                END AS BIGINT) AS est_inter,
           ex.exact_inter
    FROM est CROSS JOIN ex
    """


@query("kmv_set_intersection", oracle=_kmvi_oracle())
def kmv_set_intersection(spark: SparkSession, sf: str) -> DataFrame:
    """KMV sketch SET ALGEBRA (Beyer et al., SIGMOD'07): estimate the
    distinct-user overlap between clickers and purchasers from two
    32-value KMV sketches ALONE — the composable form of "how many
    users did both X and Y" that a 100 TB engine answers from
    per-segment sketches without re-scanning either side.  Both
    sketches share one hash family; the union sketch is the bottom-K
    of the merged hash sets (kth_u = its threshold), n_common counts
    hashes present in BOTH sketches at or below that threshold, and
    est_inter = (n_common/K) * est_union in pure integer arithmetic
    (Jaccard-via-KMV).  Below K distinct values everything is exact
    by definition.  The exact intersection rides along for the
    accuracy check (the hypothesis property evaluates estimator
    error; the unit contract is the bit-exact sketch state).

    Scale: ONE events scan reduces to distinct (type, user) pairs
    (persisted: sketch branches + the exact twin share it); each
    bottom-K is Spark's TakeOrdered (per-partition top-K, K*P-row
    driver merge); every join thereafter touches <= 32-row sketch
    tables.  Sketch state is O(K) per segment — the structure unions,
    intersects, and differences compose over."""
    from .llm3 import _md5_u32

    du = (
        t(spark, sf, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select("event_type", "user_id")
        .distinct()
    ).persist()
    h = _md5_u32("kmvi", F.col("user_id"))
    sa = (
        du.filter(F.col("event_type") == "click")
        .select(h.alias("h"))
        .distinct()
        .orderBy("h")
        .limit(_KMVI_K)
    )
    sb = (
        du.filter(F.col("event_type") == "purchase")
        .select(h.alias("h"))
        .distinct()
        .orderBy("h")
        .limit(_KMVI_K)
    )
    su = sa.union(sb).distinct().orderBy("h").limit(_KMVI_K)
    u = su.agg(
        F.max("h").cast("long").alias("kth_u"),
        F.count(F.lit(1)).cast("long").alias("got_u"),
    )
    nc = (
        sa.join(sb, "h")
        .crossJoin(F.broadcast(u))
        .filter(F.col("h") <= F.col("kth_u"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    ex = (
        du.groupBy("user_id")
        .agg(F.count_distinct("event_type").alias("nt"))
        .filter(F.col("nt") == 2)
        .agg(F.count(F.lit(1)).cast("long").alias("exact_inter"))
    )
    est_union = (
        F.when(F.col("got_u") < _KMVI_K, F.col("got_u"))
        .when(F.col("kth_u") == 0, F.lit(0))
        .otherwise(F.expr(f"({_KMVI_K - 1} * {_TWO32}) div kth_u"))
        .cast("long")
    )
    return (
        u.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(ex))
        .withColumn("est_union", est_union)
        .select(
            F.lit(_KMVI_K).cast("long").alias("k"),
            "got_u",
            "kth_u",
            "n_common",
            "est_union",
            F.when(F.col("got_u") < _KMVI_K, F.col("n_common"))
            .otherwise(
                F.expr(f"(n_common * est_union) div {_KMVI_K}")
            )
            .cast("long")
            .alias("est_inter"),
            "exact_inter",
        )
    )


_CF_MIN_SUPPORT = 2
_CF_TOPK = 5


@query(
    "item_cf_similarity_topk",
    oracle=f"""
    WITH cp AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    pc AS (SELECT p, CAST(count(*) AS BIGINT) AS cnt FROM cp GROUP BY p),
    pr AS (
      SELECT a.p AS item_a, b.p AS item_b,
             CAST(count(*) AS BIGINT) AS support
      FROM cp a JOIN cp b ON a.o = b.o AND a.p <> b.p
      GROUP BY 1, 2 HAVING count(*) >= {_CF_MIN_SUPPORT}),
    sc AS (
      SELECT pr.item_a, pr.item_b, pr.support,
             (pr.support * pr.support * 1000000) // (ca.cnt * cb.cnt)
               AS cos2_e6
      FROM pr JOIN pc ca ON pr.item_a = ca.p
              JOIN pc cb ON pr.item_b = cb.p),
    rk AS (
      SELECT *, row_number() OVER (PARTITION BY item_a
               ORDER BY cos2_e6 DESC, support DESC, item_b) AS rnk
      FROM sc)
    SELECT item_a, item_b, support, cos2_e6, CAST(rnk AS BIGINT) AS rnk
    FROM rk WHERE rnk <= {_CF_TOPK}
    """,
)
def item_cf_similarity_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Item-item collaborative filtering: for every part, the top-5
    most-similar parts by co-purchase cosine — the neighbor table an
    item-to-item recommender (Amazon-style) serves from.  Similarity
    is the SQUARED cosine of the order-incidence vectors,
    support^2 / (cnt_a * cnt_b), published in exact 1e-6 integer
    ticks so no sqrt/float enters the contract (monotone in cosine,
    so the ranking is identical).  Ties break by support then item id
    for a deterministic hash.

    Scale: the same bounded basket self-join as frequent_itempairs —
    pairs-per-order <= basket^2 (~49), so candidates are O(rows *
    k^2), never all-pairs; per-part counts broadcast onto the pair
    stream.  The per-item rank filters to rnk <= 5 directly above the
    window, so Spark plans a Partial WindowGroupLimit (map-side top-5
    per item per task) — the merge shape that survives a billion-item
    catalog.  Int64 headroom: support <= per-part order count
    (~3e3 at the 100x replica), support^2 * 1e6 <= ~9e12."""
    cp = (
        t(spark, sf, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
        .persist()
    )
    pc = cp.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    a, b = cp.alias("a"), cp.alias("b")
    pr = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") != F.col("b.p")))
        .groupBy(F.col("a.p").alias("item_a"), F.col("b.p").alias("item_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= _CF_MIN_SUPPORT)
    )
    sc = (
        pr.join(F.broadcast(pc.withColumnRenamed("cnt", "ca")), F.col("item_a") == F.col("p"))
        .drop("p")
        .join(F.broadcast(pc.withColumnRenamed("cnt", "cb")), F.col("item_b") == F.col("p"))
        .drop("p")
        .select(
            "item_a",
            "item_b",
            "support",
            F.expr("(support * support * 1000000) div (ca * cb)").alias("cos2_e6"),
        )
    )
    wr = W.partitionBy("item_a").orderBy(
        F.desc("cos2_e6"), F.desc("support"), "item_b"
    )
    return (
        sc.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= _CF_TOPK)
        .withColumn("rnk", F.col("rnk").cast("long"))
    )


_COMPACT_TARGET = 65_536  # bytes per compaction group
_COMPACT_IDW = 1_024  # doc_id bucket width for the two-phase cumsum


@query(
    "file_compaction_plan",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, source, CAST(strlen(text) AS BIGINT) AS b
      FROM documents),
    c AS (
      SELECT source, doc_id, b,
             CAST(coalesce(sum(b) OVER (PARTITION BY source
                    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS BIGINT) AS pre
      FROM s)
    SELECT source, CAST(pre // {_COMPACT_TARGET} AS BIGINT) AS grp,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(b) AS BIGINT) AS grp_bytes,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id
    FROM c GROUP BY 1, 2
    """,
)
def file_compaction_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Small-file compaction planner — the storage-maintenance pass
    every parquet lake runs: within each source partition, documents
    are packed in doc_id order into ~64 KiB output groups, group id =
    floor(running_bytes_before / target).  The emitted plan (source,
    group, doc count, byte total, id range) is what a compactor turns
    into one rewrite task per row; id-ordered packing keeps each
    output file a contiguous id range, preserving min/max zone-map
    prunability after the rewrite (the zone_map_stats discipline).

    The oracle states the obvious per-source global-window cumsum;
    the Spark plan is the scale-safe two-phase form (the
    curation._budget_prefix / token_budget_select discipline):
    doc_id-range buckets give a tiny per-(source, bucket) byte-total
    table whose running sum is the bucket base, and the per-doc
    window runs ONLY within (source, bucket) — bounded fan-in, no
    full-partition funnel.  Bucket width is fixed in ID SPACE (1024
    ids), so a 100 TB run tunes it to id density; the bucket-total
    table stays dim-sized (ids/1024 rows) and broadcasts.

    Scale: ONE documents scan; shuffle is the (source, bucket)
    aggregate plus the final (source, grp) aggregate — both
    key-bounded; no window ever sees more than one bucket of rows."""
    s = t(spark, sf, "documents").select(
        "doc_id",
        "source",
        F.octet_length("text").cast("long").alias("b"),
        F.expr(f"doc_id div {_COMPACT_IDW}").alias("bkt"),
    ).persist()  # 4 int columns/doc: bucket-total branch + per-doc join
    btot = s.groupBy("source", "bkt").agg(F.sum("b").alias("btok"))
    wb = W.partitionBy("source").orderBy("bkt").rowsBetween(
        W.unboundedPreceding, -1
    )
    bbase = btot.select(
        "source",
        "bkt",
        F.coalesce(F.sum("btok").over(wb), F.lit(0)).alias("base"),
    )
    wd = W.partitionBy("source", "bkt").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, -1
    )
    pre = (
        s.join(F.broadcast(bbase), ["source", "bkt"])
        .withColumn(
            "pre",
            F.col("base") + F.coalesce(F.sum("b").over(wd), F.lit(0)),
        )
    )
    return (
        pre.groupBy(
            "source", F.expr(f"pre div {_COMPACT_TARGET}").alias("grp")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("b").cast("long").alias("grp_bytes"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
            F.max("doc_id").cast("long").alias("max_doc_id"),
        )
        .withColumn("grp", F.col("grp").cast("long"))
    )


_RRF_K = 60  # standard RRF damping constant
_RRF_DEPTH = 20  # per-ranker list depth
_RRF_FINAL = 10


def _rrf_oracle() -> str:
    from .textq import _SEARCH_TERMS

    terms = ", ".join(f"'{w}'" for w in _SEARCH_TERMS)
    return f"""
    WITH d AS (
      SELECT doc_id,
             list_filter(str_split(lower(text), ' '), x -> x <> '')
               AS ws
      FROM documents),
    cand AS (
      SELECT term, doc_id, tf, n_tok FROM (
        SELECT u.term, d.doc_id,
               CAST(len(list_filter(d.ws, x -> x = u.term)) AS BIGINT)
                 AS tf,
               CAST(len(d.ws) AS BIGINT) AS n_tok
        FROM d CROSS JOIN (SELECT unnest([{terms}]) AS term) u)
      WHERE tf > 0),
    ra AS (
      SELECT term, doc_id,
             row_number() OVER (PARTITION BY term
               ORDER BY tf DESC, doc_id) AS r
      FROM cand QUALIFY r <= {_RRF_DEPTH}),
    rb AS (
      SELECT term, doc_id,
             row_number() OVER (PARTITION BY term
               ORDER BY (tf * 1000000) // n_tok DESC, doc_id) AS r
      FROM cand QUALIFY r <= {_RRF_DEPTH}),
    fused AS (
      SELECT coalesce(ra.term, rb.term) AS term,
             coalesce(ra.doc_id, rb.doc_id) AS doc_id,
             coalesce(1000000 // ({_RRF_K} + ra.r), 0)
               + coalesce(1000000 // ({_RRF_K} + rb.r), 0) AS rrf_e6
      FROM ra FULL OUTER JOIN rb
        ON ra.term = rb.term AND ra.doc_id = rb.doc_id),
    fr AS (
      SELECT term, doc_id, CAST(rrf_e6 AS BIGINT) AS rrf_e6,
             row_number() OVER (PARTITION BY term
               ORDER BY rrf_e6 DESC, doc_id) AS rnk
      FROM fused QUALIFY rnk <= {_RRF_FINAL})
    SELECT term, doc_id, rrf_e6, CAST(rnk AS BIGINT) AS rnk FROM fr
    """


@query("reciprocal_rank_fusion", oracle=_rrf_oracle())
def reciprocal_rank_fusion(spark: SparkSession, sf: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09) of two
    retrieval rankers over the shared 3-term query panel: ranker A
    orders candidates by raw term frequency, ranker B by length-
    normalized tf density — the classic lexical-vs-normalized
    disagreement RRF was designed to reconcile.  Each ranker
    contributes 1e6 // (60 + rank) integer ticks for its top-20;
    the fused top-10 per term ships with deterministic (score desc,
    doc_id) tie-breaks, so the whole contract is int64 with no float
    surface (where real deployments fuse BM25 with embedding ANN —
    both in-registry — the fusion arithmetic is exactly this).

    Scale: ONE documents scan computes tf per panel term via array
    HOFs (no explode shuffle — the candidate stream is docs x 3
    terms, pre-filtered to tf > 0 and persisted for the two rank
    branches); each ranker filters rank <= 20 directly above its
    window, so Spark plans Partial WindowGroupLimits (map-side
    per-term top-20), and the fusion join touches <= 40 rows per
    term."""
    from ..functions.text import tokens
    from .textq import _SEARCH_TERMS

    d = t(spark, sf, "documents").select(
        "doc_id", tokens("text", lowercase=True).alias("ws")
    )
    def _tf(term: str):
        # single-arg lambda: a 2-arg lambda would be read by F.filter
        # as the (element, index) form and compare tokens to indices
        return F.size(
            F.filter(F.col("ws"), lambda x: x == F.lit(term))
        ).cast("long")

    per_term = [
        F.struct(F.lit(w).alias("term"), _tf(w).alias("tf"))
        for w in _SEARCH_TERMS
    ]
    cand = (
        d.select(
            "doc_id",
            F.size("ws").cast("long").alias("n_tok"),
            F.explode(F.array(*per_term)).alias("s"),
        )
        .select("doc_id", "n_tok", F.col("s.term").alias("term"), F.col("s.tf").alias("tf"))
        .filter(F.col("tf") > 0)
    ).persist()
    wa = W.partitionBy("term").orderBy(F.desc("tf"), "doc_id")
    ra = (
        cand.withColumn("r", F.row_number().over(wa))
        .filter(F.col("r") <= _RRF_DEPTH)
        .select("term", "doc_id", "r")
    )
    wb = W.partitionBy("term").orderBy(
        F.desc(F.expr("(tf * 1000000) div n_tok")), "doc_id"
    )
    rb = (
        cand.withColumn("r", F.row_number().over(wb))
        .filter(F.col("r") <= _RRF_DEPTH)
        .select("term", "doc_id", "r")
    )
    fused = (
        ra.withColumnRenamed("r", "ra")
        .join(
            rb.withColumnRenamed("r", "rb"),
            ["term", "doc_id"],
            "full_outer",
        )
        .select(
            "term",
            "doc_id",
            (
                F.coalesce(
                    F.expr(f"1000000 div ({_RRF_K} + ra)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"1000000 div ({_RRF_K} + rb)"), F.lit(0)
                )
            ).cast("long").alias("rrf_e6"),
        )
    )
    wf = W.partitionBy("term").orderBy(F.desc("rrf_e6"), "doc_id")
    return (
        fused.withColumn("rnk", F.row_number().over(wf))
        .filter(F.col("rnk") <= _RRF_FINAL)
        .withColumn("rnk", F.col("rnk").cast("long"))
    )


_IVM_CUT = "2001-01-01"


@query(
    "ivm_join_delta",
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey, o_orderstatus,
             o_orderdate >= TIMESTAMP '{_IVM_CUT}' AS isd
      FROM orders),
    l AS (
      SELECT l_orderkey,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS rc,
             l_shipdate >= TIMESTAMP '{_IVM_CUT}' AS isd
      FROM lineitem),
    j AS (
      SELECT o.o_orderstatus, o.isd AS od, l.isd AS ld,
             CAST(count(*) AS BIGINT) AS n, CAST(sum(l.rc) AS BIGINT) AS r
      FROM o JOIN l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2, 3)
    SELECT o_orderstatus,
           CAST(sum(CASE WHEN NOT od AND NOT ld THEN r END) AS BIGINT)
             AS rev_base_base_c,
           CAST(coalesce(sum(CASE WHEN NOT od AND ld THEN r END), 0)
                AS BIGINT) AS rev_base_delta_c,
           CAST(coalesce(sum(CASE WHEN od AND NOT ld THEN r END), 0)
                AS BIGINT) AS rev_delta_base_c,
           CAST(coalesce(sum(CASE WHEN od AND ld THEN r END), 0)
                AS BIGINT) AS rev_delta_delta_c,
           CAST(sum(r) AS BIGINT) AS revenue_c,
           CAST(sum(n) AS BIGINT) AS n_lines
    FROM j GROUP BY 1
    """,
)
def ivm_join_delta(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental view maintenance for a JOIN view: the revenue-per-
    status join aggregate is maintained from a base snapshot plus
    deltas using the standard bilinear decomposition
    (A0 ∪ ΔA) ⋈ (B0 ∪ ΔB) = A0⋈B0 + A0⋈ΔB + ΔA⋈B0 + ΔA⋈ΔB —
    what a 100 TB pipeline runs NIGHTLY so view refresh costs
    O(Δ ⋈ base), never a full recompute (the join twin of
    mv_incremental_refresh's aggregate IVM).  Rows on or after the
    cutoff date are the delta on each side; the published row carries
    the four term totals NEXT TO the full-view total, so the
    decomposition identity (sum of terms == direct join) is hash-
    checked against the oracle's direct-join computation, per status.

    Scale: each side is scanned ONCE with a delta flag and persisted;
    the four joins reuse the cached splits.  In production the three
    delta terms are the refresh work — ΔA⋈ΔB is delta-sized and
    A0⋈ΔB / ΔA⋈B0 are partition-pruned index lookups on the
    co-located base (the bucketed_join_lineitem_orders layout) — and
    A0⋈B0 is the stored view, not recomputed; here all four are
    evaluated to prove the identity at every scale."""
    o = (
        t(spark, sf, "orders")
        .select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("o_orderdate") >= F.lit(_IVM_CUT).cast("timestamp"))
            .alias("isd"),
        )
        .persist()
    )
    li = (
        t(spark, sf, "lineitem")
        .select(
            "l_orderkey",
            F.round(F.col("l_extendedprice") * 100)
            .cast("long")
            .alias("rc"),
            (F.col("l_shipdate") >= F.lit(_IVM_CUT).cast("timestamp"))
            .alias("isd"),
        )
        .persist()
    )
    o0, od = o.filter(~F.col("isd")), o.filter(F.col("isd"))
    l0, ld = li.filter(~F.col("isd")), li.filter(F.col("isd"))

    def term(oside: DataFrame, lside: DataFrame, label: str) -> DataFrame:
        return (
            oside.join(lside, oside["o_orderkey"] == lside["l_orderkey"])
            .groupBy("o_orderstatus")
            .agg(
                F.sum("rc").cast("long").alias(label),
                F.count(F.lit(1)).cast("long").alias(f"n_{label}"),
            )
        )

    parts = (
        term(o0, l0, "bb")
        .join(term(o0, ld, "bd"), "o_orderstatus", "full_outer")
        .join(term(od, l0, "db"), "o_orderstatus", "full_outer")
        .join(term(od, ld, "dd"), "o_orderstatus", "full_outer")
    )
    z = lambda c: F.coalesce(F.col(c), F.lit(0))  # noqa: E731
    return parts.select(
        "o_orderstatus",
        F.col("bb").cast("long").alias("rev_base_base_c"),
        z("bd").cast("long").alias("rev_base_delta_c"),
        z("db").cast("long").alias("rev_delta_base_c"),
        z("dd").cast("long").alias("rev_delta_delta_c"),
        (z("bb") + z("bd") + z("db") + z("dd"))
        .cast("long")
        .alias("revenue_c"),
        (z("n_bb") + z("n_bd") + z("n_db") + z("n_dd"))
        .cast("long")
        .alias("n_lines"),
    )


_WEEK_US_TS = 7 * 86_400 * 1_000_000


@query(
    "theil_sen_trend",
    oracle=f"""
    WITH wk AS (
      SELECT p.p_brand,
             datediff('day', TIMESTAMP '1995-01-01', l.l_shipdate) // 7
               AS w,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_c
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2),
    sl AS (
      SELECT a.p_brand,
             ((b.rev_c - a.rev_c) * 1000000) // (b.w - a.w) AS s
      FROM wk a JOIN wk b ON a.p_brand = b.p_brand AND a.w < b.w),
    st AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_pairs FROM sl
           GROUP BY 1),
    rk AS (
      SELECT p_brand, CAST(s AS BIGINT) AS s,
             row_number() OVER (PARTITION BY p_brand ORDER BY s) AS rn
      FROM sl),
    nw AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_weeks FROM wk
           GROUP BY 1)
    SELECT rk.p_brand, nw.n_weeks, st.n_pairs,
           rk.s AS median_slope_e6
    FROM rk JOIN st ON rk.p_brand = st.p_brand
            JOIN nw ON rk.p_brand = nw.p_brand
    WHERE rk.rn = (st.n_pairs + 1) // 2
    """,
)
def theil_sen_trend(spark: SparkSession, sf: str) -> DataFrame:
    """Theil-Sen robust trend estimation of weekly revenue per brand:
    the median of all pairwise slopes — the breakdown-resistant trend
    line (tolerates up to ~29% outlier weeks) an anomaly-prone
    revenue series needs where OLS (groupwise_ols_price_qty) would
    chase a single spike.  Slopes are published in exact 1e-6 ticks
    (integer division by the week gap — both engines truncate toward
    zero identically for the cents magnitudes here, and the brute-
    force property replicates truncation); the lower median
    (rank (m+1)//2) keeps the published value an ACTUAL slope from
    the set, never an average of two.

    Scale: the pair space is bounded by the CALENDAR, not the corpus
    — weekly aggregation first (one fact scan, brand dims broadcast),
    then the slope self-join is brands x C(weeks, 2) ~ 1.6M rows at
    ANY corpus size; the per-brand median rank runs over that bounded
    set.  Int64 headroom: |Δrev_c| x 1e6 <= ~2e15 at the 100x
    replica (audited; documented margin to 9.2e18)."""
    li = t(spark, sf, "lineitem").select(
        "l_partkey",
        # l_shipdate is TIMESTAMP_NTZ: day arithmetic from a fixed
        # epoch date is the TZ-free week bucket both engines share
        F.expr(
            "datediff(l_shipdate, DATE '1995-01-01') div 7"
        ).cast("long").alias("w"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("rc"),
    )
    p = t(spark, sf, "part").select("p_partkey", "p_brand")
    wk = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "w")
        .agg(F.sum("rc").cast("long").alias("rev_c"))
    ).persist()  # brands x weeks rows: slope join + week census
    a, b = wk.alias("a"), wk.alias("b")
    sl = a.join(
        b,
        (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a.w") < F.col("b.w")),
    ).select(
        F.col("a.p_brand").alias("p_brand"),
        F.expr(
            "((b.rev_c - a.rev_c) * 1000000) div (b.w - a.w)"
        ).alias("s"),
    )
    # n_pairs needs no second pass over the slope set: (brand, w) is
    # unique after the weekly groupBy, so the a.w < b.w self-join
    # yields exactly C(n_weeks, 2) rows per brand — derive it from
    # the week census and the 1.6M-row slope join executes ONCE (the
    # rank window), not twice (measured 1.38 → 1.15 s at sf0.1,
    # output identical)
    nw = wk.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_weeks")
    ).withColumn("n_pairs", F.expr("n_weeks * (n_weeks - 1) div 2"))
    wr = W.partitionBy("p_brand").orderBy("s")
    rk = sl.withColumn("rn", F.row_number().over(wr))
    return (
        rk.join(F.broadcast(nw), "p_brand")
        .filter(F.col("rn") == F.expr("(n_pairs + 1) div 2"))
        .select(
            "p_brand",
            "n_weeks",
            "n_pairs",
            F.col("s").cast("long").alias("median_slope_e6"),
        )
    )


@query(
    "cohort_ltv_curve",
    oracle=f"""
    WITH p AS (
      SELECT user_id, epoch_us(ts) // {_WEEK_US_TS} AS wk,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM {EVENTS_US} events WHERE event_type = 'purchase'),
    fw AS (SELECT user_id, min(wk) AS cw FROM p GROUP BY user_id),
    cs AS (SELECT cw, CAST(count(*) AS BIGINT) AS cohort_users FROM fw
           GROUP BY cw),
    ra AS (
      SELECT fw.cw, p.wk - fw.cw AS age, CAST(sum(p.cents) AS BIGINT)
               AS rev_c
      FROM p JOIN fw ON p.user_id = fw.user_id GROUP BY 1, 2),
    cum AS (
      SELECT cw, age, rev_c,
             CAST(sum(rev_c) OVER (PARTITION BY cw ORDER BY age
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_rev_c
      FROM ra)
    SELECT CAST(cum.cw AS BIGINT) AS cohort_week,
           CAST(cum.age AS BIGINT) AS age_weeks,
           cs.cohort_users, cum.rev_c, cum.cum_rev_c,
           CAST(cum.cum_rev_c // cs.cohort_users AS BIGINT)
             AS cum_ltv_per_user_c
    FROM cum JOIN cs ON cum.cw = cs.cw
    """,
)
def cohort_ltv_curve(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort lifetime-value curves: users grouped by first-purchase
    week, cumulative revenue per cohort tracked by cohort age — the
    LTV table growth finance reads next to retention_cohorts_weekly's
    activity counts (same cohort keys, revenue-weighted).  Cumulative
    cents stay exact int64; per-user LTV is the integer-cents floor
    division by the FIXED cohort size (denominator = cohort members,
    not actives, so curves are monotone and comparable across ages).

    Scale: one events scan reduces to (user, week, cents) purchase
    rows; first-week is a per-user aggregate joined back on the
    shuffle key; the cumulative window runs per cohort over <= weeks
    rows (calendar-bounded, the hll_merge_daily_users grid shape) on
    the cohort-week-keyed aggregate, never over raw purchases."""
    p = (
        t(spark, sf, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.expr(f"unix_micros(ts) div {_WEEK_US_TS}").alias("wk"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    ).persist()  # feeds first-week aggregate AND the revenue join
    fw = p.groupBy("user_id").agg(F.min("wk").alias("cw"))
    cs = fw.groupBy("cw").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_users")
    )
    ra = (
        p.join(fw, "user_id")
        .groupBy("cw", (F.col("wk") - F.col("cw")).alias("age"))
        .agg(F.sum("cents").cast("long").alias("rev_c"))
    )
    wc = (
        W.partitionBy("cw")
        .orderBy("age")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = ra.withColumn(
        "cum_rev_c", F.sum("rev_c").over(wc).cast("long")
    )
    return cum.join(F.broadcast(cs), "cw").select(
        F.col("cw").cast("long").alias("cohort_week"),
        F.col("age").cast("long").alias("age_weeks"),
        "cohort_users",
        "rev_c",
        "cum_rev_c",
        F.expr("cum_rev_c div cohort_users").cast("long")
        .alias("cum_ltv_per_user_c"),
    )


@query(
    "pct_of_parent_rollup",
    oracle="""
    WITH nr AS (
      SELECT r.r_name, n.n_name,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_c
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2),
    rr AS (SELECT r_name, CAST(sum(rev_c) AS BIGINT) AS region_rev_c
           FROM nr GROUP BY 1),
    gg AS (SELECT CAST(sum(region_rev_c) AS BIGINT) AS global_rev_c
           FROM rr)
    SELECT nr.r_name, nr.n_name, nr.rev_c, rr.region_rev_c,
           CAST((nr.rev_c * 10000) // rr.region_rev_c AS BIGINT)
             AS share_of_region_e4,
           CAST((rr.region_rev_c * 10000) // gg.global_rev_c AS BIGINT)
             AS region_share_global_e4
    FROM nr JOIN rr ON nr.r_name = rr.r_name CROSS JOIN gg
    """,
)
def pct_of_parent_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Percent-of-parent hierarchical rollup: nation revenue as a
    share of its region, region as a share of global — the classic
    OLAP "% of parent row" measure.  Shares are exact 1e-4 (basis
    point) integer ticks: the e4 scale is the audited headroom choice
    (global cents ~2e14 at the 100x replica; x1e4 = 2e18 stays inside
    int64 where the e6 tick family would overflow — the
    revenue_contribution_topk lesson applied at design time).

    Scale: one orders scan aggregates straight to nation grain
    (customer is the only data-sized join side; nation/region
    broadcast); parent totals re-aggregate the 25-row nation table,
    so every share join is dim-bounded."""
    o = t(spark, sf, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("rc"),
    )
    c = t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = t(spark, sf, "region").select("r_regionkey", "r_name")
    nr = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(F.sum("rc").cast("long").alias("rev_c"))
    ).persist()  # 25 rows: leaf grain + both parent rollups
    rr = nr.groupBy("r_name").agg(
        F.sum("rev_c").cast("long").alias("region_rev_c")
    )
    gg = rr.agg(F.sum("region_rev_c").cast("long").alias("global_rev_c"))
    return (
        nr.join(F.broadcast(rr), "r_name")
        .crossJoin(F.broadcast(gg))
        .select(
            "r_name",
            "n_name",
            "rev_c",
            "region_rev_c",
            F.expr("(rev_c * 10000) div region_rev_c")
            .cast("long")
            .alias("share_of_region_e4"),
            F.expr("(region_rev_c * 10000) div global_rev_c")
            .cast("long")
            .alias("region_share_global_e4"),
        )
    )


_LP_TOPK = 50


def _linkpred_oracle() -> str:
    from .analytics2 import _LPA_EDGES_SQL

    return f"""
    WITH {_LPA_EDGES_SQL},
    nd AS MATERIALIZED (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM ed GROUP BY u),
    p2 AS (
      SELECT a.u AS x, b.v AS z, CAST(count(*) AS BIGINT) AS cn
      FROM ed a JOIN ed b ON a.v = b.u AND a.u < b.v
      GROUP BY 1, 2),
    ne AS MATERIALIZED (
      SELECT p2.x, p2.z, p2.cn FROM p2
      WHERE NOT EXISTS (SELECT 1 FROM e0
                        WHERE e0.u = p2.x AND e0.v = p2.z)),
    sc AS (
      SELECT ne.x AS u, ne.z AS v, ne.cn,
             CAST((ne.cn * 1000000) // (dx.d + dz.d - ne.cn) AS BIGINT)
               AS jaccard_e6
      FROM ne JOIN nd dx ON ne.x = dx.node
              JOIN nd dz ON ne.z = dz.node)
    SELECT u, v, cn AS common_neighbors, jaccard_e6
    FROM sc ORDER BY jaccard_e6 DESC, cn DESC, u, v LIMIT {_LP_TOPK}
    """


@query(
    "graph_jaccard_link_prediction",
    oracle=_linkpred_oracle(),
)
def graph_jaccard_link_prediction(spark: SparkSession, sf: str) -> DataFrame:
    """Link prediction on the co-purchase graph by common-neighbor
    Jaccard: for every NON-adjacent customer pair reachable in two
    hops, score = |N(x) ∩ N(z)| / |N(x) ∪ N(z)| in exact 1e-6 ticks
    (cn / (deg_x + deg_z − cn) — the neighborhood-overlap form, no
    set materialization needed), top-50 published — the "customers
    who should know each other" primitive of friend/product
    recommendation, and the predictive counterpart of
    triangle_count_copurchase's closed-triangle census.

    Scale: candidates come from the TWO-HOP join on the
    degree-bounded rare-part edge list (copurchase_edges — the same
    blocked projection the triangle/LPA/k-core family shares), never
    all-pairs; existing edges drop via an anti-join; degrees join on
    the candidate's endpoints (shuffle joins — the degree table is
    entity-sized, deliberately NOT broadcast); top-50 is TakeOrdered
    (per-partition top-k + tiny merge)."""
    from .analytics2 import copurchase_edges

    ed = copurchase_edges(spark, sf)
    e0 = ed.filter(F.col("u") < F.col("v"))
    deg = ed.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    a, b = ed.alias("a"), ed.alias("b")
    p2 = (
        a.join(b, (F.col("a.v") == F.col("b.u")) & (F.col("a.u") < F.col("b.v")))
        .groupBy(F.col("a.u").alias("x"), F.col("b.v").alias("z"))
        .agg(F.count(F.lit(1)).cast("long").alias("cn"))
    )
    ne = p2.join(
        e0,
        (p2["x"] == e0["u"]) & (p2["z"] == e0["v"]),
        "left_anti",
    )
    dx = deg.select(F.col("u").alias("x"), F.col("d").alias("dx"))
    dz = deg.select(F.col("u").alias("z"), F.col("d").alias("dz"))
    sc = (
        ne.join(dx, "x")
        .join(dz, "z")
        .select(
            F.col("x").alias("u"),
            F.col("z").alias("v"),
            F.col("cn").alias("common_neighbors"),
            F.expr("(cn * 1000000) div (dx + dz - cn)")
            .cast("long")
            .alias("jaccard_e6"),
        )
    )
    return sc.orderBy(
        F.desc("jaccard_e6"), F.desc("common_neighbors"), "u", "v"
    ).limit(_LP_TOPK)


_CNT_NUM, _CNT_DEN = 3, 4  # containment threshold 3/4


def _containment_oracle() -> str:
    from .llm5 import _SSJ_SHINGLES_SQL

    return f"""
    WITH sh AS (
      SELECT doc_id, lang, source, {_SSJ_SHINGLES_SQL} AS sh
      FROM documents),
    n AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh FROM sh
          WHERE len(sh) > 0),
    ex AS (SELECT doc_id, lang, source, unnest(sh) AS shingle FROM sh),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS shared
      FROM ex a JOIN ex b
        ON a.lang = b.lang AND a.source = b.source
       AND a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, na.n_sh AS n_a, shared AS n_inter,
           CAST((shared * 10000) // na.n_sh AS BIGINT)
             AS containment_e4
    FROM inter JOIN n na ON na.doc_id = doc_a
    WHERE shared * {_CNT_DEN} >= {_CNT_NUM} * na.n_sh
    """


@query("dedup_containment_prefix", oracle=_containment_oracle())
def dedup_containment_prefix(spark: SparkSession, sf: str) -> DataFrame:
    """ASYMMETRIC containment near-dup detection: doc A is flagged
    against doc B when |A ∩ B| / |A| >= 3/4 over 3-gram shingle sets
    — the subset-inclusion duplication (quotation, wrapper pages,
    doc-inside-doc) that symmetric Jaccard misses entirely (a tiny
    doc fully contained in a huge one has Jaccard ~ |A|/|B| ~ 0 but
    containment 1).  Directional pairs publish with the exact
    1e-4-tick score.

    Exactness: the prefix-filter lemma adapted to containment — if
    |A∩B| >= t|A| then fewer than |A| − t|A| + 1 of A's tokens miss
    B, so A's rarest-first prefix of length n_a − ceil(t·n_a) + 1
    must hit B's FULL token set under any consistent global order;
    side B is therefore fully indexed (the inverted-index posting
    list) while only probes take the prefix, and verification on the
    materialized sets keeps the output exactly the all-pairs answer.

    Scale: blocked by (lang, source) like the Jaccard twin; the
    posting-list join's fan-out is bounded by the block's
    document frequency of A's RAREST shingles (the prefix tokens are
    rarest-first by construction), and verification touches candidate
    pairs only.  Shingle df reuses one (lang, source, shingle)
    shuffle."""
    from .llm5 import _shingles

    docs = (
        t(spark, sf, "documents")
        .select(
            "doc_id",
            "lang",
            "source",
            F.array_sort(_shingles("text", 3)).alias("sh"),
        )
        .filter(F.size("sh") > 0)
        .withColumn("n_sh", F.size("sh").cast("long"))
    ).persist()  # probe prefixes, posting lists, and verification sets
    ex = docs.select(
        "lang", "source", "doc_id", "n_sh", F.explode("sh").alias("shingle")
    )
    rare = ex.withColumn(
        "df",
        F.count(F.lit(1)).over(W.partitionBy("lang", "source", "shingle")),
    )
    ordered = rare.groupBy("lang", "source", "doc_id", "n_sh").agg(
        F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias("toks")
    )
    pref_len = (
        F.col("n_sh")
        - F.expr(f"(n_sh * {_CNT_NUM} + {_CNT_DEN} - 1) div {_CNT_DEN}")
        + 1
    )
    prefix = ordered.select(
        "lang",
        "source",
        F.col("doc_id").alias("doc_a"),
        F.col("n_sh").alias("n_a"),
        F.explode(F.slice("toks", F.lit(1), pref_len)).alias("ptok"),
    ).select(
        "lang", "source", "doc_a", "n_a",
        F.col("ptok.shingle").alias("shingle"),
    )
    full_b = ex.select(
        "lang", "source", "shingle", F.col("doc_id").alias("doc_b")
    )
    cand = (
        prefix.join(full_b, ["lang", "source", "shingle"])
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b", "n_a")
        .distinct()
    )
    verified = (
        pair_sides(cand, docs.select("doc_id", "sh"), "doc_id", "doc_a", "doc_b")
        .withColumn(
            "n_inter",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long"),
        )
        .filter(F.col("n_inter") * _CNT_DEN >= _CNT_NUM * F.col("n_a"))
    )
    return verified.select(
        "doc_a",
        "doc_b",
        "n_a",
        "n_inter",
        F.expr("(n_inter * 10000) div n_a").alias("containment_e4"),
    )


_WILSON_MIN_N = 5


@query(
    "ctr_wilson_ranking",
    oracle=f"""
    WITH s AS (
      SELECT user_id,
             CAST(count(*) FILTER (event_type = 'click') AS BIGINT)
               AS clicks,
             CAST(count(*) AS BIGINT) AS n
      FROM {EVENTS_US} events
      WHERE event_type IN ('click', 'view')
      GROUP BY user_id
      HAVING count(*) >= {_WILSON_MIN_N}),
    w AS (
      SELECT user_id, clicks, n,
             ((CAST(clicks AS DOUBLE) / n) + (3.8416 / (2 * n))
              - 1.96 * sqrt((((CAST(clicks AS DOUBLE) / n)
                              * (1 - (CAST(clicks AS DOUBLE) / n)))
                             + (3.8416 / (4 * n))) / n))
             / (1 + (3.8416 / n)) AS lb
      FROM s)
    SELECT user_id, clicks, n, round(lb, 6) AS wilson_lb
    FROM w ORDER BY lb DESC, user_id LIMIT 20
    """,
)
def ctr_wilson_ranking(spark: SparkSession, sf: str) -> DataFrame:
    """Rank users by the WILSON SCORE lower bound of their
    click-through rate (z = 1.96, z² = 3.8416) — the
    small-sample-safe ranking every "best rated" / "highest CTR"
    surface uses instead of the raw proportion (a 1/1 clicker must
    not outrank a 95/100 one).  Both engines evaluate the identical
    fully-parenthesized double expression — division, multiplication
    and sqrt are correctly-rounded IEEE-754 ops, so the bits agree
    (the bm25/kaplan float-with-round(6) precedent); inputs are exact
    integer counts.

    Scale: one events scan to per-user (clicks, n) — map-side
    combinable; the score is a per-row expression and top-20 is
    TakeOrdered, so nothing beyond the user aggregate ever
    shuffles."""
    s = (
        t(spark, sf, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .groupBy("user_id")
        .agg(
            F.count(F.when(F.col("event_type") == "click", 1))
            .cast("long")
            .alias("clicks"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .filter(F.col("n") >= _WILSON_MIN_N)
    )
    lb = F.expr(
        "((CAST(clicks AS DOUBLE) / n) + (3.8416 / (2 * n))"
        " - 1.96 * sqrt((((CAST(clicks AS DOUBLE) / n)"
        " * (1 - (CAST(clicks AS DOUBLE) / n)))"
        " + (3.8416 / (4 * n))) / n))"
        " / (1 + (3.8416 / n))"
    )
    w = s.withColumn("lb", lb)
    return (
        w.orderBy(F.desc("lb"), "user_id")
        .limit(20)
        .select(
            "user_id", "clicks", "n", F.round("lb", 6).alias("wilson_lb")
        )
    )


@query(
    "clamped_running_balance",
    oracle=f"""
    WITH d AS (
      SELECT user_id, epoch_us(ts) AS us, event_id,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT)
                  ELSE -CAST(round(value * 100) AS BIGINT) END AS dc
      FROM {EVENTS_US} events),
    s0 AS (
      SELECT user_id, us, event_id,
             CAST(sum(dc) OVER (PARTITION BY user_id
                    ORDER BY us, event_id ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS BIGINT) AS st
      FROM d),
    s AS (
      SELECT user_id, us, event_id, st,
             CAST(least(min(st) OVER (PARTITION BY user_id
                    ORDER BY us, event_id ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW), 0) AS BIGINT) AS mt
      FROM s0),
    b AS (
      SELECT user_id, st, st - mt AS bal,
             row_number() OVER (PARTITION BY user_id
               ORDER BY us, event_id) AS rn
      FROM s),
    fin AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             CAST(max_by(st, rn) AS BIGINT) AS final_s,
             CAST(max_by(bal, rn) AS BIGINT) AS final_balance,
             CAST(max(bal) AS BIGINT) AS peak_balance
      FROM b GROUP BY user_id)
    SELECT * FROM fin
    """,
)
def clamped_running_balance(spark: SparkSession, sf: str) -> DataFrame:
    """Zero-clamped running balance per user (purchases credit, other
    events debit): the inventory / prepaid-wallet / queue-backlog
    recursion b_t = max(0, b_(t-1) + d_t) — a NONLINEAR prefix
    operation no single SQL window expresses directly.  The plan uses
    the Lindley/reflection closed form  b_t = S_t − min(0, min_(k<=t)
    S_k): a plain cumulative sum, a running minimum OF that sum, and
    a subtraction — turning the sequential recursion into two
    composable windows (the hypothesis brute-force property replays
    the literal recursion in Python and pins the identity).
    Published per user: event count, final raw sum, final clamped
    balance, and the peak clamped balance.

    Scale: both windows partition on user_id (entity-grain
    parallelism — millions of independent partitions, no funnel);
    everything is exact int64 cents."""
    d = t(spark, sf, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.when(
            F.col("event_type") == "purchase",
            F.round(F.col("value") * 100).cast("long"),
        )
        .otherwise(-F.round(F.col("value") * 100).cast("long"))
        .alias("dc"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    s = d.withColumn("st", F.sum("dc").over(w).cast("long"))
    s = (
        s.withColumn(
            "mt", F.least(F.min("st").over(w), F.lit(0)).cast("long")
        )
        .withColumn("bal", F.col("st") - F.col("mt"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("user_id").orderBy("us", "event_id")
            ),
        )
    )
    return s.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.max_by("st", "rn").cast("long").alias("final_s"),
        F.max_by("bal", "rn").cast("long").alias("final_balance"),
        F.max("bal").cast("long").alias("peak_balance"),
    )


_EXPECT_RULES_SQL = """
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(*) FILTER (o_totalprice IS NULL
                                   OR o_totalprice <= 0) AS BIGINT)
               AS v_price_positive,
             CAST(count(*) FILTER (o_orderstatus IS NULL
                    OR o_orderstatus NOT IN ('O', 'F', 'P')) AS BIGINT)
               AS v_status_domain,
             CAST(count(*) FILTER (o_orderpriority IS NULL OR
                    NOT regexp_matches(o_orderpriority, '^[1-5]-'))
                  AS BIGINT) AS v_priority_regex,
             CAST(count(*) FILTER (o_custkey IS NULL) AS BIGINT)
               AS v_custkey_notnull,
             CAST(count(*) FILTER (o_orderdate IS NULL
                    OR o_orderdate < TIMESTAMP '1990-01-01'
                    OR o_orderdate >= TIMESTAMP '2010-01-01')
                  AS BIGINT) AS v_orderdate_range
      FROM orders"""


@query(
    "expectations_audit",
    oracle=f"""
    WITH a AS ({_EXPECT_RULES_SQL})
    SELECT r.rule, a.n_rows,
           CASE r.rule
             WHEN 'price_positive' THEN a.v_price_positive
             WHEN 'status_domain' THEN a.v_status_domain
             WHEN 'priority_regex' THEN a.v_priority_regex
             WHEN 'custkey_notnull' THEN a.v_custkey_notnull
             ELSE a.v_orderdate_range END AS n_violations,
           CAST(CASE r.rule
             WHEN 'price_positive' THEN a.v_price_positive
             WHEN 'status_domain' THEN a.v_status_domain
             WHEN 'priority_regex' THEN a.v_priority_regex
             WHEN 'custkey_notnull' THEN a.v_custkey_notnull
             ELSE a.v_orderdate_range END = 0 AS BIGINT) AS passed
    FROM a CROSS JOIN (
      SELECT unnest(['price_positive', 'status_domain',
                     'priority_regex', 'custkey_notnull',
                     'orderdate_range']) AS rule) r
    """,
)
def expectations_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Data-quality expectation suite over the orders table (the
    Great-Expectations / dbt-test shape): five declarative rules —
    positive amount, status domain, priority format regex, key
    not-null, date range — each published as (rule, total rows,
    violation count, passed) so a pipeline gate can block on any
    failed row.  All five rules evaluate in ONE scan as conditional
    counts (map-side combinable); the per-rule rows unpivot off the
    single audit row, so adding a rule costs a column, not a scan.

    Scale: one pass whatever the table size; the violation counts
    are the same counters a 100 TB ingest gate keeps per file to
    quarantine bad partitions (pair with referential_integrity_audit
    for the cross-table rules)."""
    o = t(spark, sf, "orders")
    a = o.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count(
            F.when(
                F.col("o_totalprice").isNull()
                | (F.col("o_totalprice") <= 0),
                1,
            )
        ).cast("long").alias("v_price_positive"),
        F.count(
            F.when(
                F.col("o_orderstatus").isNull()
                | ~F.col("o_orderstatus").isin("O", "F", "P"),
                1,
            )
        ).cast("long").alias("v_status_domain"),
        F.count(
            F.when(
                F.col("o_orderpriority").isNull()
                | ~F.col("o_orderpriority").rlike("^[1-5]-"),
                1,
            )
        ).cast("long").alias("v_priority_regex"),
        F.count(F.when(F.col("o_custkey").isNull(), 1))
        .cast("long")
        .alias("v_custkey_notnull"),
        F.count(
            F.when(
                F.col("o_orderdate").isNull()
                | (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
                | (F.col("o_orderdate") >= F.lit("2010-01-01").cast("timestamp")),
                1,
            )
        ).cast("long").alias("v_orderdate_range"),
    )
    rules = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"), F.col(col).alias("n_violations")
            )
            for name, col in [
                ("price_positive", "v_price_positive"),
                ("status_domain", "v_status_domain"),
                ("priority_regex", "v_priority_regex"),
                ("custkey_notnull", "v_custkey_notnull"),
                ("orderdate_range", "v_orderdate_range"),
            ]
        ]
    )
    return a.select("n_rows", F.explode(rules).alias("r")).select(
        F.col("r.rule").alias("rule"),
        "n_rows",
        F.col("r.n_violations").alias("n_violations"),
        (F.col("r.n_violations") == 0).cast("long").alias("passed"),
    )


_LDIV_L = 3
_BAL_BAND_C = 200_000  # 2000.00-dollar account-balance bands


@query(
    "l_diversity_audit",
    oracle=f"""
    WITH b AS (
      SELECT c_nationkey AS nation, c_mktsegment AS segment,
             CAST(round(c_acctbal * 100) AS BIGINT) // {_BAL_BAND_C}
               AS band
      FROM customer),
    g AS (
      SELECT nation, segment,
             CAST(count(*) AS BIGINT) AS group_size,
             CAST(count(DISTINCT band) AS BIGINT) AS l_distinct
      FROM b GROUP BY 1, 2)
    SELECT nation, segment, group_size, l_distinct,
           CAST(l_distinct < {_LDIV_L} AS BIGINT) AS flagged
    FROM g
    """,
)
def l_diversity_audit(spark: SparkSession, sf: str) -> DataFrame:
    """l-diversity audit — the companion gate to k_anonymity_audit
    (same (nation, segment) quasi-identifier pair): a class can be
    large enough for k-anonymity yet still leak if every member
    shares the same sensitive value, so each class also needs >= l
    DISTINCT sensitive values (Machanavajjhala 2007).  Sensitive
    attribute here is the account-balance BAND (2000-dollar integer
    brackets of exact cents); classes below l = 3 are flagged for
    suppression or band-coarsening before release.

    Scale: one customer scan to a (quasi-id, band) aggregate, then a
    distinct-count per class — both map-side combinable; the audit
    output is class-count-bounded.  Generalization composes exactly
    like the k-audit: re-run on the coarser key or wider band."""
    b = t(spark, sf, "customer").select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.expr(
            f"CAST(round(c_acctbal * 100) AS BIGINT) div {_BAL_BAND_C}"
        ).alias("band"),
    )
    return (
        b.groupBy("nation", "segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("group_size"),
            F.count_distinct("band").cast("long").alias("l_distinct"),
        )
        .withColumn(
            "flagged",
            (F.col("l_distinct") < _LDIV_L).cast("long"),
        )
    )


@query(
    "revenue_wow_change",
    oracle="""
    WITH wk AS (
      SELECT datediff('day', TIMESTAMP '1995-01-01', o_orderdate) // 7
               AS w,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_c,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1)
    SELECT CAST(cur.w AS BIGINT) AS week,
           cur.n_orders, cur.rev_c,
           prv.rev_c AS prev_rev_c,
           cur.rev_c - prv.rev_c AS delta_c,
           CAST(((cur.rev_c - prv.rev_c) * 10000) // prv.rev_c
                AS BIGINT) AS pct_change_e4
    FROM wk cur JOIN wk prv ON prv.w = cur.w - 1
    """,
)
def revenue_wow_change(spark: SparkSession, sf: str) -> DataFrame:
    """Week-over-week revenue change — the BI staple, built
    CALENDAR-SAFE: the previous week comes from an equi-join on
    w − 1, not a row-offset lag(), so a missing week never silently
    compares against the week before it (the lag() form misaligns on
    gaps; this form drops the gap row instead — the honest answer).
    Change is exact basis-point integer ticks off exact cents sums.

    Scale: one orders scan to the calendar-bounded weekly aggregate;
    the self-join runs on the tiny week-keyed table.  Int64: weekly
    cents ~2e12 at the 100x replica, x1e4 well inside range."""
    wk = (
        t(spark, sf, "orders")
        .groupBy(
            F.expr("datediff(o_orderdate, DATE '1995-01-01') div 7")
            .cast("long")
            .alias("w")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rev_c"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
    ).persist()  # week-keyed table: current and previous sides
    cur, prv = wk.alias("cur"), wk.alias("prv")
    return cur.join(
        prv, F.col("prv.w") == F.col("cur.w") - 1
    ).select(
        F.col("cur.w").cast("long").alias("week"),
        F.col("cur.n_orders").alias("n_orders"),
        F.col("cur.rev_c").alias("rev_c"),
        F.col("prv.rev_c").alias("prev_rev_c"),
        (F.col("cur.rev_c") - F.col("prv.rev_c")).alias("delta_c"),
        F.expr(
            "((cur.rev_c - prv.rev_c) * 10000) div prv.rev_c"
        ).cast("long").alias("pct_change_e4"),
    )
